"""End-to-end replicas of the reference's four jobs, on driver testdata.

Each query replays a *whole* reference pipeline — scan(s) → transform →
sink roundtrip — under the FIXTURES.md role mapping (students→customer,
learning_courses→orders, content_access_logs→lineitem, log_app→events),
reproducing the job's output contract column-for-column:

  vdt1_replica  join + project + yyyyMMdd dates → headerless CSV sink →
                explicit-schema read-back          (jobs/vdt1.py:32-47)
  vdt2_replica  agg(sum/3600-style) → filter ≥ 2 → join → top-1 per
                (user, platform) window → desc sort → parquet sink
                roundtrip                           (jobs/vdt2.py:34-63)
  vdt3_replica  modal content per course → join → multi-key sort →
                ORC sink roundtrip                  (jobs/vdt3.py:44-61)
  vdt4_replica  cast-all-double → versioned v0 commit → feature columns
                (id/label/fe1/fe3/fe4) → v1 commit → time-travel v0 →
                vacuum → read v1 back               (jobs/vdt4.py:29-85),
                with LakeRepo standing in for Delta-on-lakeFS

Dates follow the reference's yyyyMMdd int contract (jobs/vdt1.py:6).
Unlike the reference, every window/sort includes a unique tiebreaker so
results are deterministic and oracle-verifiable.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.aggregates import decimal_sum
from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.windows import modal_value_per_group
from manage_versions_of_data_in_data_lake_using_lakefs_spark.runtime import track_path
from manage_versions_of_data_in_data_lake_using_lakefs_spark.sources.io import (
    load_table,
    load_tables,
    read_csv,
    read_orc,
    write_csv,
    write_orc,
)


def _tmp(prefix: str) -> str:
    """A fresh sink path, deleted when the next registry query is built."""
    path = tempfile.mkdtemp(prefix=f"lakegraft_{prefix}_")
    shutil.rmtree(path, ignore_errors=True)
    return track_path(path)


def _yyyymmdd(col: F.Column) -> F.Column:
    return F.date_format(col, "yyyyMMdd").cast("int")


def _enrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """students ⋈ learning_courses (jobs/vdt1.py:41) under the role map:
    customer ⋈ orders, dim broadcast, with the vdt1 output contract's
    six columns (end_date derived deterministically: start + 90 days)."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    j = t["orders"].join(
        F.broadcast(t["customer"].withColumnRenamed("c_custkey", "o_custkey")),
        "o_custkey",
    )
    return j.select(
        F.col("c_name").alias("full_name"),
        F.col("o_custkey").alias("mail_key"),
        F.col("o_orderkey").alias("course_key"),
        F.col("o_orderpriority").alias("platform"),
        _yyyymmdd(F.col("o_orderdate")).alias("start_date"),
        _yyyymmdd(F.date_add(F.col("o_orderdate"), 90)).alias("end_date"),
    )


_SQL_ENROLLED = """
SELECT c.c_name AS full_name,
       o.o_custkey AS mail_key,
       o.o_orderkey AS course_key,
       o.o_orderpriority AS platform,
       CAST(strftime(o.o_orderdate, '%Y%m%d') AS INT) AS start_date,
       CAST(strftime(o.o_orderdate + INTERVAL 90 DAY, '%Y%m%d') AS INT) AS end_date
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
"""


def q_vdt1_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vdt1 whole-pipeline: enrolled-courses listing → headerless CSV sink
    (result_p1_1 contract, jobs/vdt1.py:45-47) → explicit-schema read-back
    proves the sink is lossless."""
    out = _enrolled(spark, sf_dir)
    path = _tmp("vdt1")
    write_csv(out, path, header=False)
    return read_csv(
        spark,
        path,
        header=False,
        schema=(
            "full_name STRING, mail_key BIGINT, course_key BIGINT, "
            "platform STRING, start_date INT, end_date INT"
        ),
    )


ORACLE_VDT1_REPLICA = _SQL_ENROLLED


def q_vdt2_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vdt2 whole-pipeline (jobs/vdt2.py:34-63): per-course total duration
    (exact integer sum / 100 standing in for sum(duration_sec)/3600),
    filter ≥ 2.0, join to enrollments, top-1 per (student, platform),
    desc sort, parquet sink roundtrip (result_p1_4 contract)."""
    li = load_table(spark, sf_dir, "lineitem")
    tot = (
        li.groupBy(F.col("l_orderkey").alias("course_key"))
        .agg((decimal_sum(F.col("l_quantity"), 0) / F.lit(100.0)).alias("tot_duration"))
        .where(F.col("tot_duration") >= F.lit(2.0))
    )
    joined = tot.join(_enrolled(spark, sf_dir), "course_key")
    w = Window.partitionBy("mail_key", "platform").orderBy(
        F.col("tot_duration").desc(), F.col("course_key").asc()
    )
    best = (
        joined.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "full_name", "mail_key", "course_key", "platform",
            "tot_duration", "start_date", "end_date",
        )
        .orderBy(F.col("tot_duration").desc(), F.col("course_key").asc())
    )
    path = _tmp("vdt2")
    best.write.mode("overwrite").parquet(path)  # S8 sink, reference format
    return spark.read.parquet(path)


ORACLE_VDT2_REPLICA = f"""
WITH enrolled AS ({_SQL_ENROLLED}),
tot AS (
    SELECT l_orderkey AS course_key,
           CAST(SUM(CAST(ROUND(l_quantity * 1.0) AS BIGINT)) AS BIGINT) / 100.0 AS tot_duration
    FROM lineitem GROUP BY l_orderkey
    HAVING CAST(SUM(CAST(ROUND(l_quantity * 1.0) AS BIGINT)) AS BIGINT) / 100.0 >= 2.0
),
ranked AS (
    SELECT e.full_name, e.mail_key, t.course_key, e.platform,
           t.tot_duration, e.start_date, e.end_date,
           ROW_NUMBER() OVER (PARTITION BY e.mail_key, e.platform
                              ORDER BY t.tot_duration DESC, t.course_key ASC) AS rn
    FROM tot t JOIN enrolled e USING (course_key)
)
SELECT full_name, mail_key, course_key, platform, tot_duration, start_date, end_date
FROM ranked WHERE rn = 1
"""


def q_vdt3_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vdt3 whole-pipeline (jobs/vdt3.py:44-61): modal content type per
    course (groupBy+window — aggregates before the window instead of the
    reference's count-over-every-row, see operators/windows.py), join to
    courses, platform-asc/start_date-desc sort, ORC sink roundtrip
    (result_p1_5 contract)."""
    li = load_table(spark, sf_dir, "lineitem")
    modal = modal_value_per_group(
        li.withColumnRenamed("l_orderkey", "course_key"),
        ["course_key"],
        "l_returnflag",
        out="main_content",
    )
    out = (
        _enrolled(spark, sf_dir)
        .join(modal, "course_key")
        .select("course_key", "platform", "main_content", "start_date", "end_date")
        .orderBy(F.col("platform").asc(), F.col("start_date").desc(), F.col("course_key").asc())
    )
    path = _tmp("vdt3")
    write_orc(out, path)
    return read_orc(spark, path)


ORACLE_VDT3_REPLICA = f"""
WITH enrolled AS ({_SQL_ENROLLED}),
counts AS (
    SELECT l_orderkey AS course_key, l_returnflag, COUNT(*) AS cnt
    FROM lineitem GROUP BY 1, 2
),
modal AS (
    SELECT course_key, l_returnflag AS main_content FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY course_key
                                     ORDER BY cnt DESC, l_returnflag ASC) AS rn
        FROM counts
    ) WHERE rn = 1
)
SELECT e.course_key, e.platform, m.main_content, e.start_date, e.end_date
FROM enrolled e JOIN modal m USING (course_key)
"""


def q_vdt4_replica(spark: SparkSession, sf_dir: str) -> DataFrame:
    """vdt4 whole-pipeline (jobs/vdt4.py:29-85) with LakeRepo as the
    Delta-on-lakeFS stand-in: cast features to double (v0 commit), add
    id/label/fe1/fe3/fe4 (v1 commit), time-travel back to v0, vacuum, and
    return the v1 read-back. The feature math mirrors the reference:
    id = rank by the target ascending, label = threshold, fe1 = row-mean
    of a column family, fe3 = frequency StringIndexer, fe4 = quartile
    bucket — quantiles stay in-plan (no driver collect, unlike
    jobs/vdt4.py:68) so the whole thing is oracle-verifiable."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning import LakeRepo

    root = _tmp("vdt4repo")
    repo = LakeRepo.init(root)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").cast("double").alias("user_id"),
        F.col("value").cast("double").alias("value"),
        "event_type",
    )
    repo.write_table("main", "log_app", ev)
    c0 = repo.commit("main", "v0: raw casts")

    base = repo.read_table(spark, "log_app", "main")
    ranked = base.withColumn("id", F.rank().over(Window.orderBy(F.col("value").asc())))
    labeled = ranked.withColumn(
        "label", F.when(F.col("value") <= F.lit(50.0), F.lit(0)).otherwise(F.lit(1))
    )
    fam = labeled.withColumn(
        "fe1", (F.col("value") + F.col("user_id") + F.col("event_id")) / F.lit(3)
    )
    freq = fam.groupBy("event_type").agg(F.count(F.lit(1)).alias("_f"))
    mapping = freq.withColumn(
        "fe3",
        F.row_number().over(Window.orderBy(F.col("_f").desc(), F.col("event_type").asc())) - 1,
    ).drop("_f")
    idx = fam.join(F.broadcast(mapping), "event_type")
    qs = base.select(
        F.percentile("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))).alias("q")
    ).select(
        F.col("q")[0].alias("q1"), F.col("q")[1].alias("q2"), F.col("q")[2].alias("q3")
    )
    feats = idx.crossJoin(F.broadcast(qs)).withColumn(
        "fe4",
        F.when(F.col("value") <= F.col("q1"), 1)
        .when(F.col("value") <= F.col("q2"), 2)
        .when(F.col("value") <= F.col("q3"), 3)
        .otherwise(4),
    ).select("event_id", "event_type", "id", "label", "fe1", "fe3", "fe4")
    repo.write_table("main", "log_app", feats)
    repo.commit("main", "v1: features")

    # time travel (V14) + vacuum (V15) — the vdt4 tail (jobs/vdt4.py:80-85)
    assert repo.read_table(
        spark, "log_app", "main", version_as_of=c0.version
    ).columns == ev.columns
    repo.vacuum(keep_history=True, grace_seconds=0)
    return repo.read_table(spark, "log_app", "main")


ORACLE_VDT4_REPLICA = """
WITH ev AS (
    SELECT event_id, CAST(user_id AS DOUBLE) AS user_id,
           CAST(value AS DOUBLE) AS value, event_type
    FROM events
),
ranked AS (SELECT *, CAST(RANK() OVER (ORDER BY value ASC) AS INT) AS id FROM ev),
labeled AS (
    SELECT *, CASE WHEN value <= 50.0 THEN 0 ELSE 1 END AS label,
           (value + user_id + event_id) / 3 AS fe1
    FROM ranked
),
freq AS (SELECT event_type, COUNT(*) AS f FROM ev GROUP BY event_type),
mapping AS (
    SELECT event_type,
           CAST(ROW_NUMBER() OVER (ORDER BY f DESC, event_type ASC) - 1 AS INT) AS fe3
    FROM freq
),
qs AS (
    SELECT quantile_cont(value, 0.25) AS q1,
           quantile_cont(value, 0.50) AS q2,
           quantile_cont(value, 0.75) AS q3
    FROM ev
)
SELECT l.event_id, l.event_type, l.id, l.label, l.fe1, m.fe3,
       CASE WHEN l.value <= qs.q1 THEN 1
            WHEN l.value <= qs.q2 THEN 2
            WHEN l.value <= qs.q3 THEN 3
            ELSE 4 END AS fe4
FROM labeled l JOIN mapping m USING (event_type), qs
"""


REPLICA_QUERIES = {
    "vdt1_replica": q_vdt1_replica,
    "vdt2_replica": q_vdt2_replica,
    "vdt3_replica": q_vdt3_replica,
    "vdt4_replica": q_vdt4_replica,
}

REPLICA_ORACLES = {
    "vdt1_replica": ORACLE_VDT1_REPLICA,
    "vdt2_replica": ORACLE_VDT2_REPLICA,
    "vdt3_replica": ORACLE_VDT3_REPLICA,
    "vdt4_replica": ORACLE_VDT4_REPLICA,
}

"""Metadata-only aggregates (round 8): COUNT/MIN/MAX answered from stats
manifests with zero data reads — plus proof the conservative fallbacks
really fall back."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import LakeRepo
from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL


@pytest.fixture()
def repo(tmp_path):
    return LakeRepo.init(str(tmp_path / "lake"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.col("id") * 2).alias("v"),
        F.when(F.col("id") % 3 == 0, F.col("id")).alias("maybe"),
        F.concat(F.lit("s"), F.col("id")).alias("name"),
    )


def _gut_data_files(repo, keep_dv=False):
    """Delete every parquet data file but keep the stats manifests — any
    query that actually scans will now fail loudly. ``keep_dv`` spares
    the hidden deletion-vector tables' parquet (itself metadata-sized),
    for proving DV-aware aggregates never touch row data."""
    n = 0
    for dirpath, _dirs, files in os.walk(os.path.join(repo.root, "data")):
        if keep_dv and "__dv__" in dirpath:
            continue
        for fn in files:
            if fn.endswith(".parquet"):
                os.unlink(os.path.join(dirpath, fn))
                n += 1
    assert n > 0
    return n


def test_meta_agg_matches_scan_then_answers_without_files(spark, repo):
    repo.write_table("main", "t", _df(spark, 0, 50))
    repo.commit("main", "v1")
    repo.write_table("main", "t", _df(spark, 50, 80), mode="append")
    repo.commit("main", "v2")
    sql = LakeSQL(spark, repo, "main")
    q = (
        "SELECT COUNT(*) AS n, COUNT(maybe) AS n_m, MIN(k) AS mn, "
        "MAX(k) AS mx, MIN(v) AS mnv, MAX(v) AS mxv FROM t"
    )
    got = sql.sql(q).first()
    # ground truth via a real scan
    ref = repo.read_table(spark, "t", "main").agg(
        F.count(F.lit(1)), F.count("maybe"), F.min("k"), F.max("k"), F.min("v"), F.max("v")
    ).first()
    assert tuple(got) == tuple(ref) == (80, 27, 0, 79, 0, 158)
    # the no-scan proof: destroy the data, keep the manifests
    _gut_data_files(repo)
    again = sql.sql(q).first()
    assert tuple(again) == tuple(ref)


def test_meta_agg_conservative_fallbacks_scan(spark, repo):
    """String MIN/MAX, WHERE clauses, and evolved tables must all take
    the scan path — proven by gutting the data files and watching the
    query fail instead of fabricating an answer."""
    repo.write_table("main", "t", _df(spark, 0, 20))
    repo.commit("main", "v1")
    sql = LakeSQL(spark, repo, "main")
    # sanity: these answer correctly while data exists
    assert sql.sql("SELECT MIN(name) AS m FROM t").first().m == "s0"
    assert sql.sql("SELECT COUNT(*) AS n FROM t WHERE k < 5").first().n == 5
    _gut_data_files(repo)
    assert sql.sql("SELECT COUNT(*) AS n FROM t").first().n == 20  # metadata
    with pytest.raises(Exception):  # string bounds may be footer-truncated
        sql.sql("SELECT MIN(name) AS m FROM t").collect()
    with pytest.raises(Exception):  # WHERE needs rows
        sql.sql("SELECT COUNT(*) AS n FROM t WHERE k < 5").collect()


def test_meta_agg_sees_staged_state(spark, repo):
    repo.write_table("main", "t", _df(spark, 0, 10))
    repo.commit("main", "v1")
    repo.write_table("main", "t", _df(spark, 10, 15), mode="append")  # staged
    sql = LakeSQL(spark, repo, "main")
    assert sql.sql("SELECT COUNT(*) AS n FROM t").first().n == 15


def test_meta_agg_dv_count_is_pure_metadata(spark, repo):
    """COUNT(*) on a DV'd table = footer rows − vector cardinality, both
    from manifests — proven by gutting the DATA files (the vector's own
    parquet survives under its hidden table dir, also unread). MIN/MAX
    and COUNT(col) keep declining: the extremum / null-ness of a deleted
    row isn't knowable from (file, pos) positions."""
    repo.write_table("main", "t", _df(spark, 0, 50).repartition(2))
    repo.commit("main", "v1")
    repo.delete_where_dv(spark, "main", "t", "k % 5 = 0")  # 10 rows out
    sql = LakeSQL(spark, repo, "main")
    # matches the anti-joined read while data exists
    assert sql.sql("SELECT COUNT(*) AS n FROM t").first().n == 40
    assert repo.read_table(spark, "t", "main").count() == 40
    # second delete appends to the vector; subtraction stays exact
    repo.delete_where_dv(spark, "main", "t", "k = 1 OR k = 2")
    assert sql.sql("SELECT COUNT(*) AS n FROM t").first().n == 38
    # the no-scan proof: gut ONLY t's data files, keep every manifest
    # and the vector table's parquet
    _gut_data_files(repo, keep_dv=True)
    assert sql.sql("SELECT COUNT(*) AS n FROM t").first().n == 38
    with pytest.raises(Exception):  # MIN/MAX on a DV'd table must scan
        sql.sql("SELECT MIN(k) AS m FROM t").collect()
    with pytest.raises(Exception):  # COUNT(col) too
        sql.sql("SELECT COUNT(maybe) AS m FROM t").collect()


def test_meta_agg_evolved_tables_count_star_only(spark, repo):
    """Stats manifests speak physical names, so column-addressed items
    (MIN/MAX/COUNT(col)) must scan after a rename — but COUNT(*) needs
    only per-file row counts, which rename replay cannot change: it
    stays pure metadata, DV subtraction included (r10)."""
    repo.write_table("main", "t", _df(spark, 0, 10).repartition(2))
    repo.commit("main", "v1")
    repo.alter_rename_column(spark, "main", "t", "k", "kk")
    sql = LakeSQL(spark, repo, "main")
    assert sql.sql("SELECT COUNT(*) AS n, MAX(kk) AS m FROM t").first().m == 9
    # DV delete on the EVOLVED table: the condition binds logical names;
    # COUNT(*) = footer rows − vector cardinality, both from manifests
    repo.delete_where_dv(spark, "main", "t", "kk < 3")
    assert sql.sql("SELECT COUNT(*) AS n FROM t").first().n == 7
    assert repo.read_table(spark, "t", "main").count() == 7  # scan agrees
    # the no-scan proof: gut ONLY t's data files, keep the vector parquet
    _gut_data_files(repo, keep_dv=True)
    assert sql.sql("SELECT COUNT(*) AS n FROM t").first().n == 7
    # column-addressed items still decline to the (now impossible) scan
    with pytest.raises(Exception):
        sql.sql("SELECT MAX(kk) AS m FROM t").collect()
    with pytest.raises(Exception):
        sql.sql("SELECT COUNT(*) AS n, MAX(kk) AS m FROM t").collect()


def test_meta_agg_evolved_count_col_rename_only(spark, repo):
    """r11 (VERDICT r10 #6): COUNT(col) on a schema-evolved table answers
    from manifests when the column's lineage is rename-only — per-era
    physical names probe each file's recorded name list, files predating
    the column contribute zero — proven by gutting the data files.
    ADD-lineage columns and MIN/MAX still scan; manifests without the
    r11 per-file name list answer only what their cols entries prove."""
    import json

    repo.write_table("main", "t", _df(spark, 0, 30).repartition(2))
    repo.commit("main", "v1")
    repo.alter_rename_column(spark, "main", "t", "k", "kk")
    # era-mixed: this append stores the NEW name kk, plus a merge-schema
    # column `bonus` the older files lack entirely
    repo.write_table(
        "main", "t",
        _df(spark, 30, 40)
        .withColumnRenamed("k", "kk")
        .withColumn("bonus", F.col("kk") * 3),
        mode="append",
    )
    repo.commit("main", "v2")
    repo.alter_add_column(spark, "main", "t", "extra", "int")
    sql = LakeSQL(spark, repo, "main")
    q = (
        "SELECT COUNT(*) AS n, COUNT(maybe) AS nm, COUNT(kk) AS nk, "
        "COUNT(bonus) AS nb FROM t"
    )
    got = sql.sql(q).first()
    ref = (
        repo.read_table(spark, "t", "main")
        .agg(F.count(F.lit(1)), F.count("maybe"), F.count("kk"), F.count("bonus"))
        .first()
    )
    assert tuple(got) == tuple(ref) == (40, 14, 40, 10)
    # the no-scan proof: COUNT(col) across a rename (kk: old files store
    # k, the append stores kk), an untouched column (maybe), and an
    # append-introduced column absent from older eras (bonus)
    _gut_data_files(repo)
    assert tuple(sql.sql(q).first()) == (40, 14, 40, 10)
    # case-insensitive addressing (Spark resolution is)
    assert sql.sql("SELECT COUNT(MAYBE) AS nm FROM t").first().nm == 14
    # ADD-lineage columns decline: the read-time cast isn't in footers
    with pytest.raises(Exception):
        sql.sql("SELECT COUNT(extra) AS ne FROM t").collect()
    # MIN/MAX on evolved tables still decline
    with pytest.raises(Exception):
        sql.sql("SELECT MIN(kk) AS m FROM t").collect()
    # a typo'd column must fall to the scan (which raises), never 0
    with pytest.raises(Exception):
        sql.sql("SELECT COUNT(nope) AS x FROM t").collect()
    # legacy manifests (pre-r11, no per-file name list): a column absent
    # from a file is indistinguishable from stripped stats — bonus
    # declines; kk still answers (every era has stats under SOME alias)
    for dirpath, _d, files in os.walk(os.path.join(repo.root, "data")):
        for fn in files:
            if fn == "_stats.json":
                p = os.path.join(dirpath, fn)
                with open(p) as f:
                    man = json.load(f)
                for st in man.get("files", {}).values():
                    st.pop("names", None)
                with open(p, "w") as f:
                    json.dump(man, f)
    assert sql.sql("SELECT COUNT(kk) AS nk FROM t").first().nk == 40
    assert sql.sql("SELECT COUNT(*) AS n FROM t").first().n == 40
    with pytest.raises(Exception):
        sql.sql("SELECT COUNT(bonus) AS nb FROM t").collect()


def test_meta_agg_evolved_count_partition_col_declines_not_undercounts(
    spark, repo
):
    """r11 review: on an evolved table, COUNT(partition_col) where some
    partition VALUE is one the path-stats decline as unrepresentable
    (digits/dashes in a string) must fall to the scan — the name list
    records the key even without stats, so the probe finds the name,
    misses the stats, and declines instead of counting that file as
    zero."""
    df = spark.range(0, 20).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 10, "b").otherwise("a-1").alias("cat"),
    )
    repo.write_table("main", "t", df, partition_by=["cat"])
    repo.commit("main", "v1")
    repo.alter_rename_column(spark, "main", "t", "k", "kk")
    sql = LakeSQL(spark, repo, "main")
    # while data exists the scan answers exactly
    assert sql.sql("SELECT COUNT(cat) AS n FROM t").first().n == 20
    _gut_data_files(repo)
    # COUNT(*) stays metadata; COUNT(cat) must now fail loudly (scan
    # path, files gone) rather than answer 10
    assert sql.sql("SELECT COUNT(*) AS n FROM t").first().n == 20
    with pytest.raises(Exception):
        sql.sql("SELECT COUNT(cat) AS n FROM t").collect()


def test_analyze_table_statistics_spellings(spark, repo):
    """VERDICT r11 #4: ANALYZE TABLE ... COMPUTE STATISTICS. Table form
    returns num_files/size_bytes/row_count; NOSCAN omits row_count
    (Spark's size-only contract); FOR COLUMNS aggregates exactly what
    DESCRIBE STATS lists per-file, zero-scan on clean lineages (proven
    by gutting data files); strings decline to the scan path."""
    repo.write_table("main", "t", _df(spark, 0, 50))
    repo.commit("main", "v1")
    repo.write_table("main", "t", _df(spark, 50, 80), mode="append")
    repo.commit("main", "v2")
    sql = LakeSQL(spark, repo, "main")

    stats = {r.statistic: r.value for r in sql.sql(
        "ANALYZE TABLE t COMPUTE STATISTICS"
    ).collect()}
    assert stats["row_count"] == "80"
    assert int(stats["num_files"]) >= 2
    assert int(stats["size_bytes"]) > 0

    noscan = {r.statistic for r in sql.sql(
        "ANALYZE TABLE t COMPUTE STATISTICS NOSCAN"
    ).collect()}
    assert noscan == {"num_files", "size_bytes"}

    # string column declines manifests (footer bounds may truncate) and
    # scans; numerics answer from manifests
    rows = {r.column: r for r in sql.sql(
        "ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS k, maybe, name"
    ).collect()}
    assert rows["k"].source == "manifests"
    assert (rows["k"].min, rows["k"].max) == ("0", "79")
    assert rows["k"].null_count == 0 and rows["k"].row_count == 80
    assert rows["maybe"].source == "manifests"
    assert rows["maybe"].null_count == 80 - 27  # multiples of 3 in 0..79
    assert rows["name"].source == "scan"
    assert (rows["name"].min, rows["name"].max) == ("s0", "s9")

    # FOR COLUMNS parity with the per-file DESCRIBE STATS listing
    per_file = sql.sql("DESCRIBE STATS t").collect()
    k_rows = [r for r in per_file if r.column == "k"]
    assert min(int(r.min) for r in k_rows) == 0
    assert max(int(r.max) for r in k_rows) == 79
    assert sum(r.null_count for r in k_rows) == 0

    # ALL COLUMNS covers the schema; NOSCAN + columns is rejected
    allc = sql.sql("ANALYZE TABLE t COMPUTE STATISTICS FOR ALL COLUMNS")
    assert {r.column for r in allc.collect()} == {"k", "v", "maybe", "name"}
    with pytest.raises(ValueError, match="NOSCAN"):
        sql.sql("ANALYZE TABLE t COMPUTE STATISTICS NOSCAN FOR COLUMNS k")


def test_analyze_table_zero_scan_and_dv_fallback(spark, repo):
    """The manifest path must not touch data files (gut → still
    answers); a live deletion vector flips column stats to the scan
    path (which then fails loudly on gutted files) while the table-form
    row_count stays metadata-exact (footer rows − DV cardinality)."""
    repo.write_table("main", "t", _df(spark, 0, 40))
    repo.commit("main", "v1")
    sql = LakeSQL(spark, repo, "main")
    _gut_data_files(repo)
    rows = {r.column: r for r in sql.sql(
        "ANALYZE TABLE t COMPUTE STATISTICS FOR COLUMNS k, v"
    ).collect()}
    assert rows["k"].source == "manifests"
    assert (rows["k"].min, rows["k"].max, rows["k"].row_count) == ("0", "39", 40)
    stats = {r.statistic: r.value for r in sql.sql(
        "ANALYZE TABLE t COMPUTE STATISTICS"
    ).collect()}
    assert stats["row_count"] == "40"

    # fresh table with a live DV: row_count subtracts the vector, the
    # column form takes the scan path and reflects the deletion
    repo.write_table("main", "d", _df(spark, 0, 30))
    repo.commit("main", "d1")
    sql.sql(
        "ALTER TABLE d SET TBLPROPERTIES "
        "('delta.enableDeletionVectors' = 'true')"
    )
    sql.sql("DELETE FROM d WHERE k < 5")
    assert repo.current_files("main", "__dv__d"), "DELETE did not DV-route"
    stats = {r.statistic: r.value for r in sql.sql(
        "ANALYZE TABLE d COMPUTE STATISTICS"
    ).collect()}
    assert stats["row_count"] == "25"
    rows = {r.column: r for r in sql.sql(
        "ANALYZE TABLE d COMPUTE STATISTICS FOR COLUMNS k"
    ).collect()}
    assert rows["k"].source == "scan"
    assert (rows["k"].min, rows["k"].max, rows["k"].row_count) == ("5", "29", 25)


def test_meta_count_matches_scan_after_every_vector_writer(spark, repo):
    """The manifest-derived COUNT(*) (footer rows minus vector
    cardinality) against the ``count()`` of a read, after every writer
    that moves a deletion vector, in order: DV DELETE, UPDATE and MERGE
    (matched DELETE/UPDATE, INSERT, BY SOURCE DELETE), a BY SOURCE
    UPDATE, a purge, an auto-materialize and OPTIMIZE."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import DV_PREFIX

    repo.write_table("main", "t", _df(spark, 0, 60).repartition(3))
    repo.write_table("main", "s", _df(spark, 50, 70))
    repo.commit("main", "base")
    sql = LakeSQL(spark, repo, "main", dv_writes=True)
    counts = []

    def check(vectored):
        n = sql.sql("SELECT COUNT(*) AS n FROM t").first().n
        assert n == repo.read_table(spark, "t", "main").count()
        assert (DV_PREFIX + "t" in repo._resolve("main").tables) == vectored
        counts.append(n)

    sql.sql("DELETE FROM t WHERE k < 5")
    check(True)
    sql.sql("UPDATE t SET v = -v WHERE k < 20")
    check(True)
    sql.sql(
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED AND s.k < 53 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.k < 10 THEN DELETE"
    )
    check(True)
    sql.sql(
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE AND t.k < 15 THEN UPDATE SET v = 0"
    )
    check(True)
    repo.purge_deletion_vectors(spark, "main", "t", min_fraction=0.1)
    check(False)  # every vectored file held over 10% of its rows
    repo.dv_materialize_fraction = 0.01
    sql.sql("DELETE FROM t WHERE k = 20")
    assert repo.last_maintenance_commit is not None
    check(False)
    sql.sql("OPTIMIZE t")
    check(False)
    assert counts == [55, 55, 57, 57, 57, 56, 56]

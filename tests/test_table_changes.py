"""Change reads over a version range: the batch change-data feed
(``table_changes`` / ``TABLE_CHANGES_FEED``) and the row-minimal
``TABLE_CHANGES`` TVF and ``LakeRepo.diff``.

The streaming CDC feed is chaos-tested in test_streaming.py; here we
pin the batch relation: fold-to-state equivalence across every change
kind (append, overwrite, DV delete, DV update, compaction skip), range
bracketing, the un-delete and mid-range-ALTER refusals, and vacuumed
-history loudness. The row-minimal spellings are pinned against their
slow twin (whole snapshots diffed by two EXCEPT ALLs, kept here only as
a reference) and by scan guards: they read only unshared files.
"""

from __future__ import annotations

import math
import os
from collections import Counter
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.changes import _files_of, table_changes
from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import DV_PREFIX, LakeRepo
from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL


@pytest.fixture()
def repo(tmp_path):
    return LakeRepo.init(str(tmp_path / "lake"))


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def _fold(rows):
    c = Counter()
    for r in rows:
        c[(r.k, r.v)] += 1 if r._change_type == "insert" else -1
    assert all(n in (0, 1) for n in c.values()), c
    return sorted(kv for kv, n in c.items() if n > 0)


def test_changes_fold_to_snapshot_diff(spark, repo):
    repo.write_table("main", "t", _kv(spark, 0, 10).coalesce(1))
    c1 = repo.commit("main", "v1")
    repo.write_table("main", "t", _kv(spark, 10, 14).coalesce(1), mode="append")
    c2 = repo.commit("main", "v2")
    repo.delete_where_dv(spark, "main", "t", "k < 3")
    c3 = repo.head("main")
    repo.update_where_dv(spark, "main", "t", "k = 12", {"v": "v + 100"})
    c4 = repo.head("main")
    repo.write_table("main", "t", _kv(spark, 50, 53))  # overwrite
    c5 = repo.commit("main", "v5")

    # the whole range folds to the head snapshot
    rows = table_changes(repo, spark, "t", c1.version).collect()
    head = sorted((r.k, r.v) for r in repo.read_table(spark, "t", "main").collect())
    assert _fold(rows) == head == [(50, 100), (51, 102), (52, 104)]

    # a sub-range folds to the snapshot DIFF: state(c4) from state(c1)
    sub = table_changes(repo, spark, "t", c2.version, c4.version).collect()
    c = Counter()
    for r in sub:
        c[(r.k, r.v)] += 1 if r._change_type == "insert" else -1
    state1 = {(k, 2 * k) for k in range(10)}
    folded = Counter({kv: 1 for kv in state1})
    folded.update(c)
    alive = sorted(kv for kv, n in folded.items() if n > 0)
    at4 = sorted(
        (r.k, r.v)
        for r in repo.read_table(spark, "t", "main", version_as_of=c4.version).collect()
    )
    assert alive == at4

    # per-commit attribution: the DV delete emits exactly its rows
    dv_rows = sorted((r.k, r._change_type) for r in rows if r._commit_version == c3.version)
    assert dv_rows == [(0, "delete"), (1, "delete"), (2, "delete")]
    up = sorted((r.k, r.v, r._change_type) for r in rows if r._commit_version == c4.version)
    assert up == [(12, 24, "delete"), (12, 124, "insert")]
    assert {r._commit_version for r in rows} == {
        c1.version, c2.version, c3.version, c4.version, c5.version
    }


def test_changes_skip_compaction_and_empty_range_schema(spark, repo):
    repo.write_table("main", "t", _kv(spark, 0, 8).repartition(4))
    c1 = repo.commit("main", "v1")
    c2 = repo.compact(spark, "main", "t", target_files=1)
    rows = table_changes(repo, spark, "t", c2.version, c2.version).collect()
    assert rows == []  # data_change=false emits nothing, schema intact
    df = table_changes(repo, spark, "t", c2.version, c2.version)
    assert df.columns == ["k", "v", "_change_type", "_commit_version"]
    # and the full range still folds to head THROUGH the compaction
    assert _fold(table_changes(repo, spark, "t", c1.version).collect()) == [
        (k, 2 * k) for k in range(8)
    ]


def test_changes_refuses_undelete_and_midrange_alter(spark, repo):
    repo.write_table("main", "t", _kv(spark, 0, 6))
    c1 = repo.commit("main", "v1")
    repo.delete_where_dv(spark, "main", "t", "k = 0")
    repo.restore_table("main", "t", c1.version)  # un-delete
    with pytest.raises(ValueError, match="un-delete"):
        table_changes(repo, spark, "t", c1.version).collect()
    repo.alter_rename_column(spark, "main", "t", "v", "vv")
    with pytest.raises(NotImplementedError, match="schema mapping changed"):
        table_changes(repo, spark, "t", c1.version)
    # a post-ALTER range works, names bound logically
    c_alt = repo.head("main")
    repo.write_table(
        "main", "t",
        spark.range(90, 92).select(
            F.col("id").alias("k"), F.lit(7).cast("long").alias("vv")
        ),
        mode="append",
    )
    repo.commit("main", "append post-alter")
    got = table_changes(repo, spark, "t", c_alt.version + 1).collect()
    assert sorted((r.k, r.vv, r._change_type) for r in got) == [
        (90, 7, "insert"), (91, 7, "insert")
    ]


def test_changes_partitioned_table_keeps_partition_columns(spark, repo):
    """Hive-partitioned entries route through per-group basePath reads,
    so the path-encoded partition column survives into the feed."""
    df = spark.range(0, 12).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p"), (F.col("id") * 2).alias("v")
    )
    repo.write_table("main", "t", df, partition_by=["p"])
    c1 = repo.commit("main", "v1")
    repo.delete_where_dv(spark, "main", "t", "k = 4")
    rows = table_changes(repo, spark, "t", c1.version).collect()
    assert {r.p for r in rows if r._change_type == "insert"} == {0, 1, 2}
    deletes = [(r.k, r.p) for r in rows if r._change_type == "delete"]
    assert deletes == [(4, 1)]
    alive = sorted(r.k for r in rows if r._change_type == "insert")
    assert alive == list(range(12))


def test_changes_feed_sql_tvf(spark, repo):
    """TABLE_CHANGES_FEED(t, v1[, v2]) surfaces the batch feed in SQL,
    side by side with the row-minimal TABLE_CHANGES TVF."""
    repo.write_table("main", "t", _kv(spark, 0, 6).coalesce(1))
    c1 = repo.commit("main", "v1")
    repo.delete_where_dv(spark, "main", "t", "k < 2")
    sql = LakeSQL(spark, repo, "main")
    got = sql.sql(
        f"SELECT _change_type, COUNT(*) AS n "
        f"FROM TABLE_CHANGES_FEED(t, {c1.version}) "
        f"GROUP BY _change_type ORDER BY _change_type"
    ).collect()
    assert [(r._change_type, r.n) for r in got] == [("delete", 2), ("insert", 6)]
    # the row-minimal TVF agrees on this history (no rewrites involved)
    got2 = sql.sql(
        f"SELECT _change_type, COUNT(*) AS n FROM TABLE_CHANGES(t, {c1.version}) "
        f"GROUP BY _change_type ORDER BY _change_type"
    ).collect()
    assert [(r._change_type, r.n) for r in got2] == [("delete", 2), ("insert", 6)]


def test_changes_vacuumed_history_is_loud(spark, repo):
    repo.write_table("main", "t", _kv(spark, 0, 5))
    c1 = repo.commit("main", "v1")
    repo.write_table("main", "t", _kv(spark, 5, 8))  # overwrite drops v1 files
    repo.commit("main", "v2")
    repo.vacuum(keep_history=False, grace_seconds=0)
    with pytest.raises(FileNotFoundError, match="vacuum"):
        table_changes(repo, spark, "t", c1.version).collect()


# -- row-minimal TABLE_CHANGES and LakeRepo.diff -----------------------------


def _bag(rows) -> Counter:
    """A multiset of row tuples; NaN made comparable (NaN != NaN)."""
    return Counter(
        tuple("NaN" if isinstance(x, float) and math.isnan(x) else x for x in r)
        for r in rows
    )


def _outcome(fn):
    """The multiset ``fn`` collects, or the class of what it raised."""
    try:
        return _bag(fn())
    except Exception as e:  # compared by class with the reference's
        return type(e)


def _snapshot_diff(repo, spark, table, a, b):
    """The slow twin: both snapshots read whole and diffed by two EXCEPT
    ALLs, tagged like TABLE_CHANGES (a missing table reads as absent)."""

    def snap(c):
        try:
            return repo.read_table(spark, table, c.id) if c else None
        except KeyError:
            return None

    prev, cur = snap(a), snap(b)
    if prev is None and cur is None:
        return []
    if prev is None:
        return cur.withColumn("_change_type", F.lit("insert")).collect()
    if cur is None:
        return prev.withColumn("_change_type", F.lit("delete")).collect()
    return (
        cur.exceptAll(prev).withColumn("_change_type", F.lit("insert"))
        .unionByName(prev.exceptAll(cur).withColumn("_change_type", F.lit("delete")))
        .collect()
    )


def _old_diff(repo, spark, table, a, b):
    """The slow twin of ``LakeRepo.diff``."""
    da = repo.read_table(spark, table, a.id)
    db = repo.read_table(spark, table, b.id)
    return (
        da.exceptAll(db).withColumn("__change", F.lit("removed"))
        .unionByName(db.exceptAll(da).withColumn("__change", F.lit("added")))
        .collect()
    )


def _assert_every_commit_matches_reference(spark, repo, lsql, table):
    """Per version on main's first-parent line: TABLE_CHANGES(t, v, v)
    and ``repo.diff(parent, commit)`` equal the snapshot diff — same
    rows as a multiset, or the same exception class."""
    log = repo.log("main", limit=None)
    seen = []
    for c in log[:-1]:  # the root commit has no parent
        parent = repo.get_commit(c.parents[0])

        def tvf():
            rows = lsql.sql(f"SELECT * FROM TABLE_CHANGES({table}, {c.version}, {c.version})").collect()
            assert {r._commit_version for r in rows} <= {c.version}
            return [r[:-1] for r in rows]

        want = _outcome(lambda: _snapshot_diff(repo, spark, table, parent, c))
        assert _outcome(tvf) == want, (c.version, c.message)
        if table in parent.tables and table in c.tables:
            tag = {"added": "insert", "removed": "delete"}

            def tagged(rows):
                return [(*r[:-1], tag[r[-1]]) for r in rows]

            got = _outcome(lambda: tagged(repo.diff(spark, table, parent.id, c.id).collect()))
            want_diff = _outcome(lambda: tagged(_old_diff(repo, spark, table, parent, c)))
            assert got == want_diff, (c.version, c.message)
        seen.append(want)
    return seen


def test_row_changes_match_snapshot_diff_copy_on_write(spark, repo):
    """Copy-on-write DML, OPTIMIZE (plain and WHERE), RESTORE, duplicate
    rows, NULL/NaN payloads and an ADD/RENAME COLUMN boundary."""
    lsql = LakeSQL(spark, repo, "main")
    rows = [(1, "a", 1.0), (1, "a", 1.0), (2, None, float("nan")), (3, "c", None)]
    repo.write_table(
        "main", "t", spark.createDataFrame(rows, "k INT, v STRING, x DOUBLE").coalesce(1)
    )
    repo.commit("main", "seed")
    v_ins = lsql.sql(
        "INSERT INTO t VALUES (10, 'x', 0.5), (10, 'x', 0.5), (11, NULL, CAST('NaN' AS DOUBLE))"
    ).first().version
    lsql.sql("INSERT INTO t VALUES (20, 'y', -0.0), (21, 'y', 2.0)")
    lsql.sql("DELETE FROM t WHERE k = 10")
    lsql.sql("UPDATE t SET v = 'u' WHERE k = 1")
    lsql.sql(
        "MERGE INTO t USING (SELECT 2 AS k, 'm' AS v, CAST(2.5 AS DOUBLE) AS x "
        "UNION ALL SELECT 30, 'n', CAST(NULL AS DOUBLE)) s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v WHEN NOT MATCHED THEN INSERT *"
    )
    lsql.sql("OPTIMIZE t WHERE k >= 20")
    lsql.sql("OPTIMIZE t")
    lsql.sql(f"RESTORE TABLE t TO VERSION AS OF {v_ins}")
    lsql.sql("ALTER TABLE t ADD COLUMNS (y INT)")
    lsql.sql("INSERT INTO t VALUES (40, 'p', 1.5, 7)")
    lsql.sql("ALTER TABLE t RENAME COLUMN v TO vv")
    lsql.sql("UPDATE t SET vv = 'q' WHERE k = 40")
    seen = _assert_every_commit_matches_reference(spark, repo, lsql, "t")
    # the script exercised what it claims: multiset counts, empty
    # rearrangements and both ALTER boundaries raising
    assert any(isinstance(w, Counter) and 2 in w.values() for w in seen)
    assert sum(w == Counter() for w in seen) >= 2
    assert sum(isinstance(w, type) for w in seen) == 2


def test_row_changes_match_snapshot_diff_deletion_vectors(spark, repo):
    """Deletion-vector DELETE and UPDATE, and RESTORE to a pre-vector
    version: revoked rows come back as inserts, alone and mixed with a
    removed file."""
    lsql = LakeSQL(spark, repo, "main", dv_writes=True)
    repo.write_table(
        "main", "d",
        _kv(spark, 0, 40).unionByName(_kv(spark, 5, 7)).repartition(3),
    )
    v1 = repo.commit("main", "seed").version
    lsql.sql("DELETE FROM d WHERE k < 2")
    lsql.sql(f"RESTORE TABLE d TO VERSION AS OF {v1}")
    lsql.sql("DELETE FROM d WHERE k = 5 OR k = 30")
    lsql.sql("UPDATE d SET v = v + 1 WHERE k = 6")
    assert DV_PREFIX + "d" in repo.head("main").tables
    lsql.sql(f"RESTORE TABLE d TO VERSION AS OF {v1}")
    seen = _assert_every_commit_matches_reference(spark, repo, lsql, "d")
    # newest first: the last RESTORE revokes five positions and removes
    # the update's appended file; the first one only revokes
    assert sorted(seen[0].elements()) == [
        (5, 10, "insert"), (5, 10, "insert"), (6, 12, "insert"), (6, 12, "insert"),
        (6, 13, "delete"), (6, 13, "delete"), (30, 60, "insert"),
    ]
    assert sorted(seen[3].elements()) == [(0, 0, "insert"), (1, 2, "insert")]


def test_table_changes_uses_the_first_parent_predecessor(spark, repo):
    """A version is diffed against its own first parent, never against
    the global version before it, which may sit on another branch."""
    repo.write_table("main", "t", spark.createDataFrame([(1, "a"), (2, "b")], "id INT, val STRING"))
    v1 = repo.commit("main", "v1").version
    lsql = LakeSQL(spark, repo)
    lsql.sql("CREATE BRANCH dev")
    dev = LakeSQL(spark, repo, "dev")
    v2 = dev.sql("INSERT INTO t VALUES (9, 'z')").first().version
    v3 = lsql.sql("INSERT INTO t VALUES (3, 'c')").first().version
    assert v1 < v2 < v3

    def changes(a, b):
        return sorted(
            (r.id, r.val, r._change_type, r._commit_version)
            for r in lsql.sql(f"SELECT * FROM TABLE_CHANGES(t, {a}, {b})").collect()
        )

    assert changes(v3, v3) == [(3, "c", "insert", v3)]
    assert changes(v1, v3) == [
        (1, "a", "insert", v1), (2, "b", "insert", v1), (3, "c", "insert", v3)
    ]
    assert changes(v2, v2) == []
    assert [(r.id, r._change_type) for r in dev.sql(f"SELECT * FROM TABLE_CHANGES(t, {v2})").collect()] == [
        (9, "insert")
    ]


def _files(repo, entries):
    return {os.path.join(repo.root, f) for f in _files_of(repo.root, entries)}


def test_table_changes_reads_only_the_appended_file(spark, repo):
    """Scan guard: after a one-file append the TVF scans exactly the
    appended file, with no shuffle."""
    repo.write_table("main", "t", _kv(spark, 0, 400).repartition(4))
    c1 = repo.commit("main", "v1")
    repo.write_table("main", "t", _kv(spark, 400, 410).coalesce(1), mode="append")
    c2 = repo.commit("main", "append")
    added = _files(repo, [e for e in c2.tables["t"] if e not in c1.tables["t"]])
    assert len(added) == 1
    df = LakeSQL(spark, repo, "main").sql(f"SELECT * FROM TABLE_CHANGES(t, {c2.version}, {c2.version})")
    assert {urlparse(f).path for f in df.inputFiles()} == added
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.k for r in df.collect()) == list(range(400, 410))
    # repo.diff takes the same path
    d = repo.diff(spark, "t", c1.id, c2.id)
    assert {urlparse(f).path for f in d.inputFiles()} == added


def test_table_changes_over_untouched_commits_runs_no_job(spark, repo):
    """Scan guard: commits that never touched the table cost no Spark
    job, however large the table."""
    repo.write_table("main", "t", _kv(spark, 0, 400).repartition(4))
    repo.commit("main", "t")
    repo.write_table("main", "u", _kv(spark, 0, 5))
    a = repo.commit("main", "u1").version
    repo.write_table("main", "u", _kv(spark, 5, 9), mode="append")
    b = repo.commit("main", "u2").version
    lsql = LakeSQL(spark, repo, "main")
    sc = spark.sparkContext
    sc.setJobGroup("untouched-range", "TABLE_CHANGES over untouched commits")
    try:
        rows = lsql.sql(f"SELECT * FROM TABLE_CHANGES(t, {a}, {b})").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows == []
    assert list(sc.statusTracker().getJobIdsForGroup("untouched-range")) == []

"""Deletion vectors (round 8): metadata-sized row-level DELETE.

delete_where_dv records (file, position) pairs in a hidden companion
table instead of rewriting stats-positive files; reads anti-join them
away. These tests pin: zero files rewritten, exact read parity with a
plain filter, time travel, append-only vector growth, the
overwrite/OPTIMIZE materialization rule, snapshot hygiene (hidden from
list_tables/SQL, reserved names guarded, vacuum-safe), the
metadata-aggregate decline, and the streaming contract in both modes —
including the fold-correctness case where a DV delete precedes a full
overwrite (deletes must not double-count).
"""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import (
    DV_PREFIX,
    DirtyBranchError,
    LakeRepo,
)


@pytest.fixture()
def repo(tmp_path):
    return LakeRepo.init(str(tmp_path / "lake"))


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def test_dv_delete_rewrites_nothing_and_reads_exactly(spark, repo):
    repo.write_table("main", "t", _kv(spark, 0, 100).repartition(4))
    c1 = repo.commit("main", "v1")
    before = set(repo.current_files("main", "t"))
    repo.delete_where_dv(spark, "main", "t", "k % 10 = 0")
    assert set(repo.current_files("main", "t")) == before  # zero rewrites
    got = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert got == [i for i in range(100) if i % 10]
    # pre-delete snapshot intact
    assert repo.read_table(spark, "t", "main", version_as_of=c1.version).count() == 100
    # second delete appends to the vector; already-deleted rows not re-added
    repo.delete_where_dv(spark, "main", "t", "k % 7 = 0")
    got2 = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert got2 == [i for i in range(100) if i % 10 and i % 7]
    # the vector never duplicates: 10 rows for k%10, then only the 13
    # multiples of 7 not already deleted (0 and 70 are excluded)
    dv = repo._read_files(spark, repo.current_files("main", DV_PREFIX + "t"))
    assert dv.count() == dv.distinct().count() == 23


def test_dv_hidden_from_surfaces_and_guarded(spark, repo):
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 30))
    repo.commit("main", "v1")
    repo.delete_where_dv(spark, "main", "t", "k < 10")
    assert repo.list_tables("main") == ["t"]
    sql = LakeSQL(spark, repo, "main")
    # SQL reads apply the vector; metadata aggregates DECLINE (footer
    # stats over-count) and the scan path gives the true answer
    assert sql.sql("SELECT COUNT(*) AS n FROM t").first().n == 20
    assert sql.sql("SELECT MIN(k) AS m FROM t").first().m == 10
    with pytest.raises(ValueError, match="reserved"):
        repo.write_table("main", "__dv__x", _kv(spark, 0, 3))
    repo.write_table("main", "u", _kv(spark, 0, 3))  # dirty branch
    with pytest.raises(DirtyBranchError):
        repo.delete_where_dv(spark, "main", "t", "k = 11")


def test_dv_overwrite_and_drop_materialize_away(spark, repo):
    repo.write_table("main", "t", _kv(spark, 0, 40).repartition(2))
    repo.commit("main", "v1")
    repo.delete_where_dv(spark, "main", "t", "k >= 30")
    # OPTIMIZE reads the DV-applied table and clears the vector
    repo.compact(spark, "main", "t", target_files=1)
    assert DV_PREFIX + "t" not in repo._resolve("main").tables
    assert repo.read_table(spark, "t", "main").count() == 30
    # drop clears too
    repo.delete_where_dv(spark, "main", "t", "k = 0")
    repo.remove_table("main", "t")
    repo.commit("main", "dropped")
    assert DV_PREFIX + "t" not in repo._resolve("main").tables


def test_dv_on_evolved_tables_binds_logical_names(spark, repo):
    """r9: an ALTERed table no longer loses the zero-rewrite DELETE —
    the condition binds the LOGICAL schema via the same rename-replay
    the read path uses, while recorded positions stay physical."""
    repo.write_table("main", "t", _kv(spark, 0, 10).repartition(2))
    c1 = repo.commit("main", "v1")
    repo.alter_rename_column(spark, "main", "t", "v", "vv")
    before = set(repo.current_files("main", "t"))
    repo.delete_where_dv(spark, "main", "t", "vv >= 14")  # logical name
    assert set(repo.current_files("main", "t")) == before  # zero rewrites
    got = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert got == list(range(7))
    # era-mixed: append under the NEW name, delete across both eras
    repo.write_table(
        "main", "t",
        spark.range(20, 24).select(F.col("id").alias("k"), (F.col("id") * 2).alias("vv")),
        mode="append",
    )
    repo.commit("main", "new-era append")
    repo.delete_where_dv(spark, "main", "t", "k = 2 OR k = 21")
    got2 = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert got2 == [0, 1, 3, 4, 5, 6, 20, 22, 23]
    # time travel unaffected
    assert repo.read_table(spark, "t", "main", version_as_of=c1.version).count() == 10
    # the condition can even reference a GENERATED column
    repo.alter_add_generated_column(spark, "main", "t", "k3", "bigint", "k * 3")
    repo.delete_where_dv(spark, "main", "t", "k3 = 9")
    got3 = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert got3 == [0, 1, 4, 5, 6, 20, 22, 23]


def test_dv_vacuum_keeps_vector_files(spark, repo):
    repo.write_table("main", "t", _kv(spark, 0, 20))
    repo.commit("main", "v1")
    repo.delete_where_dv(spark, "main", "t", "k < 5")
    removed = repo.vacuum(keep_history=True, grace_seconds=0)
    assert removed == []
    assert sorted(r.k for r in repo.read_table(spark, "t", "main").collect()) == list(
        range(5, 20)
    )


@pytest.mark.slow
def test_dv_append_stream_raises_unless_ignored(spark, repo):
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.streaming.source import stream_table_from_repo

    repo.write_table("main", "t", _kv(spark, 0, 10))
    repo.commit("main", "v1")
    repo.delete_where_dv(spark, "main", "t", "k < 3")

    def drain(**kw):
        name = f"dv_{uuid.uuid4().hex[:8]}"
        q = (
            stream_table_from_repo(spark, repo.root, "t", **kw)
            .writeStream.format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r.k for r in spark.table(name).collect())

    with pytest.raises(Exception, match="deletion vector|STREAM_FAILED"):
        drain()
    # ignoreChanges: deletions skipped, additions flow (over-delivery,
    # the documented contract)
    assert drain(ignore_changes=True) == list(range(10))


def test_dv_cdc_folds_to_head_across_overwrite(spark, repo):
    """The double-delete regression case: insert 0..19, DV-delete 5 rows,
    then OVERWRITE the table. The overwrite's delete rows must exclude
    the already-vectored positions or the fold goes negative."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.streaming.source import stream_table_from_repo

    repo.write_table("main", "t", _kv(spark, 0, 20).repartition(2))
    repo.commit("main", "v1")
    c_dv = repo.delete_where_dv(spark, "main", "t", "k < 5")
    repo.write_table("main", "t", _kv(spark, 100, 104))
    repo.commit("main", "overwrite")

    name = f"dvc_{uuid.uuid4().hex[:8]}"
    q = (
        stream_table_from_repo(spark, repo.root, "t", cdc=True)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(name).collect()
    # the DV commit emits exactly the vectored rows as deletes
    dv_deletes = sorted(
        r.k for r in rows if r._commit_version == c_dv.version
    )
    assert dv_deletes == [0, 1, 2, 3, 4]
    assert all(
        r._change_type == "delete" for r in rows if r._commit_version == c_dv.version
    )
    # fold: inserts minus deletes per row == head
    from collections import Counter

    fold = Counter()
    for r in rows:
        fold[(r.k, r.v)] += 1 if r._change_type == "insert" else -1
    alive = sorted(k for (k, _v), n in fold.items() if n > 0)
    assert all(n in (0, 1) for n in fold.values()), fold
    head = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert alive == head == [100, 101, 102, 103]


def test_dv_pruned_dml_falls_back_to_full_rewrite(spark, repo):
    """Review-reproduced bug: the pruned DELETE read candidates raw and
    its overwrite dropped the vector, resurrecting DV-deleted rows. A
    live vector now disqualifies the pruned path — the full rewrite
    reads DV-applied and materializes the deletions."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 10).coalesce(1), mode="append")
    repo.write_table("main", "t", _kv(spark, 100, 110).coalesce(1), mode="append")
    repo.commit("main", "two bands")
    repo.delete_where_dv(spark, "main", "t", "k = 0")
    LakeSQL(spark, repo, "main").sql("DELETE FROM t WHERE k = 105")
    got = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert 0 not in got and 105 not in got
    assert got == [i for i in range(1, 10)] + [i for i in range(100, 110) if i != 105]
    # the rewrite materialized the vector away
    assert DV_PREFIX + "t" not in repo._resolve("main").tables
    # UPDATE path takes the same fallback
    repo.delete_where_dv(spark, "main", "t", "k = 1")
    LakeSQL(spark, repo, "main").sql("UPDATE t SET v = 0 WHERE k = 106")
    got2 = {r.k: r.v for r in repo.read_table(spark, "t", "main").collect()}
    assert 1 not in got2 and got2[106] == 0


def test_dv_restore_table_restores_the_vector_too(spark, repo):
    """Review-reproduced bug: RESTORE staged only the file list. Both
    directions: restoring to a pre-vector version must undelete, and
    restoring to a vectored version must re-apply its deletions."""
    repo.write_table("main", "t", _kv(spark, 0, 20))
    c1 = repo.commit("main", "v1")
    c2 = repo.delete_where_dv(spark, "main", "t", "k < 5")
    repo.restore_table("main", "t", c1.version)
    assert repo.read_table(spark, "t", "main").count() == 20
    repo.restore_table("main", "t", c2.version)
    assert sorted(r.k for r in repo.read_table(spark, "t", "main").collect()) == list(
        range(5, 20)
    )


def test_dv_row_merge_does_not_resurrect(spark, repo):
    """Review-reproduced bug: the row-level merge read all three sides
    raw and left a stale staged vector drop behind."""
    repo.write_table("main", "t", _kv(spark, 0, 10))
    repo.commit("main", "base")
    repo.delete_where_dv(spark, "main", "t", "k = 0")
    repo.create_branch("dev", "main")
    repo.write_table(
        "dev", "t",
        _kv(spark, 0, 10).where("k <> 0").unionByName(_kv(spark, 50, 52)),
    )
    repo.commit("dev", "dev adds 50,51")
    repo.write_table(
        "main", "t",
        _kv(spark, 0, 10).where("k <> 0").withColumn("v", F.col("k") * 3),
    )
    repo.commit("main", "main reprices")
    repo.merge(spark, "dev", "main", keys={"t": ["k"]}, on_conflict="dest")
    got = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert 0 not in got
    assert got == list(range(1, 10)) + [50, 51]
    assert not repo.status("main"), repo.status("main")  # no stale staged


def test_dv_merge_rewrite_vs_vector_conflicts_then_keys_resolve(spark, repo):
    """Advisor-reproduced HIGH bug: table-level merge classified t and
    __dv__t independently, so compact-on-dev + DV-delete-on-main merged
    dev's rewritten files WITH main's vector — whose (file, pos) refs
    point at the replaced files, resurrecting the deleted rows and
    leaving a stale vector. Must conflict under the PARENT table's name;
    keys= resolves via row merge, materializing the deletions."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import MergeConflict

    repo.write_table("main", "t", _kv(spark, 0, 10).repartition(2))
    repo.commit("main", "base")
    repo.create_branch("dev", "main")
    repo.delete_where_dv(spark, "main", "t", "k < 3")
    repo.compact(spark, "dev", "t", target_files=1)
    with pytest.raises(MergeConflict) as ei:
        repo.merge(spark, "dev", "main")
    assert "'t'" in str(ei.value) and DV_PREFIX not in str(ei.value)
    repo.merge(spark, "dev", "main", keys={"t": ["k"]})
    got = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert got == list(range(3, 10))
    assert DV_PREFIX + "t" not in repo._resolve("main").tables  # no stale vector


def test_dv_merge_both_sides_delete_unions_vectors(spark, repo):
    """Both branches DV-delete different rows of the same (unchanged)
    file set: well-defined — the merged vector is the distinct union;
    no conflict, and the hidden name never surfaces."""
    repo.write_table("main", "t", _kv(spark, 0, 10).repartition(2))
    repo.commit("main", "base")
    repo.create_branch("dev", "main")
    repo.delete_where_dv(spark, "main", "t", "k = 1 OR k = 3")
    repo.delete_where_dv(spark, "dev", "t", "k = 3 OR k = 5")  # overlap on 3
    repo.merge(spark, "dev", "main")
    got = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert got == [0, 2, 4, 6, 7, 8, 9]
    dv = repo._read_files(spark, repo.current_files("main", DV_PREFIX + "t"))
    assert dv.count() == dv.distinct().count() == 3  # deduped on (file,pos)


def test_dv_merge_append_plus_vector_auto_resolves(spark, repo):
    """Append on one side + DV-delete on the other is safe by design:
    every base file survives the append, so every vector reference
    still resolves in the merged snapshot."""
    repo.write_table("main", "t", _kv(spark, 0, 10).repartition(2))
    repo.commit("main", "base")
    repo.create_branch("dev", "main")
    repo.delete_where_dv(spark, "main", "t", "k < 3")
    repo.write_table("dev", "t", _kv(spark, 50, 53), mode="append")
    repo.commit("dev", "append")
    repo.merge(spark, "dev", "main")
    got = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert got == list(range(3, 10)) + [50, 51, 52]
    # and the mirror direction: vector change rides INTO an appended dest
    repo.create_branch("dev2", "main")
    repo.delete_where_dv(spark, "dev2", "t", "k = 9")
    repo.write_table("main", "t", _kv(spark, 60, 62), mode="append")
    repo.commit("main", "append2")
    repo.merge(spark, "dev2", "main")
    got2 = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert got2 == list(range(3, 9)) + [50, 51, 52, 60, 61]


def test_dv_merge_undelete_vs_delete_conflicts(spark, repo):
    """Restore-to-pre-vector (un-delete) on one side vs a further DV
    delete on the other: opposing intents — conflict, surfaced under
    the parent table's name; and the advertised keys= remediation must
    actually work (review-found dead end: the conflict branch preceded
    the row-merge branch)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import MergeConflict

    repo.write_table("main", "t", _kv(spark, 0, 10).repartition(2))
    c1 = repo.commit("main", "base")
    repo.delete_where_dv(spark, "main", "t", "k = 0")
    repo.create_branch("dev", "main")
    repo.delete_where_dv(spark, "dev", "t", "k = 5")
    repo.restore_table("main", "t", c1.version)
    with pytest.raises(MergeConflict) as ei:
        repo.merge(spark, "dev", "main")
    assert DV_PREFIX not in str(ei.value)
    # keys= resolves: per-row three-way, source's delete of 5 rides in,
    # dest's un-delete of 0 wins over the base state
    repo.merge(spark, "dev", "main", keys={"t": ["k"]})
    got = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert got == [0, 1, 2, 3, 4, 6, 7, 8, 9]
    assert DV_PREFIX + "t" not in repo._resolve("main").tables


def test_dv_merge_drop_vs_vector_is_clean_conflict(spark, repo):
    """Review-found crash: one side DROPS the table while the other
    DV-deletes rows — the append-containment check evaluated set(None).
    Must be a clean MergeConflict under the parent name, not TypeError."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import MergeConflict

    repo.write_table("main", "t", _kv(spark, 0, 10))
    repo.commit("main", "base")
    repo.create_branch("dev", "main")
    repo.remove_table("dev", "t")
    repo.commit("dev", "drop t")
    repo.delete_where_dv(spark, "main", "t", "k = 3")
    with pytest.raises(MergeConflict) as ei:
        repo.merge(spark, "dev", "main")
    assert "'t'" in str(ei.value) and DV_PREFIX not in str(ei.value)


def test_dv_merge_constraint_check_applies_adopted_vector(spark, repo):
    """Advisor LOW: the merge-time CHECK scan read adopted files raw, so
    already-DV-deleted rows could spuriously violate a constraint active
    after the merge and abort a valid merge."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 10).repartition(2))
    repo.commit("main", "base")
    repo.create_branch("dev", "main")
    repo.write_table("dev", "t", _kv(spark, 100, 102), mode="append")
    repo.commit("dev", "append")
    repo.delete_where_dv(spark, "dev", "t", "k >= 8 AND k < 100")
    LakeSQL(spark, repo, "dev").sql(
        "ALTER TABLE t ADD CONSTRAINT band CHECK (k < 8 OR k >= 100)"
    )
    repo.merge(spark, "dev", "main")  # must not false-positive on 8,9
    got = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert got == list(range(8)) + [100, 101]


def test_dv_update_rewrites_nothing_and_reads_exactly(spark, repo):
    """r9 update_where_dv: matched positions join the vector, updated
    images append — existing files untouched, one atomic commit."""
    repo.write_table("main", "t", _kv(spark, 0, 40).repartition(2))
    c1 = repo.commit("main", "v1")
    before = set(repo.current_files("main", "t"))
    repo.update_where_dv(spark, "main", "t", "k % 10 = 3", {"v": "v + 1000"})
    after = set(repo.current_files("main", "t"))
    assert before < after and len(after - before) == 1  # append-only
    got = {r.k: r.v for r in repo.read_table(spark, "t", "main").collect()}
    assert len(got) == 40
    assert all(got[k] == 2 * k + (1000 if k % 10 == 3 else 0) for k in range(40))
    # time travel pre-update intact
    old = {r.k: r.v for r in repo.read_table(spark, "t", "main", version_as_of=c1.version).collect()}
    assert all(old[k] == 2 * k for k in range(40))
    # a second update may hit already-updated rows (their new images)
    repo.update_where_dv(spark, "main", "t", "k = 3", {"v": "v * 2"})
    got2 = {r.k: r.v for r in repo.read_table(spark, "t", "main").collect()}
    assert got2[3] == (6 + 1000) * 2 and len(got2) == 40
    # vector holds one position per updated row occurrence, no dups
    dv = repo._read_files(spark, repo.current_files("main", DV_PREFIX + "t"))
    assert dv.count() == dv.distinct().count() == 5


def test_dv_update_evolved_and_generated_guard(spark, repo):
    repo.write_table("main", "t", _kv(spark, 0, 10))
    repo.commit("main", "v1")
    repo.alter_rename_column(spark, "main", "t", "v", "vv")
    repo.alter_add_generated_column(spark, "main", "t", "k2", "bigint", "k * 2")
    with pytest.raises(ValueError, match="GENERATED"):
        repo.update_where_dv(spark, "main", "t", "k = 1", {"k2": "0"})
    with pytest.raises(ValueError, match="not in"):
        repo.update_where_dv(spark, "main", "t", "k = 1", {"nope": "0"})
    repo.update_where_dv(spark, "main", "t", "k2 = 8", {"vv": "vv + 7"})  # k=4
    got = {r.k: (r.vv, r.k2) for r in repo.read_table(spark, "t", "main").collect()}
    assert got[4] == (15, 8) and got[3] == (6, 6) and len(got) == 10


def test_dv_update_noop_and_cdc_fold(spark, repo):
    import uuid
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.streaming.source import stream_table_from_repo

    repo.write_table("main", "t", _kv(spark, 0, 10).coalesce(1))
    c1 = repo.commit("main", "v1")
    assert repo.update_where_dv(spark, "main", "t", "k = 99", {"v": "0"}).id == c1.id
    c_up = repo.update_where_dv(spark, "main", "t", "k < 2", {"v": "v + 5"})
    name = f"dvu_{uuid.uuid4().hex[:8]}"
    q = (
        stream_table_from_repo(spark, repo.root, "t", cdc=True)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(name).collect()
    up = sorted(
        (r.k, r.v, r._change_type) for r in rows if r._commit_version == c_up.version
    )
    assert up == [
        (0, 0, "delete"), (0, 5, "insert"),
        (1, 2, "delete"), (1, 7, "insert"),
    ]
    from collections import Counter

    fold = Counter()
    for r in rows:
        fold[(r.k, r.v)] += 1 if r._change_type == "insert" else -1
    alive = sorted(kv for kv, n in fold.items() if n > 0)
    head = sorted((r.k, r.v) for r in repo.read_table(spark, "t", "main").collect())
    assert alive == head


def test_dv_writes_sql_mode_routes_and_falls_back(spark, repo):
    """r9: LakeSQL(dv_writes=True) — Delta's enableDeletionVectors
    analogue. Conditioned DELETE/UPDATE route through the zero-rewrite
    vector paths (files untouched, row counts surfaced); subquery
    conditions and dirty branches fall back to the rewriting spellings
    with identical results."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 30).repartition(2))
    repo.write_table("main", "ids", _kv(spark, 25, 28).select("k"))
    repo.commit("main", "base")
    sql = LakeSQL(spark, repo, "main", dv_writes=True)
    before = set(repo.current_files("main", "t"))
    r = sql.sql("DELETE FROM t WHERE k < 3").first()
    assert r.rows_affected == 3
    assert set(repo.current_files("main", "t")) == before  # vector, no rewrite
    r2 = sql.sql("UPDATE t SET v = v + 100 WHERE k = 5").first()
    assert r2.rows_affected == 1
    assert before < set(repo.current_files("main", "t"))  # append-only growth
    got = {r.k: r.v for r in repo.read_table(spark, "t", "main").collect()}
    assert 0 not in got and got[5] == 110 and len(got) == 27
    # no-op DELETE: zero rows but STILL a version (every DML commits —
    # the rewrite paths' invariant, kept across dv routing), and no
    # vector is born for it
    head_v = repo.head("main").version
    r3 = sql.sql("DELETE FROM t WHERE k = 999").first()
    assert r3.rows_affected == 0 and r3.version == head_v + 1
    # subquery condition: the raw lineage read can't bind it → clean
    # fallback to the rewriting DELETE, which materializes the vector
    r4 = sql.sql("DELETE FROM t WHERE k IN (SELECT k FROM ids)").first()
    assert r4.rows_affected == 3
    got2 = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert got2 == [k for k in range(3, 30) if k not in (25, 26, 27)]
    assert DV_PREFIX + "t" not in repo._resolve("main").tables  # rewrite retired it
    # dirty branch: DV path declines, rewrite path still works
    repo.write_table("main", "u", _kv(spark, 0, 2))
    r5 = sql.sql("DELETE FROM t WHERE k = 4").first()
    assert r5.rows_affected == 1
    assert sorted(x.k for x in repo.read_table(spark, "u", "main").collect()) == [0, 1]


def _dv_history_repo(spark, repo):
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 30).repartition(2))
    repo.write_table("main", "u", _kv(spark, 0, 30).repartition(2))
    repo.commit("main", "base")
    sql = LakeSQL(spark, repo, "main", dv_writes=True)
    sql.sql("ALTER TABLE t SET TBLPROPERTIES ('owner' = 'ops')")
    sql.sql("ALTER TABLE t ADD CONSTRAINT k_nonneg CHECK (k >= 0)")
    sql.sql("DELETE FROM t WHERE k < 3")
    # commits that touch only u: its data, vectors and properties
    sql.sql("ALTER TABLE u SET TBLPROPERTIES ('owner' = 'ops')")
    sql.sql("DELETE FROM u WHERE k < 3")
    sql.sql("INSERT INTO u VALUES (99, 198)")
    return sql


def test_dv_history_lists_vector_and_metadata_commits(spark, repo):
    """DESCRIBE HISTORY t lists every commit that changed t's footprint:
    a DV DELETE (only __dv__t moves), SET TBLPROPERTIES and ADD
    CONSTRAINT (only t's metadata objects move); commits that touch only
    another table stay out."""
    sql = _dv_history_repo(spark, repo)
    assert DV_PREFIX + "t" in repo._resolve("main").tables  # the DV route ran
    msgs = [r.message for r in sql.sql("DESCRIBE HISTORY t").collect()]
    assert msgs == [
        "DV DELETE FROM t WHERE k < 3",
        "ADD CONSTRAINT k_nonneg ON t",
        "SET TBLPROPERTIES (owner) ON t",
        "base",
    ]
    u_msgs = [r.message for r in sql.sql("DESCRIBE HISTORY u").collect()]
    assert u_msgs == [
        "SQL: INSERT INTO u",
        "DV DELETE FROM u WHERE k < 3",
        "SET TBLPROPERTIES (owner) ON u",
        "base",
    ]


def test_dv_detail_reports_vector_delete_as_last_change(spark, repo):
    sql = _dv_history_repo(spark, repo)
    t_delete = next(
        c
        for c in repo.log("main", limit=None)
        if c.message == "DV DELETE FROM t WHERE k < 3"
    )
    assert sql.sql("DESCRIBE DETAIL t").first().version == t_delete.version


def test_dv_noop_delete_commits_nothing(spark, repo):
    repo.write_table("main", "t", _kv(spark, 0, 10))
    c1 = repo.commit("main", "v1")
    c = repo.delete_where_dv(spark, "main", "t", "k = 999999")
    assert c.id == c1.id  # unchanged head, no vector born
    assert DV_PREFIX + "t" not in repo._resolve("main").tables


def test_dv_cdc_raises_on_undelete(spark, repo):
    """A restore to a pre-vector version revokes deletions on surviving
    files — not representable as a change feed; must be loud."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.streaming.source import stream_table_from_repo

    repo.write_table("main", "t", _kv(spark, 0, 10))
    c1 = repo.commit("main", "v1")
    repo.delete_where_dv(spark, "main", "t", "k < 3")
    repo.restore_table("main", "t", c1.version)  # un-delete
    name = f"undel_{uuid.uuid4().hex[:8]}"
    q = (
        stream_table_from_repo(spark, repo.root, "t", cdc=True)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="un-delete|STREAM_FAILED"):
        q.awaitTermination()
        if q.exception() is not None:
            raise q.exception()


def test_dv_merge_into_routes_update_insert_one_commit(spark, repo):
    """r10: MERGE INTO under dv_writes — WHEN-MATCHED rows become vector
    positions + updated images, NOT-MATCHED inserts append; ONE commit,
    zero existing-file rewrites; reads and time travel bit-identical to
    the rewrite path run on a sibling branch."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 40).repartition(4))
    src = spark.range(35, 45).select(
        F.col("id").alias("k"), (F.col("id") * 1000).alias("v")
    )
    repo.write_table("main", "s", src)
    repo.commit("main", "base")
    repo.create_branch("rw", "main")
    head0 = repo.head("main").version
    stmt = (
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    before = set(repo.current_files("main", "t"))
    r = LakeSQL(spark, repo, "main", dv_writes=True).sql(stmt).first()
    assert r.rows_affected == 10  # 5 matched (35..39) + 5 inserted (40..44)
    assert repo.head("main").version == head0 + 1  # ONE atomic commit
    after = set(repo.current_files("main", "t"))
    # zero existing-file rewrites: every old group survives, exactly one
    # new group appended (updated images + inserts together)
    assert before < after and len(after - before) == 1
    assert repo.current_files("main", DV_PREFIX + "t")  # vector born
    # bit-for-bit parity with the rewrite path
    LakeSQL(spark, repo, "rw", dv_writes=False).sql(stmt)
    got_dv = sorted(
        (x.k, x.v) for x in repo.read_table(spark, "t", "main").collect()
    )
    got_rw = sorted(
        (x.k, x.v) for x in repo.read_table(spark, "t", "rw").collect()
    )
    assert got_dv == got_rw and len(got_dv) == 45
    # time travel: the pre-merge snapshot is untouched
    assert (
        repo.read_table(spark, "t", "main", version_as_of=head0).count() == 40
    )


def test_dv_merge_into_matched_delete_and_cdc(spark, repo):
    """Matched DELETE routes to a pure vector append; the batch CDF sees
    the merge commit as the standard delete+insert change pair."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.changes import table_changes
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 20).repartition(2))
    repo.write_table(
        "main", "s",
        spark.range(15, 25).select(
            F.col("id").alias("k"), (F.col("id") + 7).alias("v")
        ),
    )
    base = repo.commit("main", "base")
    sql = LakeSQL(spark, repo, "main", dv_writes=True)
    before = set(repo.current_files("main", "t"))
    r = sql.sql(
        "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN DELETE"
    ).first()
    assert r.rows_affected == 5  # 15..19
    assert set(repo.current_files("main", "t")) == before  # vector only
    assert sorted(
        x.k for x in repo.read_table(spark, "t", "main").collect()
    ) == list(range(15))
    # upsert on top: CDF over both merge commits folds deletes+inserts
    sql.sql(
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v + t.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    feed = table_changes(repo, spark, "t", base.version + 1).collect()
    by = {}
    for row in feed:
        by.setdefault(row._change_type, []).append(row.k)
    assert sorted(by["delete"]) == list(range(15, 20))  # matched DELETEs
    assert sorted(by["insert"]) == list(range(15, 25))  # upsert inserts
    got = {x.k: x.v for x in repo.read_table(spark, "t", "main").collect()}
    assert len(got) == 25 and got[16] == 23 and got[3] == 6


def test_dv_merge_into_fallbacks_and_guards(spark, repo):
    """Subquery SET expressions, dirty branches, and generated columns
    decline the DV route (rewrite path answers identically); the
    multiple-match guard and no-op versioning behave as in the rewrite
    path; insert-only merges append without birthing a vector."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 10).repartition(2))
    repo.write_table(
        "main", "s",
        spark.range(8, 12).select(
            F.col("id").alias("k"), (F.col("id") * 5).alias("v")
        ),
    )
    repo.commit("main", "base")
    sql = LakeSQL(spark, repo, "main", dv_writes=True)
    # insert-only: pure append, no vector, no rewrite of old groups
    before = set(repo.current_files("main", "t"))
    r = sql.sql(
        "MERGE INTO t USING s ON t.k = s.k WHEN NOT MATCHED THEN INSERT *"
    ).first()
    assert r.rows_affected == 2  # 10, 11
    assert before < set(repo.current_files("main", "t"))
    assert DV_PREFIX + "t" not in repo._resolve("main").tables
    # no-op merge still lands a version (every-DML-commits invariant)
    head_v = repo.head("main").version
    r2 = sql.sql(
        "MERGE INTO t USING s ON t.k = s.k WHEN NOT MATCHED THEN INSERT *"
    ).first()
    assert r2.rows_affected == 0 and r2.version == head_v + 1
    # multiple-match guard raises through the DV route too
    repo.write_table(
        "main", "dup",
        spark.createDataFrame([(5, 1), (5, 2)], "k long, v long"),
    )
    repo.commit("main", "dup src")
    with pytest.raises(ValueError, match="multiple rows per join key"):
        sql.sql(
            "MERGE INTO t USING dup ON t.k = dup.k "
            "WHEN MATCHED THEN UPDATE SET v = dup.v"
        )
    # subquery in SET: DV route is gated off (session-catalog capture
    # hazard); the rewriting path still answers (session temp view —
    # repo-table subqueries in MERGE SET are out of scope either way)
    spark.createDataFrame([(55,)], "x long").createOrReplaceTempView(
        "lake_test_aux"
    )
    r3 = sql.sql(
        "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN "
        "UPDATE SET v = (SELECT MAX(x) FROM lake_test_aux)"
    ).first()
    assert r3.rows_affected == 4  # 8..11 all match now
    assert DV_PREFIX + "t" not in repo._resolve("main").tables  # rewrite ran
    got = {x.k: x.v for x in repo.read_table(spark, "t", "main").collect()}
    assert got[8] == got[11] == 55
    # dirty branch: DV route declines, rewrite handles staged state
    repo.write_table("main", "u", _kv(spark, 0, 2))
    r4 = sql.sql(
        "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN DELETE"
    ).first()
    assert r4.rows_affected == 4
    assert sorted(
        x.k for x in repo.read_table(spark, "t", "main").collect()
    ) == list(range(8))


def test_dv_purge_materializes_and_drops_vector(spark, repo):
    """r10: explicit PURGE (Delta's REORG ... APPLY (PURGE) analogue) —
    vectored files rewrite without their deleted rows, the drained
    vector drops, reads are unchanged, time travel still applies the
    old vector, and the data_change=false commit is invisible to the
    batch CDF."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.changes import table_changes

    repo.write_table("main", "t", _kv(spark, 0, 100).repartition(4))
    repo.commit("main", "v1")
    c_del = repo.delete_where_dv(spark, "main", "t", "k % 2 = 0")
    before = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    c = repo.purge_deletion_vectors(spark, "main", "t")
    assert c.meta.get("data_change") is False
    assert DV_PREFIX + "t" not in repo._resolve("main").tables  # vector gone
    after = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert after == before == list(range(1, 100, 2))
    # time travel to the pre-purge version still applies the vector
    tt = repo.read_table(spark, "t", "main", version_as_of=c_del.version)
    assert tt.count() == 50
    # second purge: nothing vectored → unchanged head, no commit
    assert repo.purge_deletion_vectors(spark, "main", "t").id == c.id
    # the CDF sees the DV delete but NOT the purge rearrangement
    feed = table_changes(repo, spark, "t", c_del.version).collect()
    assert sorted(r.k for r in feed) == list(range(0, 100, 2))
    assert {r._change_type for r in feed} == {"delete"}


@pytest.mark.slow
def test_dv_auto_materialize_bounds_vector_under_point_dml(spark, repo):
    """r10: with dv_materialize_fraction set, sustained point DML keeps
    the committed vector bounded — files whose vectored share crosses
    the threshold compact in trailing data_change=false commits — and
    the change feed still shows exactly the deleted rows."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.changes import table_changes

    repo.dv_materialize_fraction = 0.4
    repo.write_table("main", "t", _kv(spark, 0, 100).repartition(2))
    c0 = repo.commit("main", "v1")
    for lo in range(0, 60, 10):
        repo.delete_where_dv(
            spark, "main", "t", f"k >= {lo} AND k < {lo + 10}"
        )
    # reads unchanged throughout
    got = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert got == list(range(60, 100))
    # the committed vector is bounded: deleting 60% of the table left at
    # most the threshold share per file un-materialized
    dvt = DV_PREFIX + "t"
    head = repo._resolve("main")
    if dvt in head.tables:
        n = repo._read_files(spark, head.tables[dvt]).count()
        assert n <= 40  # without purging it would be 60
    # purge commits happened (more versions than the 6 DML commits)...
    assert repo.head("main").version > c0.version + 6
    # ...but the CDF over the whole range emits exactly the 60 deletes
    feed = table_changes(repo, spark, "t", c0.version + 1).collect()
    assert sorted(r.k for r in feed) == list(range(60))
    assert {r._change_type for r in feed} == {"delete"}


def test_dv_purge_threshold_and_evolved_tables(spark, repo):
    """Thresholded purge rewrites ONLY over-threshold files (the rest
    carry by reference), and purge binds schema-evolved tables through
    the same rename-replay as the DV DML paths."""
    repo.write_table("main", "t", _kv(spark, 0, 50).repartition(1))
    repo.write_table("main", "t", _kv(spark, 50, 60).repartition(1), mode="append")
    repo.commit("main", "v1")
    repo.alter_rename_column(spark, "main", "t", "k", "kk")
    # 6 of 10 rows vectored in the second file; 5 of 50 in the first
    repo.delete_where_dv(spark, "main", "t", "kk >= 54")
    repo.delete_where_dv(spark, "main", "t", "kk < 5")
    before_files = set(repo.current_files("main", "t"))
    c = repo.purge_deletion_vectors(spark, "main", "t", min_fraction=0.5)
    assert c.meta["dv_purge"]["files"] == 1  # only the 60% file rewrote
    # the under-threshold file's positions remain vectored
    dv = repo._read_files(
        spark, repo.current_files("main", DV_PREFIX + "t")
    )
    assert dv.count() == 5
    got = sorted(r.kk for r in repo.read_table(spark, "t", "main").collect())
    assert got == list(range(5, 54))
    # the untouched group rode by reference (still among current files)
    assert any(e in before_files for e in repo.current_files("main", "t"))


def test_dv_reorg_purge_sql_spelling(spark, repo):
    """Delta-parity SQL: REORG TABLE t APPLY (PURGE)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 20).repartition(2))
    repo.commit("main", "v1")
    repo.delete_where_dv(spark, "main", "t", "k < 4")
    sql = LakeSQL(spark, repo, "main")
    r = sql.sql("REORG TABLE t APPLY (PURGE)").first()
    assert r.version == repo.head("main").version
    assert DV_PREFIX + "t" not in repo._resolve("main").tables
    assert sql.sql("SELECT COUNT(*) AS n FROM t").first().n == 16


def test_dv_purge_commit_failure_leaves_branch_clean(spark, repo, monkeypatch):
    """Review-found (r10): a commit-time failure inside purge must reset
    the staged rearrangement — otherwise a later ordinary commit folds
    the rewrite in WITHOUT data_change=false and the change feed emits a
    delete+insert pair for every rewritten-but-unchanged row."""
    repo.write_table("main", "t", _kv(spark, 0, 20).repartition(2))
    repo.commit("main", "v1")
    repo.delete_where_dv(spark, "main", "t", "k < 4")
    head = repo.head("main")
    monkeypatch.setattr(
        repo, "commit",
        lambda *a, **k: (_ for _ in ()).throw(OSError("injected commit crash")),
    )
    with pytest.raises(OSError, match="injected"):
        repo.purge_deletion_vectors(spark, "main", "t")
    monkeypatch.undo()
    # nothing staged, head unmoved, reads exact; a retry then succeeds
    assert not repo.status("main")
    assert repo.head("main").id == head.id
    assert repo.read_table(spark, "t", "main").count() == 16
    c = repo.purge_deletion_vectors(spark, "main", "t")
    assert c.meta.get("data_change") is False
    assert repo.read_table(spark, "t", "main").count() == 16


@pytest.mark.parametrize(
    "clauses",
    [
        "WHEN MATCHED THEN UPDATE SET v = s.v + t.v",
        "WHEN MATCHED THEN UPDATE SET *",
        "WHEN MATCHED THEN DELETE",
        "WHEN MATCHED THEN DELETE WHEN NOT MATCHED THEN INSERT *",
        "WHEN MATCHED THEN UPDATE SET v = s.v - 1 WHEN NOT MATCHED THEN INSERT *",
        "WHEN NOT MATCHED THEN INSERT *",
        # r11: multiple clauses of a kind, ordered, first match wins
        "WHEN MATCHED AND t.k % 3 = 0 THEN UPDATE SET v = s.v "
        "WHEN MATCHED AND t.k % 3 = 1 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = 0",
        "WHEN MATCHED AND s.v > 150 THEN UPDATE SET v = s.v "
        "WHEN MATCHED THEN DELETE "
        "WHEN NOT MATCHED THEN INSERT *",
        # r11: explicit-column INSERT + several insert clauses
        "WHEN NOT MATCHED AND s.k < 35 THEN INSERT (k, v) VALUES (s.k, s.v * 2) "
        "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)",
        # the kitchen sink: every kind multi-clause at once
        "WHEN MATCHED AND t.k < 25 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED AND s.k < 33 THEN INSERT * "
        "WHEN NOT MATCHED BY SOURCE AND t.k < 5 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -1",
    ],
)
def test_dv_merge_parity_matrix(spark, repo, clauses):
    """Every MERGE action combination answers bit-identically through the
    deletion-vector route and the rewrite route (run on sibling branches
    of the same base), and the DV route never rewrites an existing
    file."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 30).repartition(3))
    repo.write_table(
        "main", "s",
        spark.range(20, 40).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("v")
        ),
    )
    repo.commit("main", "base")
    repo.create_branch("rw", "main")
    stmt = f"MERGE INTO t AS t USING s AS s ON t.k = s.k {clauses}"
    before = set(repo.current_files("main", "t"))
    LakeSQL(spark, repo, "main", dv_writes=True).sql(stmt)
    LakeSQL(spark, repo, "rw", dv_writes=False).sql(stmt)
    assert before <= set(repo.current_files("main", "t"))  # append-only
    got_dv = sorted(
        (x.k, x.v) for x in repo.read_table(spark, "t", "main").collect()
    )
    got_rw = sorted(
        (x.k, x.v) for x in repo.read_table(spark, "t", "rw").collect()
    )
    assert got_dv == got_rw


def test_dv_merge_on_evolved_table_binds_logical_names(spark, repo):
    """The DV MERGE route replays the rename map like delete/update_where_dv:
    a MERGE against the LOGICAL column names works on an ALTERed table and
    matches the rewrite route."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 12).repartition(2))
    repo.write_table(
        "main", "s",
        spark.range(8, 16).select(
            F.col("id").alias("k"), (F.col("id") * 100).alias("vv")
        ),
    )
    repo.commit("main", "base")
    repo.alter_rename_column(spark, "main", "t", "v", "vv")
    repo.create_branch("rw", "main")
    stmt = (
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET vv = s.vv "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    before = set(repo.current_files("main", "t"))
    LakeSQL(spark, repo, "main", dv_writes=True).sql(stmt)
    LakeSQL(spark, repo, "rw", dv_writes=False).sql(stmt)
    assert before <= set(repo.current_files("main", "t"))
    assert DV_PREFIX + "t" in repo._resolve("main").tables
    got_dv = sorted(
        (x.k, x.vv) for x in repo.read_table(spark, "t", "main").collect()
    )
    got_rw = sorted(
        (x.k, x.vv) for x in repo.read_table(spark, "t", "rw").collect()
    )
    assert got_dv == got_rw
    assert got_dv[-1] == (15, 1500)


def test_merge_when_matched_and_condition(spark, repo):
    """r10: Delta's conditional matched clause — WHEN MATCHED AND <cond>
    THEN UPDATE/DELETE touches only matched rows satisfying the
    condition; the rest pass through. Identical through the DV route and
    the rewrite route, and rows_affected counts only the acted-on rows."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 20).repartition(2))
    repo.write_table(
        "main", "s",
        spark.range(10, 30).select(
            F.col("id").alias("k"), (F.col("id") * 5).alias("v")
        ),
    )
    repo.commit("main", "base")
    repo.create_branch("rw", "main")
    # update only matched rows where the source value beats 3x target
    stmt = (
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED AND s.v > t.v * 2 THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    r = LakeSQL(spark, repo, "main", dv_writes=True).sql(stmt).first()
    LakeSQL(spark, repo, "rw", dv_writes=False).sql(stmt)
    # matched rows 10..19: s.v = 5k, t.v = 2k -> 5k > 4k always true for k>0
    # (k=10..19 all true) -> 10 updates + 10 inserts (20..29)
    assert r.rows_affected == 20
    got_dv = sorted((x.k, x.v) for x in repo.read_table(spark, "t", "main").collect())
    got_rw = sorted((x.k, x.v) for x in repo.read_table(spark, "t", "rw").collect())
    assert got_dv == got_rw and len(got_dv) == 30

    # conditional DELETE: only even matched keys leave, odd matched stay
    stmt2 = (
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED AND t.k % 2 = 0 THEN DELETE"
    )
    r2 = LakeSQL(spark, repo, "main", dv_writes=True).sql(stmt2).first()
    LakeSQL(spark, repo, "rw", dv_writes=False).sql(stmt2)
    assert r2.rows_affected == 10  # 10,12,...,28
    got_dv2 = sorted(x.k for x in repo.read_table(spark, "t", "main").collect())
    got_rw2 = sorted(x.k for x in repo.read_table(spark, "t", "rw").collect())
    assert got_dv2 == got_rw2
    assert got_dv2 == list(range(10)) + list(range(11, 30, 2))


@pytest.mark.parametrize(
    "clauses, expect",
    [
        # full dimension sync: upsert + drop rows gone from the source
        (
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT * "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE",
            lambda: sorted((k, k * 9) for k in range(10, 25)),
        ),
        # bs-only prune
        (
            "WHEN NOT MATCHED BY SOURCE THEN DELETE",
            lambda: sorted((k, k * 2) for k in range(10, 20)),
        ),
        # conditioned bs: keep small unmatched keys
        (
            "WHEN NOT MATCHED BY SOURCE AND t.k < 5 THEN DELETE",
            lambda: sorted((k, k * 2) for k in range(5, 20)),
        ),
        # matched delete + bs delete together (intersection survives none)
        (
            "WHEN MATCHED AND t.k % 2 = 0 THEN DELETE "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE",
            lambda: sorted((k, k * 2) for k in range(11, 20, 2)),
        ),
    ],
)
def test_merge_not_matched_by_source(spark, repo, clauses, expect):
    """r10: Delta 2.4's WHEN NOT MATCHED BY SOURCE THEN DELETE — the
    dimension-sync clause — identical through the DV route and the
    rewrite route, composed with every other clause shape."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 20).repartition(2))
    repo.write_table(
        "main", "s",
        spark.range(10, 25).select(
            F.col("id").alias("k"), (F.col("id") * 9).alias("v")
        ),
    )
    repo.commit("main", "base")
    repo.create_branch("rw", "main")
    stmt = f"MERGE INTO t AS t USING s AS s ON t.k = s.k {clauses}"
    before = set(repo.current_files("main", "t"))
    LakeSQL(spark, repo, "main", dv_writes=True).sql(stmt)
    LakeSQL(spark, repo, "rw", dv_writes=False).sql(stmt)
    assert before <= set(repo.current_files("main", "t"))  # zero rewrites
    got_dv = sorted(
        (x.k, x.v) for x in repo.read_table(spark, "t", "main").collect()
    )
    got_rw = sorted(
        (x.k, x.v) for x in repo.read_table(spark, "t", "rw").collect()
    )
    assert got_dv == got_rw == expect()


def test_merge_unconsumed_clauses_raise_and_cond_insert_works(spark, repo):
    """Review-found (r10): clause text the parser doesn't consume must
    raise, never silently change semantics — a second BY-SOURCE clause,
    a BY-SOURCE UPDATE, and clause-order tricks all fail loudly; and the
    conditional insert (WHEN NOT MATCHED AND c) actually filters."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 20).repartition(2))
    repo.write_table(
        "main", "s",
        spark.range(10, 25).select(
            F.col("id").alias("k"), (F.col("id") * 9).alias("v")
        ),
    )
    repo.commit("main", "base")
    repo.create_branch("rw", "main")
    for dv in (True, False):
        sql = LakeSQL(spark, repo, "main" if dv else "rw", dv_writes=dv)
        # r11: multiple clauses of a kind are legal (ordered, first
        # match wins) — but an unconditional clause must come LAST
        with pytest.raises(ValueError, match="all but the last"):
            sql.sql(
                "MERGE INTO t USING s ON t.k = s.k "
                "WHEN NOT MATCHED BY SOURCE THEN DELETE "
                "WHEN NOT MATCHED BY SOURCE AND t.k > 6 THEN DELETE"
            )
        with pytest.raises(ValueError, match="all but the last"):
            sql.sql(
                "MERGE INTO t USING s ON t.k = s.k "
                "WHEN MATCHED THEN DELETE "
                "WHEN MATCHED AND t.k > 6 THEN UPDATE SET v = s.v"
            )
        # a not-matched DELETE is nonsensical (there is no target row)
        with pytest.raises(ValueError, match="unsupported"):
            sql.sql(
                "MERGE INTO t USING s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET v = s.v "
                "WHEN NOT MATCHED THEN DELETE"
            )
        with pytest.raises(ValueError, match="unsupported"):
            sql.sql(
                "MERGE INTO t USING s ON t.k = s.k "
                "WHEN MATCHED THEN UPSERT SET v = s.v"
            )
    # conditional INSERT: only source rows passing the condition insert
    stmt = (
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED AND s.k < 22 THEN INSERT *"
    )
    r = LakeSQL(spark, repo, "main", dv_writes=True).sql(stmt).first()
    LakeSQL(spark, repo, "rw", dv_writes=False).sql(stmt)
    assert r.rows_affected == 12  # 10 updates + inserts 20, 21
    got_dv = sorted(x.k for x in repo.read_table(spark, "t", "main").collect())
    got_rw = sorted(x.k for x in repo.read_table(spark, "t", "rw").collect())
    assert got_dv == got_rw == list(range(22))


def test_dv_shallow_clone_carries_vector(spark, repo):
    """r10 review-class bug (found by probing the bypass-read_table bug
    class): SHALLOW CLONE of a vectored table must clone the companion
    too — a file-list-only clone resurrects every deleted row. Clones
    then diverge: DV DML on either side never affects the other, and
    purging the clone leaves the source's vector intact."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 20).repartition(2))
    repo.commit("main", "v1")
    repo.delete_where_dv(spark, "main", "t", "k < 5")
    sql = LakeSQL(spark, repo, "main")
    sql.sql("CREATE TABLE t2 SHALLOW CLONE t")
    assert repo.read_table(spark, "t2", "main").count() == 15  # not 20
    assert DV_PREFIX + "t2" in repo._resolve("main").tables
    # divergence: each side's later DV DML is its own
    repo.delete_where_dv(spark, "main", "t2", "k >= 18")
    repo.delete_where_dv(spark, "main", "t", "k = 10")
    assert sorted(r.k for r in repo.read_table(spark, "t2", "main").collect()) == (
        list(range(5, 18))
    )
    assert sorted(r.k for r in repo.read_table(spark, "t", "main").collect()) == (
        [k for k in range(5, 20) if k != 10]
    )
    # purge the clone: source vector untouched
    repo.purge_deletion_vectors(spark, "main", "t2")
    assert DV_PREFIX + "t2" not in repo._resolve("main").tables
    assert DV_PREFIX + "t" in repo._resolve("main").tables
    assert repo.read_table(spark, "t2", "main").count() == 13
    assert repo.read_table(spark, "t", "main").count() == 14


def test_merge_clause_parser_hardening(spark, repo):
    """Third-review findings: CASE WHEN inside a clause condition parses
    (the boundary is WHEN [NOT] MATCHED, never a bare WHEN), trailing
    garbage after a consumed clause raises, and a string literal
    containing 'WHEN MATCHED' rides through."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 10).repartition(2))
    repo.write_table(
        "main", "s",
        spark.range(5, 15).select(
            F.col("id").alias("k"), (F.col("id") * 3).alias("v")
        ),
    )
    repo.commit("main", "base")
    sql = LakeSQL(spark, repo, "main", dv_writes=True)
    # CASE WHEN in the matched condition
    r = sql.sql(
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED AND CASE WHEN s.v > t.v THEN true ELSE false END "
        "THEN UPDATE SET v = s.v"
    ).first()
    assert r.rows_affected == 5  # s.v = 3k > t.v = 2k for k=5..9
    got = {x.k: x.v for x in repo.read_table(spark, "t", "main").collect()}
    assert got[7] == 21 and got[3] == 6
    # trailing garbage after a consumed clause is loud, not silent
    with pytest.raises(ValueError, match="unsupported"):
        sql.sql(
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED THEN DELETE WHERE t.v > 0"
        )
    with pytest.raises(ValueError, match="unsupported"):
        sql.sql(
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT * EXCEPT (v)"
        )
    # a literal containing 'WHEN MATCHED' is not a clause boundary
    repo.reset("main")
    r2 = sql.sql(
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED AND CAST(t.v AS STRING) <> 'WHEN MATCHED THEN DELETE' "
        "THEN UPDATE SET v = t.v + 1000"
    ).first()
    assert r2.rows_affected == 5


@pytest.mark.parametrize(
    "clauses, expect",
    [
        # bs-update only: unmatched rows flagged, matched untouched
        (
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -1",
            lambda: sorted(
                [(k, -1) for k in range(10)]
                + [(k, k * 2) for k in range(10, 20)]
            ),
        ),
        # conditioned bs-update
        (
            "WHEN NOT MATCHED BY SOURCE AND t.k < 5 THEN UPDATE SET v = 0",
            lambda: sorted(
                [(k, 0) for k in range(5)]
                + [(k, k * 2) for k in range(5, 20)]
            ),
        ),
        # full SCD-style sync: matched refresh, unmatched tombstone, insert
        (
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT * "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -1",
            lambda: sorted(
                [(k, -1) for k in range(10)]
                + [(k, k * 9) for k in range(10, 25)]
            ),
        ),
        # matched delete + bs-update
        (
            "WHEN MATCHED THEN DELETE "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = t.v + 100",
            lambda: sorted([(k, k * 2 + 100) for k in range(10)]),
        ),
    ],
)
def test_merge_by_source_update(spark, repo, clauses, expect):
    """r10: WHEN NOT MATCHED BY SOURCE THEN UPDATE (the other Delta-2.4
    sync action) — identical through the DV route (positions + images
    append) and the rewrite route, composed with every clause shape."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 20).repartition(2))
    repo.write_table(
        "main", "s",
        spark.range(10, 25).select(
            F.col("id").alias("k"), (F.col("id") * 9).alias("v")
        ),
    )
    repo.commit("main", "base")
    repo.create_branch("rw", "main")
    stmt = f"MERGE INTO t AS t USING s AS s ON t.k = s.k {clauses}"
    before = set(repo.current_files("main", "t"))
    LakeSQL(spark, repo, "main", dv_writes=True).sql(stmt)
    LakeSQL(spark, repo, "rw", dv_writes=False).sql(stmt)
    assert before <= set(repo.current_files("main", "t"))  # zero rewrites
    got_dv = sorted(
        (x.k, x.v) for x in repo.read_table(spark, "t", "main").collect()
    )
    got_rw = sorted(
        (x.k, x.v) for x in repo.read_table(spark, "t", "rw").collect()
    )
    assert got_dv == got_rw == expect()


@pytest.mark.slow
def test_merge_by_source_update_guards(spark, repo):
    """BY-SOURCE UPDATE guard rails: SET * is rejected (no source row),
    source-alias references in the condition or SET raise; both
    BY-SOURCE actions together are legal ordered clauses since r11."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 10))
    repo.write_table("main", "s", _kv(spark, 5, 15))
    repo.commit("main", "base")
    sql = LakeSQL(spark, repo, "main", dv_writes=True)
    with pytest.raises(ValueError, match="SET \\*"):
        sql.sql(
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET *"
        )
    # source references are excluded BY SCOPE (the anti join has no
    # source alias), so any spelling — plain, backticked — fails loudly
    # on every route instead of silently reading NULLs
    for bad in (
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = s.v",
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = `s`.`v`",
        "WHEN NOT MATCHED BY SOURCE AND s.v > 0 THEN DELETE",
    ):
        with pytest.raises(Exception, match="resolve|RESOLUTION|RESOLVED"):
            sql.sql(f"MERGE INTO t USING s ON t.k = s.k {bad}")
        repo.reset("main")
    # ...while a string literal CONTAINING the alias-dot text is fine,
    # and an unqualified column shared with the source resolves to the
    # TARGET in by-source scope on both routes
    repo.alter_add_column(spark, "main", "t", "note", "string")
    r = sql.sql(
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE AND v < 4 THEN UPDATE "
        "SET note = 'obsolete, see s. 4'"
    ).first()
    assert r.rows_affected == 2  # k=0,1 (v=0,2)
    got = {
        x.k: x.note for x in repo.read_table(spark, "t", "main").collect()
    }
    assert got[0] == "obsolete, see s. 4" and got[4] is None
    assert not repo.status("main")  # nothing staged by any failure
    # r11: BOTH by-source actions together are now legal as ordered
    # clauses — first match wins: k<2 deletes, other unmatched update
    r2 = sql.sql(
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE AND t.k < 2 THEN DELETE "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0"
    ).first()
    assert r2.rows_affected == 5  # 2 deletes (k=0,1) + 3 updates (k=2,3,4)
    got2 = {x.k: x.v for x in repo.read_table(spark, "t", "main").collect()}
    assert sorted(got2) == list(range(2, 10))
    assert got2[2] == got2[4] == 0 and got2[7] == 14


def test_dv_auto_materialize_failure_is_observable(spark, repo, monkeypatch):
    """ADVICE r10 + verdict #5: a failing auto-purge must warn and leave
    a breadcrumb (``last_maintenance_error``) — never silently regress a
    hot table to unbounded vectors — while the DML commit itself is
    unaffected."""
    repo.dv_materialize_fraction = 0.1
    repo.write_table("main", "t", _kv(spark, 0, 40).repartition(1))
    repo.commit("main", "v1")
    boom = RuntimeError("injected purge failure")

    def failing_purge(self, *a, **k):
        raise boom

    monkeypatch.setattr(LakeRepo, "purge_deletion_vectors", failing_purge)
    with pytest.warns(RuntimeWarning, match="auto-materialize.*failed"):
        c = repo.delete_where_dv(spark, "main", "t", "k < 5")
    assert repo.last_maintenance_error is boom
    assert repo.last_maintenance_commit is None
    assert repo.head("main").id == c.id  # the DML landed, nothing after
    got = sorted(r.k for r in repo.read_table(spark, "t", "main").collect())
    assert got == list(range(5, 40))


def test_dv_auto_materialize_dirty_skip_preserves_concurrent_staging(
    spark, repo, monkeypatch
):
    """ADVICE r10: DirtyBranchError comes from purge's clean-branch gate
    BEFORE purge stages anything — the auto-materialize hook must NOT
    reset then, or it discards what a CONCURRENT writer just staged."""
    repo.dv_materialize_fraction = 0.1
    repo.write_table("main", "t", _kv(spark, 0, 40).repartition(1))
    repo.commit("main", "v1")
    orig = LakeRepo.purge_deletion_vectors

    def racing_purge(self, *a, **k):
        # a concurrent writer stages between the DML commit and the
        # trailing auto-purge; the gate must skip WITHOUT resetting
        self.write_table("main", "other", _kv(spark, 0, 3))
        return orig(self, *a, **k)

    monkeypatch.setattr(LakeRepo, "purge_deletion_vectors", racing_purge)
    with pytest.warns(RuntimeWarning, match="skipped"):
        repo.delete_where_dv(spark, "main", "t", "k < 5")
    assert isinstance(repo.last_maintenance_error, DirtyBranchError)
    # the concurrent writer's staging SURVIVED the skipped purge
    assert "other" in repo.status("main")


def test_dv_auto_materialize_records_trailing_commit(spark, repo):
    """ADVICE r10: the DML methods return the DML commit; when the
    trailing rearrangement lands, it is observable via
    ``last_maintenance_commit`` (and is one version past the DML)."""
    repo.dv_materialize_fraction = 0.1
    repo.write_table("main", "t", _kv(spark, 0, 40).repartition(1))
    repo.commit("main", "v1")
    c = repo.delete_where_dv(spark, "main", "t", "k < 30")
    trail = repo.last_maintenance_commit
    assert trail is not None and trail.version == c.version + 1
    assert repo.head("main").id == trail.id
    assert trail.meta.get("data_change") is False
    # a DML whose trailing purge is a no-op records no trailing commit
    repo.dv_materialize_fraction = 0.99
    repo.delete_where_dv(spark, "main", "t", "k = 31")
    assert repo.last_maintenance_commit is None
    assert repo.last_maintenance_error is None


def test_merge_set_case_when_over_matched_named_column(spark, repo):
    """ADVICE r10: a column literally named 'matched' inside a SET CASE
    expression must not split the clause — the boundary regex requires
    AND / BY SOURCE / THEN+action after WHEN MATCHED."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table(
        "main", "t",
        spark.range(0, 10).select(
            F.col("id").alias("k"),
            (F.col("id") % 2 == 0).alias("matched"),
            F.lit(0).cast("int").alias("f"),
        ),
    )
    repo.write_table(
        "main", "s", spark.range(5, 15).select(F.col("id").alias("k"))
    )
    repo.commit("main", "base")
    for dv in (True, False):
        sql = LakeSQL(spark, repo, "main", dv_writes=dv)
        r = sql.sql(
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET "
            "f = CASE WHEN matched THEN 1 ELSE 0 END"
        ).first()
        assert r.rows_affected == 5
        got = {x.k: x.f for x in repo.read_table(spark, "t", "main").collect()}
        assert got == {k: (1 if k >= 5 and k % 2 == 0 else 0) for k in range(10)}
        # reset the acted-on values for the second route's pass
        sql.sql("UPDATE t SET f = 0")


def test_merge_multi_clause_first_match_wins(spark, repo):
    """r11 (verdict #1): multiple MERGE clauses of a kind are evaluated
    in statement order — the FIRST clause whose condition passes acts on
    the row (Delta's documented rule) — with pinned absolute values on
    BOTH routes (parity alone could mask both routes being wrong the
    same way)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 20).repartition(2))
    repo.write_table(
        "main", "s",
        spark.range(10, 30).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
    )
    repo.commit("main", "base")
    repo.create_branch("rw", "main")
    # ordered matched clauses: k%2=0 -> v=s.v (wins over the k<16 update
    # for 10,12,14), k<16 -> DELETE (11,13,15), else v=-t.v (17,19 —
    # and 16,18 take clause 1). Insert clauses: k>=25 -> v=s.v+1
    # (25..29), else v=s.v-1 (20..24).
    stmt = (
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED AND t.k % 2 = 0 THEN UPDATE SET v = s.v "
        "WHEN MATCHED AND t.k < 16 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = -t.v "
        "WHEN NOT MATCHED AND s.k >= 25 THEN INSERT (k, v) VALUES (s.k, s.v + 1) "
        "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v - 1)"
    )
    expect = {}
    for k in range(20):
        if 10 <= k < 20:  # matched
            if k % 2 == 0:
                expect[k] = 10 * k
            elif k < 16:
                continue  # deleted
            else:
                expect[k] = -2 * k
        else:
            expect[k] = 2 * k  # untouched below the match range
    for k in range(20, 30):  # unmatched source rows insert
        expect[k] = 10 * k + (1 if k >= 25 else -1)
    for dv, branch in ((True, "main"), (False, "rw")):
        r = LakeSQL(spark, repo, branch, dv_writes=dv).sql(stmt).first()
        # 5 updates (10,12,14,16,18) + 3 deletes (11,13,15) + 2 updates
        # (17,19) + 10 inserts = 20
        assert r.rows_affected == 20
        got = {
            x.k: x.v for x in repo.read_table(spark, "t", branch).collect()
        }
        assert got == expect, f"route dv={dv}"


def test_merge_insert_explicit_columns(spark, repo):
    """r11 (verdict #7): INSERT (cols) VALUES (exprs) — named target
    columns take the expressions (source scope), unnamed columns insert
    NULL; count mismatches, unknown and duplicate columns raise."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table(
        "main", "t",
        spark.range(0, 5).select(
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
            F.lit("keep").alias("tag"),
        ),
    )
    repo.write_table("main", "s", _kv(spark, 3, 8))
    repo.commit("main", "base")
    repo.create_branch("rw", "main")
    stmt = (
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN NOT MATCHED THEN INSERT (k, tag) VALUES (s.k, concat('new-', s.k))"
    )
    for dv, branch in ((True, "main"), (False, "rw")):
        r = LakeSQL(spark, repo, branch, dv_writes=dv).sql(stmt).first()
        assert r.rows_affected == 3  # k = 5, 6, 7
        got = {
            x.k: (x.v, x.tag)
            for x in repo.read_table(spark, "t", branch).collect()
        }
        assert got[6] == (None, "new-6"), f"route dv={dv}"  # v unnamed -> NULL
        assert got[2] == (4, "keep")
        assert len(got) == 8
    sql = LakeSQL(spark, repo, "main", dv_writes=True)
    with pytest.raises(ValueError, match="columns but"):
        sql.sql(
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k)"
        )
    with pytest.raises(KeyError, match="no column"):
        sql.sql(
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (nope) VALUES (s.k)"
        )
    with pytest.raises(ValueError, match="duplicate column"):
        sql.sql(
            "MERGE INTO t USING s ON t.k = s.k "
            "WHEN NOT MATCHED THEN INSERT (k, k) VALUES (s.k, s.k)"
        )
    assert not repo.status("main")


def test_merge_nondeterministic_condition_single_evaluation(spark, repo):
    """Review r11: clause conditions evaluate ONCE per row (the lateral
    __lg_cl alias) — a nondeterministic condition must not pick one
    clause for a row's fate and a different one for its values. With
    `rand() < 0.5 THEN DELETE / ELSE UPDATE SET v = 0`, every surviving
    matched row must show v = 0 (never a stale original), and deletes +
    updates must exactly cover the matched set."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 200).repartition(4))
    repo.write_table(
        "main", "s", spark.range(0, 200).select(F.col("id").alias("k"))
    )
    repo.commit("main", "base")
    repo.create_branch("rw", "main")
    stmt = (
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED AND rand() < 0.5 THEN DELETE "
        "WHEN MATCHED THEN UPDATE SET v = 0"
    )
    for dv, branch in ((True, "main"), (False, "rw")):
        before = set(repo.current_files(branch, "t"))
        r = LakeSQL(spark, repo, branch, dv_writes=dv).sql(stmt).first()
        assert r.rows_affected == 200  # every matched row is claimed
        rows = repo.read_table(spark, "t", branch).collect()
        assert all(x.v == 0 for x in rows), f"stale values on dv={dv}"
        assert len(rows) <= 200
        if dv:
            # pin that the DV route actually ran (a silent fallback to
            # the rewrite route would also satisfy every value check):
            # existing files untouched, vector born, and the vector
            # holds exactly the 200 claimed positions (updates
            # vector-delete + re-append; deletes vector-delete only)
            assert before <= set(repo.current_files(branch, "t"))
            vec = repo._read_files(
                spark, repo.current_files(branch, DV_PREFIX + "t")
            )
            assert vec.count() == 200
        else:
            # the rewrite route rewrote the snapshot and birthed no vector
            assert DV_PREFIX + "t" not in repo._resolve(branch).tables


def test_reserved_lg_namespace_guards(spark, repo):
    """Review r11: the __lg_ COLUMN namespace is engine-reserved —
    write_table rejects it (case-insensitively; Spark resolution is
    case-insensitive, so __LG_CL would shadow the lateral alias too),
    and MERGE rejects sources carrying it."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    bad = spark.range(3).select(
        F.col("id").alias("k"), F.col("id").alias("__LG_CL")
    )
    with pytest.raises(ValueError, match="reserved __lg_"):
        repo.write_table("main", "t", bad)
    repo.write_table("main", "t", _kv(spark, 0, 5))
    repo.commit("main", "base")
    bad.createOrReplaceTempView("lgsrc")
    for dv in (True, False):
        with pytest.raises(ValueError, match="reserved"):
            LakeSQL(spark, repo, "main", dv_writes=dv).sql(
                "MERGE INTO t USING (SELECT k, __LG_CL FROM lgsrc) s "
                "ON t.k = s.k WHEN MATCHED THEN DELETE"
            )
    assert not repo.status("main")
    # a PRE-GUARD repo (simulated via _internal) storing a __lg_ column:
    # MERGE refuses on the target side, and the DV DML paths refuse
    # instead of silently dropping the column from re-appended images
    repo.write_table("main", "old", bad, _internal=True)
    repo.write_table("main", "s2", _kv(spark, 0, 3))
    repo.commit("main", "legacy")
    with pytest.raises(ValueError, match="reserved"):
        LakeSQL(spark, repo, "main").sql(
            "MERGE INTO old USING s2 ON old.k = s2.k WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(ValueError, match="reserved"):
        repo.update_where_dv(spark, "main", "old", "k = 1", {"k": "k + 10"})
    with pytest.raises(ValueError, match="reserved"):
        repo.delete_where_dv(spark, "main", "old", "k = 1")
    assert not repo.status("main")


def test_merge_with_schema_evolution(spark, repo):
    """r11: MERGE WITH SCHEMA EVOLUTION (Delta 3.x automerge) — source
    columns absent from the target join the schema: existing rows read
    NULL, INSERT * fills target-only columns with NULL, SET * updates
    only source-named columns. Without the keyword the strict contract
    stands. An actually-evolving merge declines the DV route (the
    rewrite owns stored-schema changes) but still answers identically
    under dv_writes=True via the fallback."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 10).repartition(2))
    repo.write_table(
        "main", "s",
        spark.range(5, 15).select(
            F.col("id").alias("k"),
            (F.col("id") * 7).alias("v"),
            F.concat(F.lit("tag-"), F.col("id")).alias("note"),  # NEW column
        ),
    )
    repo.commit("main", "base")
    repo.create_branch("rw", "main")
    stmt = (
        "MERGE WITH SCHEMA EVOLUTION INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    for dv, branch in ((True, "main"), (False, "rw")):
        r = LakeSQL(spark, repo, branch, dv_writes=dv).sql(stmt).first()
        assert r.rows_affected == 10  # 5 updates + 5 inserts
        got = {
            x.k: (x.v, x.note)
            for x in repo.read_table(spark, "t", branch).collect()
        }
        assert len(got) == 15
        assert got[2] == (4, None), f"dv={dv}"      # untouched, NULL note
        assert got[7] == (49, "tag-7")              # updated + evolved
        assert got[12] == (84, "tag-12")            # inserted
        # the evolving merge never birthed a vector (rewrite fallback)
        assert DV_PREFIX + "t" not in repo._resolve(branch).tables
    # WITHOUT the keyword, the same INSERT * still ignores the extra
    # source column and SET * demands all target columns exist — the
    # evolved target now has `note`, which s also has, so plain SET *
    # works and `note` persists through a second, NON-evolving merge
    repo.write_table(
        "main", "s2", spark.range(20, 22).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("v"),
            F.concat(F.lit("tag-"), F.col("id")).alias("note"),
            F.lit(1).alias("ignored_extra"),
        ),
    )
    repo.commit("main", "s2")
    r2 = LakeSQL(spark, repo, "main").sql(
        "MERGE INTO t USING s2 ON t.k = s2.k "
        "WHEN NOT MATCHED THEN INSERT *"
    ).first()
    assert r2.rows_affected == 2
    got2 = {x.k: x.note for x in repo.read_table(spark, "t", "main").collect()}
    assert got2[20] == "tag-20" and "ignored_extra" not in (
        repo.read_table(spark, "t", "main").columns
    )


def test_merge_schema_evolution_explicit_new_column(spark, repo):
    """Evolution also admits explicitly NAMED new columns in SET and
    INSERT (cols) — and a WITH SCHEMA EVOLUTION merge whose source adds
    nothing routes through the DV path normally."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 6))
    repo.write_table(
        "main", "s",
        spark.range(3, 9).select(
            F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("nm")
        ),
    )
    repo.commit("main", "base")
    sql = LakeSQL(spark, repo, "main", dv_writes=True)
    r = sql.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET nm = s.nm "
        "WHEN NOT MATCHED THEN INSERT (k, nm) VALUES (s.k, s.nm)"
    ).first()
    assert r.rows_affected == 6
    got = {x.k: (x.v, x.nm) for x in repo.read_table(spark, "t", "main").collect()}
    assert got[1] == (2, None) and got[4] == (8, "n4") and got[7] == (None, "n7")
    # same-schema source under WITH SCHEMA EVOLUTION: DV route runs
    before = set(repo.current_files("main", "t"))
    r2 = sql.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING "
        "(SELECT k, concat('z', k) AS nm FROM s) s2 ON t.k = s2.k "
        "WHEN MATCHED THEN UPDATE SET nm = s2.nm"
    ).first()
    assert r2.rows_affected == 6
    assert before <= set(repo.current_files("main", "t"))  # zero rewrites
    assert DV_PREFIX + "t" in repo._resolve("main").tables


def test_insert_into_explicit_column_list(spark, repo):
    """r11: INSERT INTO t (cols) VALUES/SELECT — named columns take the
    values positionally, unnamed stored columns insert NULL; unknown,
    duplicate, and arity-mismatched lists raise."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table(
        "main", "t",
        spark.range(0, 3).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v"),
            F.lit("x").alias("tag"),
        ),
    )
    repo.commit("main", "base")
    sql = LakeSQL(spark, repo, "main")
    r = sql.sql("INSERT INTO t (tag, k) VALUES ('y', 10), ('z', 11)").first()
    assert r.rows_affected == 2
    got = {x.k: (x.v, x.tag) for x in repo.read_table(spark, "t", "main").collect()}
    assert got[10] == (None, "y") and got[11] == (None, "z") and got[1] == (2, "x")
    r2 = sql.sql("INSERT INTO t (k, v) SELECT 20, 40").first()
    assert r2.rows_affected == 1
    with pytest.raises(KeyError, match="no insertable column"):
        sql.sql("INSERT INTO t (nope) VALUES (1)")
    with pytest.raises(ValueError, match="duplicate column"):
        sql.sql("INSERT INTO t (k, k) VALUES (1, 2)")
    with pytest.raises(ValueError, match="names 2 columns but"):
        sql.sql("INSERT INTO t (k, v) VALUES (1)")


def test_merge_schema_evolution_only_referenced_columns(spark, repo):
    """r11 review (Delta semantics): evolution admits only columns the
    merge REFERENCES — a delete-only merge with an extra source column
    leaves the schema untouched AND stays DV-routable; case-colliding
    new source columns raise."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 10).repartition(2))
    repo.write_table(
        "main", "s",
        spark.range(0, 4).select(
            F.col("id").alias("k"), F.lit("x").alias("audit")
        ),
    )
    repo.commit("main", "base")
    sql = LakeSQL(spark, repo, "main", dv_writes=True)
    before = set(repo.current_files("main", "t"))
    r = sql.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN DELETE"
    ).first()
    assert r.rows_affected == 4
    assert repo.read_table(spark, "t", "main").columns == ["k", "v"]  # no audit
    assert before <= set(repo.current_files("main", "t"))  # DV route ran
    assert DV_PREFIX + "t" in repo._resolve("main").tables
    # explicitly REFERENCING the new column evolves it
    r2 = sql.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING s ON t.k = s.k "
        "WHEN NOT MATCHED BY SOURCE AND t.k < 6 THEN UPDATE SET audit = 'old'"
    ).first()
    assert r2.rows_affected == 2  # k=4,5 (0-3 deleted above)
    got = {x.k: x.audit for x in repo.read_table(spark, "t", "main").collect()}
    assert got[4] == "old" and got[8] is None
    # two new source columns differing only in case: loud
    spark.range(2).select(
        F.col("id").alias("k"), F.lit(1).alias("Zz"), F.lit(2).alias("ZZ")
    ).createOrReplaceTempView("casey")
    with pytest.raises(ValueError, match="case"):
        sql.sql(
            "MERGE WITH SCHEMA EVOLUTION INTO t USING "
            "(SELECT * FROM casey) c ON t.k = c.k "
            "WHEN MATCHED THEN UPDATE SET *"
        )


def test_insert_no_space_spellings_and_duplicate_source_names(spark, repo):
    """r11 review: INSERT INTO t(k,v)VALUES(...) — the no-whitespace
    spelling — parses, and a source that repeats a column name aligns
    positionally instead of dying on an ambiguous reference."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo.write_table("main", "t", _kv(spark, 0, 2))
    repo.commit("main", "base")
    sql = LakeSQL(spark, repo, "main")
    assert sql.sql("INSERT INTO t(k,v)VALUES(7,14)").first().rows_affected == 1
    assert sql.sql(
        "INSERT INTO t (k, v) SELECT k, k FROM t@v1 WHERE k = 0"
    ).first().rows_affected == 1
    got = sorted((x.k, x.v) for x in repo.read_table(spark, "t", "main").collect())
    assert got == [(0, 0), (0, 0), (1, 2), (7, 14)]

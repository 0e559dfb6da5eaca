"""One per-commit file split for the batch change feed and the lake
stream source.

``versioning.changes.split_files`` splits a table's files between a
commit and its first parent; ``table_changes`` (``TABLE_CHANGES_FEED``)
and the stream source's planning (``latestOffset``, ``partitions``) all
read through it. Pinned here: the drained CDC stream equals the batch
feed over a mixed range, and planning an append lists only the entry it
appended, not every entry on both sides.
"""

from __future__ import annotations

import os
import uuid
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from manage_versions_of_data_in_data_lake_using_lakefs_spark.streaming.source import (
    _PACKAGE_ROOT,
    make_lake_stream_source,
    stream_table_from_repo,
)
from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.changes import table_changes
from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import DV_PREFIX, LakeRepo
from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL


@pytest.fixture()
def repo(tmp_path):
    return LakeRepo.init(str(tmp_path / "lake"))


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )


def _change_rows(df):
    return Counter(
        (r.k, r.v, r._change_type, r._commit_version) for r in df.collect()
    )


def test_cdc_stream_equals_batch_feed(spark, repo):
    """Over append, an off-branch version, copy-on-write DELETE,
    deletion-vector DELETE, compaction and append on ``main``, the
    drained ``cdc=True`` stream and ``table_changes`` are the same
    multiset of (payload, _change_type, _commit_version)."""
    repo.write_table("main", "t", _kv(spark, 0, 10).repartition(2))
    repo.commit("main", "v1")
    repo.create_branch("dev")
    repo.write_table("dev", "t", _kv(spark, 100, 103), mode="append")
    repo.commit("dev", "off-branch")
    repo.write_table("main", "t", _kv(spark, 10, 15).coalesce(1), mode="append")
    repo.commit("main", "append")
    LakeSQL(spark, repo, "main").sql("DELETE FROM t WHERE k = 11")
    repo.delete_where_dv(spark, "main", "t", "k < 2")
    assert repo.head("main").tables.get(DV_PREFIX + "t")
    compacted = repo.compact(spark, "main", "t", target_files=1)
    assert compacted.meta.get("data_change") is False
    repo.write_table("main", "t", _kv(spark, 20, 23), mode="append")
    head = repo.commit("main", "append")

    batch = _change_rows(table_changes(repo, spark, "t", 0, head.version))
    name = f"split_{uuid.uuid4().hex[:8]}"
    q = (
        stream_table_from_repo(spark, repo.root, "t", cdc=True)
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream = _change_rows(spark.table(name))

    assert stream == batch
    # the range exercised every kind of change the split produces
    kinds = {(t, v) for _k, _v, t, v in batch}
    assert {t for t, _ in kinds} == {"insert", "delete"}
    assert compacted.version not in {v for _, v in kinds}
    assert not any(k >= 100 for k, *_ in batch)  # dev rows never appear


def _reader(repo, **opts):
    src = make_lake_stream_source()(
        options={
            "root": repo.root,
            "branch": "main",
            "table": "t",
            "package_root": _PACKAGE_ROOT,
            **opts,
        }
    )
    schema = StructType([StructField("k", LongType()), StructField("v", LongType())])
    return src.streamReader(schema)


@pytest.fixture()
def twelve_entries_plus_append(spark, repo):
    """A table of 12 file-group entries, then one append: the versions
    before and after it and the entry it added."""
    repo.write_table("main", "t", _kv(spark, 0, 2).coalesce(1))
    repo.commit("main", "v1")
    for i in range(1, 12):
        repo.write_table("main", "t", _kv(spark, 2 * i, 2 * i + 2).coalesce(1), mode="append")
        repo.commit("main", f"v{i + 1}")
    before = repo.head("main")
    assert len(before.tables["t"]) == 12
    repo.write_table("main", "t", _kv(spark, 24, 26).coalesce(1), mode="append")
    after = repo.commit("main", "append")
    (appended,) = set(after.tables["t"]) - set(before.tables["t"])
    return before.version, after.version, appended


def _listed(monkeypatch, root):
    listed: list[str] = []
    real = os.listdir

    def spy(path="."):
        listed.append(os.path.relpath(path, root))
        return real(path)

    monkeypatch.setattr(os, "listdir", spy)
    return listed


def test_partitions_lists_only_the_appended_entry(
    repo, twelve_entries_plus_append, monkeypatch
):
    before, after, appended = twelve_entries_plus_append
    reader = _reader(repo)
    listed = _listed(monkeypatch, repo.root)
    parts = reader.partitions({"version": before}, {"version": after})
    assert listed == [appended]
    assert [os.path.dirname(p.path) for p in parts] == [
        os.path.join(repo.root, appended)
    ]


def test_capped_latest_offset_lists_only_the_appended_entry(
    repo, twelve_entries_plus_append, monkeypatch
):
    before, after, appended = twelve_entries_plus_append
    reader = _reader(repo, maxfilespertrigger="5", starting_version=str(before))
    listed = _listed(monkeypatch, repo.root)
    assert reader.latestOffset() == {"version": after}
    assert listed == [appended]

"""Change reads between commits: the row-minimal diff behind
``TABLE_CHANGES`` and ``LakeRepo.diff``, the file-granular batch
change-data feed ``table_changes`` (``TABLE_CHANGES_FEED``), and the
per-commit file split of the lake stream source (streaming/source.py).

Data files are immutable, so two commits that list the same file under
the same deletion vector share that file's rows. ``split_files`` is the
one split of a table's files between two commits. Every read here
starts from it through ``file_delta``; the stream source calls it
directly, since it reads every era through the head's column map. Both
read only what differs:

- files only the older commit lists, minus its vector's positions;
- files only the newer commit lists, minus its vector's positions;
- on shared files, the rows at positions the newer vector adds (gone)
  or drops (revoked: back again). Vector file groups are immutable, so
  entry containment tells, with no read, whether either set can be
  non-empty.

Shared files with an unchanged vector are never read.

``row_changes`` is the row-minimal spelling: signed rows whose multiset
is exactly the two snapshots' ``EXCEPT ALL`` in both directions. When
only one sign can occur (an append, a vector-only delete, a restore that
only revokes) it is a plain scan with no shuffle. Otherwise one signed
``groupBy`` over the payload cancels the rows a rewrite carried over
unchanged, and each surviving row expands by its net count.

``table_changes`` is the batch half of Delta's change-data feed (the
streaming half is streaming/source.py, mode=cdc, over the same split
and first-parent walk): every change to ``t``
between the version an incremental job last saw and now, as one
DataFrame, no checkpoint machinery. Semantics match the streaming feed
(file-granularity CDF, like Delta CDF without change files —
multiset-correct to fold, not row-minimal):

- each commit in the range is diffed against ITS OWN parent on the
  branch's first-parent chain;
- removed files emit their rows as ``delete`` (excluding positions the
  parent's deletion vector had already deleted — else a fold
  double-deletes), added files emit ``insert`` (excluding the current
  vector's positions);
- a deletion-vector change on a SURVIVING file emits ``delete`` rows at
  exactly the newly vectored positions — so ``delete_where_dv`` /
  ``update_where_dv`` commits feed precise row-level changes;
- ``data_change=false`` commits (OPTIMIZE/compaction) emit nothing;
- revoked deletions on surviving files (restore to a pre-vector
  version) and mid-range schema changes are not representable — loud
  errors, never silent corruption.

Scale shape of both: one column-pruned scan per changed file set per
commit; the only joins are against deletion vectors (a few rows per
file — broadcast-sized). No driver collect of data rows.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark.runtime import local_df
from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.log import Commit
from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import DV_PREFIX

#: ``row_changes``'s change column: +1 for a row only the newer snapshot
#: holds, -1 for one only the older holds; one output row per unit
SIGN = "__lg_sign"
_POS = ["__lg_fp", "__lg_ri"]


def _files_of(root: str, entries: list[str], missing: list | None = None) -> list[str]:
    """Commit entries → relative parquet file paths. Entries may be
    file-group dirs, individual part-files (pruned rewrites), or Hive
    partition trees. A vanished entry (vacuumed history) is a hard
    error, since silently skipping it would read an incomplete change,
    unless ``missing`` (a list) collects it for the caller to judge."""
    out: list[str] = []

    def walk(rel: str) -> None:
        full = os.path.join(root, rel)
        for fn in sorted(os.listdir(full)):
            sub = os.path.join(rel, fn)
            if os.path.isdir(os.path.join(root, sub)):
                walk(sub)
            elif fn.endswith(".parquet"):
                out.append(sub)

    for e in entries:
        full = os.path.join(root, e)
        if os.path.isdir(full):
            walk(e)
        elif os.path.exists(full):
            out.append(e)
        elif missing is not None:
            missing.append(e)
        else:
            raise FileNotFoundError(
                f"commit entry {e} was vacuumed; the rows it held are "
                f"unrecoverable — keep retention >= the history you read, "
                f"or start past the vacuumed version"
            )
    return out


def _entries(c: Commit | None, key: str) -> list[str]:
    return list(c.tables.get(key) or []) if c is not None else []


def first_parent_range(
    repo, ref: str, start: int, end: int
) -> list[tuple[Commit | None, Commit]]:
    """``(first parent, commit)`` for every commit on ``ref``'s
    first-parent line with ``start <= version <= end``, oldest first.
    Versions are global, so commits of other branches inside the range
    are not on this line and have no changes here."""
    pairs = []
    c = repo.head(ref)
    while c is not None and c.version >= start:
        parent = repo.get_commit(c.parents[0]) if c.parents else None
        if c.version <= end:
            pairs.append((parent, c))
        c = parent
    pairs.reverse()
    return pairs


@dataclass(frozen=True)
class FileDelta:
    """``table``'s files in an older commit ``a`` against a newer ``b``."""

    removed: list[str]  # parquet files only ``a`` lists
    added: list[str]  # parquet files only ``b`` lists
    shared: list[str]  # entries and files both list
    dv_a: list[str]  # deletion-vector entries of each side
    dv_b: list[str]
    smap_a: dict | None  # schema map of each side
    smap_b: dict | None

    @property
    def vector_grows(self) -> bool:
        """``b``'s vector may hold positions ``a``'s lacks."""
        return not set(self.dv_b) <= set(self.dv_a)

    @property
    def vector_shrinks(self) -> bool:
        """``a``'s vector may hold positions ``b``'s lacks."""
        return not set(self.dv_a) <= set(self.dv_b)


def split_files(
    root: str, older: list[str], newer: list[str], missing: list | None = None
) -> tuple[list[str], list[str], list[str]]:
    """Split the files two entry lists reference into ``(removed, added,
    shared)``, each sorted. Entries both list are shared with no
    directory listing; the rest expand to parquet files, so the part
    files a pruned rewrite carried over are shared too. ``missing``
    collects vacuumed ``older`` entries instead of raising; a vacuumed
    ``newer`` entry raises."""
    common = set(older) & set(newer)
    fa = set(_files_of(root, [e for e in older if e not in common], missing))
    fb = set(_files_of(root, [e for e in newer if e not in common]))
    both = fa & fb
    return sorted(fa - both), sorted(fb - both), sorted(common | both)


def file_delta(repo, table: str, a: Commit | None, b: Commit | None) -> FileDelta:
    """Split ``table``'s files between commits ``a`` and ``b`` (either
    may be None or lack the table: it then has no files) with
    ``split_files``. When the schema maps differ nothing is shared: the
    same bytes read as different columns on the two sides."""
    ea, eb = _entries(a, table), _entries(b, table)
    smap_a = repo._schema_map_of_commit(a, table) if a else None
    smap_b = repo._schema_map_of_commit(b, table) if b else None
    if smap_a == smap_b:
        removed, added, shared = split_files(repo.root, ea, eb)
    else:
        removed = sorted(set(_files_of(repo.root, ea)))
        added, shared = sorted(set(_files_of(repo.root, eb))), []
    dvt = DV_PREFIX + table
    return FileDelta(
        removed=removed,
        added=added,
        shared=shared,
        dv_a=_entries(a, dvt),
        dv_b=_entries(b, dvt),
        smap_a=smap_a,
        smap_b=smap_b,
    )


def _positions(repo, spark: SparkSession, dv: list[str]) -> DataFrame | None:
    return repo._read_files(spark, dv) if dv else None


def _minus(x: DataFrame | None, y: DataFrame | None) -> DataFrame | None:
    return x if x is None or y is None else x.join(y, ["file", "pos"], "left_anti")


def _read(
    repo,
    spark: SparkSession,
    files: list[str],
    smap: dict | None,
    dv: list[str] | None = None,
    at: DataFrame | None = None,
) -> DataFrame:
    """The rows of ``files`` as a snapshot read returns them: minus the
    vector ``dv``'s positions, or only the rows at the stored vector
    positions ``at``."""
    df = repo._read_files(
        spark, files, smap or False, with_lineage=bool(dv) or at is not None
    )
    if dv:
        df = repo._apply_dv(spark, df, dv)
    elif at is not None:
        df = df.join(repo._dv_keys(spark, at, df), _POS, "left_semi").drop(*_POS)
    return repo.apply_schema_map(df, smap) if smap else df


def _col(name: str):
    return F.col("`" + name.replace("`", "``") + "`")


def row_changes(
    repo, spark: SparkSession, table: str, a: Commit | None, b: Commit | None
) -> DataFrame | None:
    """Row-minimal changes of ``table`` from commit ``a`` to commit
    ``b``: the payload columns plus ``SIGN``, one row per unit of
    change. As a multiset it equals ``B.exceptAll(A)`` signed +1 plus
    ``A.exceptAll(B)`` signed -1 over the two snapshots ``A`` and ``B``
    (a side that lacks the table reads as empty). None when no file or
    vector position differs."""
    d = file_delta(repo, table, a, b)
    parts: list[tuple[DataFrame, int]] = []
    if d.added:
        parts.append((_read(repo, spark, d.added, d.smap_b, dv=d.dv_b), 1))
    if d.removed:
        parts.append((_read(repo, spark, d.removed, d.smap_a, dv=d.dv_a), -1))
    if d.shared and (d.vector_grows or d.vector_shrinks):
        pa, pb = _positions(repo, spark, d.dv_a), _positions(repo, spark, d.dv_b)
        if d.vector_grows:
            gone = _minus(pb, pa)
            parts.append((_read(repo, spark, d.shared, d.smap_b, at=gone), -1))
        if d.vector_shrinks:
            back = _minus(pa, pb)
            parts.append((_read(repo, spark, d.shared, d.smap_b, at=back), 1))
    if not parts:
        return None
    out = reduce(
        DataFrame.unionByName, [df.withColumn(SIGN, F.lit(s)) for df, s in parts]
    )
    if len({s for _, s in parts}) == 1:
        return out
    cols = [_col(c) for c in out.columns if c != SIGN]
    net = (
        out.groupBy(*cols)
        .agg(F.sum(SIGN).alias("__lg_n"))
        .where(F.col("__lg_n") != 0)
    )
    units = F.array_repeat(
        F.signum("__lg_n").cast("int"), F.abs("__lg_n").cast("int")
    )
    return net.select(*cols, F.explode(units).alias(SIGN))


def table_changes(
    repo,
    spark: SparkSession,
    table: str,
    starting_version: int,
    ending_version: int | None = None,
    ref: str = "main",
) -> DataFrame:
    """Every change to ``table`` in commits with
    ``starting_version <= version <= ending_version`` (default: the
    branch head), as one DataFrame: the table's columns plus
    ``_change_type`` ('insert' | 'delete') and ``_commit_version``.

    Rows fold to state: grouping on the payload and summing
    +1/−1 per insert/delete over (v0, v] reproduces exactly the
    snapshot diff between the two versions.
    """
    end = ending_version if ending_version is not None else repo.head(ref).version
    pairs = first_parent_range(repo, ref, starting_version, end)
    if not pairs:
        raise ValueError(
            f"table_changes: no commits of {ref!r} in versions "
            f"[{starting_version}, {end}]"
        )

    # mid-range schema changes are not representable as one relation
    # (Delta CDF fails the same way); constant maps replay fine
    smaps = {repr(repo._schema_map_of_commit(c, table)) for _, c in pairs}
    if pairs[0][0] is not None:
        smaps.add(repr(repo._schema_map_of_commit(pairs[0][0], table)))
    if len(smaps) > 1:
        raise NotImplementedError(
            f"table_changes: {table!r}'s schema mapping changed inside the "
            f"version range — split the range at the ALTER commit"
        )
    smap = repo._schema_map_of_commit(pairs[-1][1], table)

    def tagged(df: DataFrame, version: int, tag: str) -> DataFrame:
        return df.withColumn("_change_type", F.lit(tag)).withColumn(
            "_commit_version", F.lit(version).cast("long")
        )

    parts: list[DataFrame] = []
    probes: list[DataFrame] = []  # revocation checks, batched to ONE job
    for parent, cc in pairs:
        if cc.meta.get("data_change") is False:
            continue  # a pure rearrangement leaves the multiset unchanged
        d = file_delta(repo, table, parent, cc)
        if d.removed:
            parts.append(
                tagged(_read(repo, spark, d.removed, smap, dv=d.dv_a), cc.version, "delete")
            )
        if d.added:
            parts.append(
                tagged(_read(repo, spark, d.added, smap, dv=d.dv_b), cc.version, "insert")
            )
        if not d.shared or not (d.vector_grows or d.vector_shrinks):
            continue
        prev_pos, cur_pos = _positions(repo, spark, d.dv_a), _positions(repo, spark, d.dv_b)
        # the common pure-append case (delete_where_dv / update_where_dv)
        # cannot revoke and skips the eager revocation probe job entirely
        if d.vector_shrinks:
            surv_df = local_df(spark,
                [(f,) for f in _files_of(repo.root, d.shared)], schema="file string"
            )
            revoked = _minus(
                prev_pos.join(F.broadcast(surv_df), "file", "left_semi"), cur_pos
            )
            # deferred: a long range with many restore-shaped commits
            # would otherwise pay one driver-paced job per commit —
            # the union below makes the whole range ONE probe job
            probes.append(revoked.select(F.lit(cc.version).cast("long").alias("_v")))
        if d.vector_grows:
            newly = _minus(cur_pos, prev_pos)
            parts.append(
                tagged(_read(repo, spark, d.shared, smap, at=newly), cc.version, "delete")
            )
    if probes:
        # MIN keeps the error deterministic: "split the range" must name
        # the FIRST offending version, or the user iterates blindly
        probe = reduce(DataFrame.unionByName, probes)
        hit = probe.agg(F.min("_v").alias("_v")).collect()[0]["_v"]
        if hit is not None:
            raise ValueError(
                f"table_changes: version {hit} REMOVED "
                f"deletion-vector positions for surviving files of "
                f"{table!r} (un-delete via restore) — not representable "
                f"as a change feed; split the range"
            )
    if not parts:
        # empty feed with the right schema: head read minus rows
        base = repo.read_table(spark, table, ref).limit(0)
        return base.withColumn("_change_type", F.lit("")).withColumn(
            "_commit_version", F.lit(0).cast("long")
        ).limit(0)
    return reduce(DataFrame.unionByName, parts)

"""LakeRepo: Git-like versioning over parquet tables, Spark-native.

Reproduces the reference's versioning surface (SURVEY.md §2.9, V1-V15 —
lakectl repo/branch/commit/diff/merge per ``README.md:62-147`` plus Delta
overwrite-versions/time-travel/vacuum per ``jobs/vdt4.py:39-85``) with no
external server: metadata is a JSON commit DAG (KB-scale, driver-side),
data is immutable parquet read/written by Spark executors.

Capability map:
  V1/V2  init / delete repo           LakeRepo.init / delete
  V3     list objects on branch       list_tables / list_objects
  V4     upload to branch             write_table / put_object (stage) + commit
  V5     remove from branch           remove_table (stage) + commit
  V6     commit                       commit (atomic ref swap)
  V7     branch create from source    create_branch — O(1), copy-on-write
  V8     reset uncommitted            reset
  V9     revert/rollback              revert — new commit of old snapshot
  V10    show current commit          head / log
  V11    diff branches                diff (row-level, unshared files only) /
                                      diff_tables (object-level, like lakectl)
  V12    merge branch→branch          merge — three-way over the commit DAG,
                                      fast-forward when possible; row-level
                                      PK merge for both-modified tables
  V13    overwrite-as-new-version     write_table(mode="overwrite") + commit
  V14    time travel                  read_table(ref=..., version_as_of=...)
  V15    vacuum                       vacuum — GC files unreachable from refs

Scale design: a commit stores *file lists*, so branch/commit/merge never
copy data; reads prune to exactly the snapshot's files; writes are normal
partitioned parquet writes. Everything data-sized is executed by Spark.
"""

from __future__ import annotations

import os
import shutil
import time
import warnings
from collections import deque
from urllib.parse import unquote, urlsplit

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark.runtime import local_df

from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.log import (
    MANIFEST_DIR,
    Commit,
    RepoLock,
    atomic_write_json,
    cas_replace_ref,
    expand_entries,
    is_manifest_ptr,
    new_id,
    read_json,
    spill_entries,
)


class MergeConflict(Exception):
    def __init__(self, message: str, conflicts: list):
        super().__init__(message)
        self.conflicts = conflicts


class ConstraintViolation(Exception):
    """A write landed rows that evaluate a CHECK constraint to FALSE."""


class DirtyBranchError(Exception):
    """Raised when a history-moving op (merge/revert) targets a branch with
    uncommitted staged changes. lakeFS refuses these too: silently dropping
    or carrying staged writes across a head move loses data either way —
    the caller must ``commit`` or ``reset`` first."""


#: hidden companion-table prefix for deletion vectors: `__dv__<table>`
#: holds (file string, pos long) rows — positions deleted from the named
#: physical file (its real path relative to the repo root). Riding the
#: ordinary snapshot machinery is what makes DVs
#: branch/merge/time-travel/vacuum/manifest-spill correct for free.
DV_PREFIX = "__dv__"

#: reserved TBLPROPERTIES key holding a table's declared PARTITIONED BY
#: spec (comma-joined logical column names, declaration order). Riding
#: tblprops means the spec branches, merges, clones, pushes, and
#: time-travels through the existing object machinery — and is visible
#: in SHOW TBLPROPERTIES, like Delta's partitionColumns in DESCRIBE
#: DETAIL.
PARTITION_PROP = "lakegraft.partition.columns"

#: declared clustering spec (Delta liquid-clustering analogue): the
#: columns OPTIMIZE clusters on when the statement names none. Reserved
#: tblproperties key, same machinery as PARTITION_PROP.
CLUSTER_PROP = "lakegraft.cluster.columns"


#: LakeSQL's scoped temp-view namespaces, one per rewrite kind. Each
#: kind gets its OWN prefix so no legal object name in one namespace can
#: produce a registration that collides with another kind's (r13
#: re-review: table `x__v3` vs the snapshot of `x` at v3 collided when
#: snapshots shared the table prefix).
_RESERVED_PREFIXES = (
    "lake__",  # branch-head table rewrites
    "lakeview__",  # stored-view expansions
    "lakesnap__",  # VERSION/TIMESTAMP AS OF snapshot pins
    "lakechg__",  # TABLE_CHANGES rewrites
    "lakefeed__",  # TABLE_CHANGES_FEED rewrites
)


def _check_name_unreserved(name: str, kind: str) -> None:
    """Table and view names may not start with any LakeSQL scoped
    temp-view prefix: a user object named inside one of those
    namespaces could clobber (or be clobbered by) a rewrite's
    registration mid-query (r13 review)."""
    low = name.lower()
    if low.startswith(_RESERVED_PREFIXES):
        raise ValueError(
            f"{kind} name {name!r} uses a reserved prefix "
            f"({'/'.join(_RESERVED_PREFIXES)} host LakeSQL's scoped "
            "query rewrites) — pick another name"
        )

#: the dialect's plain-identifier shape — defined HERE (the bottom of
#: the dependency graph) and imported by sql.py's grammar so the parser
#: regexes and the column-spec validator can never drift.
_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
_GLOB_ESCAPES = {ord(c): "\\" + c for c in "\\[]{}?*"}


def _validate_col_spec(
    kw: str, cols: list[str], columns: list[str]
) -> list[str]:
    """The ONE validator for column-list specs (PARTITIONED BY /
    CLUSTER BY, create-time and ALTER alike): plain identifiers, no
    duplicates, every column present — returned resolved to the
    declared casing (Hive dir names and stored specs must match the
    schema's spelling exactly)."""
    import re as _re

    bycase = {c.lower(): c for c in columns}
    seen: set[str] = set()
    out: list[str] = []
    for c in cols:
        if not _re.fullmatch(_IDENT, c):
            raise ValueError(f"{kw}: bad column name {c!r}")
        if c.lower() in seen:
            raise ValueError(f"{kw}: duplicate column {c!r}")
        seen.add(c.lower())
        if c.lower() not in bycase:
            raise ValueError(
                f"{kw}: column {c!r} is not in the table schema "
                f"{sorted(columns)}"
            )
        out.append(bycase[c.lower()])
    return out


def _check_cluster_disjoint(cols: list[str], parts: list[str]) -> None:
    """A partition column has one value per file already — clustering
    on it is either a no-op or a sign the user wanted partitioning
    changed, so the two specs must be disjoint."""
    clash = [c for c in cols if c.lower() in {p.lower() for p in parts}]
    if clash:
        raise ValueError(
            f"CLUSTER BY columns {clash} are PARTITIONED BY columns — "
            "the two specs must be disjoint"
        )


#: value ranges for identity-column allocation overflow guards (r12)
_IDENTITY_BOUNDS = {
    "int": (-(2**31), 2**31 - 1),
    "bigint": (-(2**63), 2**63 - 1),
}


class LakeRepo:
    def __init__(self, root: str):
        self.root = os.path.abspath(root)
        if not os.path.exists(self._repo_file):
            raise FileNotFoundError(f"not a lake repo: {root} (run LakeRepo.init)")
        # content-addressed manifest bodies are immutable → cache freely
        self._manifest_cache: dict[str, list] = {}
        #: opt-in auto-materialization threshold for deletion vectors
        #: (Delta's auto-PURGE analogue): when set (e.g. 0.5), every DV
        #: DML commit is followed by a data_change=false compaction of
        #: any part file whose vectored share exceeds it, so the vector
        #: stays bounded under sustained point DML. None = vectors only
        #: retire on explicit purge_deletion_vectors / OPTIMIZE /
        #: overwrite.
        self.dv_materialize_fraction: float | None = None
        #: breadcrumbs from the last auto-materialization attempt (the
        #: trailing best-effort purge after a DV DML when
        #: ``dv_materialize_fraction`` is set): the swallowed exception,
        #: if any, and the trailing data_change=false commit, if one
        #: landed — so callers can both observe a persistently failing
        #: auto-purge and learn the actual branch head (the DML methods
        #: return the DML commit; see their docstrings).
        self.last_maintenance_error: Exception | None = None
        self.last_maintenance_commit: "Commit | None" = None

    # -- paths -------------------------------------------------------------
    @property
    def _repo_file(self) -> str:
        return os.path.join(self.root, "repo.json")

    def _ref_file(self, branch: str) -> str:
        return os.path.join(self.root, "refs", f"{branch}.json")

    def _fence_dir(self) -> str:
        return os.path.join(self.root, "refs", ".fence")

    def _write_ref(self, branch: str, ref: dict) -> None:
        """Publish a ref mutation through the generation-fenced CAS
        (``log.cas_replace_ref``). ``ref`` must carry the ``gen`` it was
        READ at (``_read_ref`` preserves it; pre-CAS refs default to 0) —
        the publish claims and records gen + 1. A concurrent writer that
        already claimed this generation surfaces as a retryable
        ``CommitConflictError`` instead of a lost update; see
        versioning/log.py for the full consistency model."""
        cas_replace_ref(
            self._ref_file(branch),
            self._fence_dir(),
            branch,
            int(ref.get("gen", 0)),
            ref,
        )

    def _commit_file(self, cid: str) -> str:
        return os.path.join(self.root, "commits", f"{cid}.json")

    def _data_dir(self, table: str, file_id: str) -> str:
        return os.path.join(self.root, "data", table, file_id)

    def _object_blob(self, file_id: str) -> str:
        # blobs live under data/ in their own pseudo-table dir so vacuum's
        # data/<table>/<file_id> walk covers them with no special case
        return os.path.join(self.root, "data", "_objects", file_id, "blob")

    @staticmethod
    def _staged_objects(ref: dict) -> dict:
        # refs written before object support lack the key
        return ref.setdefault("staged_objects", {})

    @classmethod
    def _is_dirty(cls, ref: dict) -> bool:
        return bool(ref["staged"]) or bool(cls._staged_objects(ref))

    # -- lifecycle (V1/V2) -------------------------------------------------
    @classmethod
    def init(cls, root: str, default_branch: str = "main") -> "LakeRepo":
        root = os.path.abspath(root)
        os.makedirs(os.path.join(root, "refs"), exist_ok=True)
        os.makedirs(os.path.join(root, "commits"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        cid = new_id()
        genesis = Commit(
            id=cid,
            parents=[],
            message="repo init",
            branch=default_branch,
            timestamp=time.time(),
            version=0,
            tables={},
        )
        atomic_write_json(os.path.join(root, "commits", f"{cid}.json"), genesis.to_json())
        atomic_write_json(
            os.path.join(root, "refs", f"{default_branch}.json"),
            {"head": cid, "staged": {}, "staged_objects": {}},
        )
        atomic_write_json(
            os.path.join(root, "repo.json"),
            {"default_branch": default_branch, "next_version": 1},
        )
        return cls(root)

    @classmethod
    def delete(cls, root: str) -> None:
        shutil.rmtree(root, ignore_errors=True)

    # -- refs / commits ----------------------------------------------------
    def branches(self) -> list[str]:
        return sorted(
            f[:-5] for f in os.listdir(os.path.join(self.root, "refs")) if f.endswith(".json")
        )

    def _read_ref(self, branch: str) -> dict:
        path = self._ref_file(branch)
        if not os.path.exists(path):
            raise KeyError(f"no such branch: {branch}")
        return read_json(path)

    def get_commit(self, cid: str) -> Commit:
        c = Commit.from_json(read_json(self._commit_file(cid)))
        # the ONE manifest-expansion point: every consumer sees plain
        # entry lists (see log.py's manifest-spill block)
        c.tables = {
            t: expand_entries(self.root, v, self._manifest_cache)
            for t, v in c.tables.items()
        }
        return c

    def _write_commit(self, c: Commit) -> None:
        """Serialize a commit with large entry lists spilled to shared
        content-addressed manifests (bounded metadata per commit); the
        in-memory object keeps plain expanded lists."""
        payload = c.to_json()
        parent_raw: dict = {}
        if c.parents:
            try:
                parent_raw = read_json(self._commit_file(c.parents[0])).get(
                    "tables", {}
                )
            except OSError:
                parent_raw = {}
        payload["tables"] = {
            t: spill_entries(self.root, v, parent_raw.get(t), self._manifest_cache)
            for t, v in c.tables.items()
        }
        atomic_write_json(self._commit_file(c.id), payload)

    def head(self, branch: str) -> Commit:
        """V10: current commit of a branch."""
        return self.get_commit(self._read_ref(branch)["head"])

    def log(self, branch_or_cid: str, limit: int | None = 100) -> list[Commit]:
        """History (first-parent walk), newest first. ``limit=None`` walks
        the full history — callers implementing at-or-before-timestamp
        lookups or DESCRIBE HISTORY must not silently truncate."""
        cid = self._resolve(branch_or_cid).id
        out: list[Commit] = []
        while cid and (limit is None or len(out) < limit):
            c = self.get_commit(cid)
            out.append(c)
            cid = c.parents[0] if c.parents else None
        return out

    def _resolve(self, ref: str, version_as_of: int | None = None) -> Commit:
        """Resolve branch name | commit id | 'branch~n' to a Commit; with
        ``version_as_of``, walk first-parents back to that global version
        (V14 Delta ``versionAsOf`` parity)."""
        base = ref
        back = 0
        if "~" in ref:
            base, n = ref.split("~", 1)
            back = int(n or 1)
        if os.path.exists(self._ref_file(base)):
            c = self.head(base)
        elif os.path.exists(self._commit_file(base)):
            c = self.get_commit(base)
        else:
            raise KeyError(f"cannot resolve ref: {ref}")
        for _ in range(back):
            if not c.parents:
                raise KeyError(f"ref walks past root: {ref}")
            c = self.get_commit(c.parents[0])
        if version_as_of is not None:
            while c.version > version_as_of:
                if not c.parents:
                    raise KeyError(f"no version {version_as_of} on {ref}")
                c = self.get_commit(c.parents[0])
            if c.version != version_as_of:
                raise KeyError(f"version {version_as_of} not on first-parent line of {ref}")
        return c

    def _next_version(self) -> int:
        """Monotone global version counter. Runs under the caller's
        ``RepoLock``; under optimistic multi-host writing the counter's
        read-modify-write can race a cross-host writer — at worst two
        in-flight commits draw the same number, and since the CAS fence
        aborts one of them before its ref publish, the COMMITTED
        first-parent chain stays strictly monotone (an aborted commit
        file may burn a number; gaps are harmless — time travel resolves
        by walking the chain, not by arithmetic)."""
        meta = read_json(self._repo_file)
        v = meta["next_version"]
        meta["next_version"] = v + 1
        atomic_write_json(self._repo_file, meta)
        return v

    # -- branching (V7) ----------------------------------------------------
    def create_branch(self, name: str, source: str = "main") -> Commit:
        """O(1): new ref pointing at source's head; data shared copy-on-write."""
        with RepoLock(self.root):
            if os.path.exists(self._ref_file(name)):
                raise ValueError(f"branch exists: {name}")
            src = self._resolve(source)
            self._write_ref(
                name, {"head": src.id, "staged": {}, "staged_objects": {}}
            )
            return src

    def delete_branch(self, name: str) -> None:
        meta = read_json(self._repo_file)
        if name == meta["default_branch"]:
            raise ValueError("cannot delete default branch")
        with RepoLock(self.root):
            os.unlink(self._ref_file(name))
            # drop the branch's CAS fences so a future branch of the same
            # name restarts its generation chain cleanly
            fdir = self._fence_dir()
            if os.path.isdir(fdir):
                for f in os.listdir(fdir):
                    if f.startswith(f"{name}.gen-"):
                        try:
                            os.unlink(os.path.join(fdir, f))
                        except FileNotFoundError:
                            pass

    # -- staging writes (V4/V5/V8) ----------------------------------------
    def write_table(
        self,
        branch: str,
        table: str,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        txn: dict | None = None,
        bloom_cols: list[str] | None = None,
        _internal: bool = False,
    ) -> str:
        """Stage a table write on a branch (uncommitted until ``commit``,
        mirroring lakeFS's upload-then-commit two-phase flow,
        ``README.md:85-105``). Data lands immediately as immutable parquet;
        only the ref's staged pointer changes.

        ``txn`` (optional) tags the staged entry with an idempotence token
        (e.g. ``{"stream_id": ..., "stream_batch_id": ...}``) so a writer
        that crashed between staging and commit can recognize — and drop —
        its own leftover staged copy on redelivery (Delta's
        ``txnAppId``/``txnVersion`` protocol, applied to the staged half).
        The tag survives only while the entry is exclusively this
        transaction's: mixing a tagged entry with a foreign write — in
        either direction — raises instead of silently weakening the
        writer's crash-recovery guarantee."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode}")
        if table.startswith(DV_PREFIX) and not _internal:
            raise ValueError(
                f"table names starting with {DV_PREFIX!r} are reserved for "
                f"deletion vectors (delete_where_dv)"
            )
        if not _internal:
            _check_name_unreserved(table, "table")
        # the __lg_ COLUMN namespace is reserved for engine internals
        # (row lineage __lg_fp/__lg_ri, MERGE's clause index __lg_cl,
        # fate tags): a stored column there would shadow those at
        # resolution time — Spark resolves FROM columns before lateral
        # aliases, case-insensitively — and silently corrupt DV DML and
        # MERGE clause selection (r11 review)
        if not _internal:
            lg_hit = [c for c in df.columns if c.lower().startswith("__lg_")]
            if lg_hit:
                raise ValueError(
                    f"write to {table!r}: column name(s) {lg_hit} use the "
                    f"reserved __lg_ prefix (engine lineage/merge "
                    f"internals) — rename them"
                )
        smap = self.table_schema_map(table, ref=branch)
        consumed = self._consumed_names(smap)
        generated = self._generated_names(smap)
        hit = [c for c in df.columns if c.lower() in consumed]
        if hit:
            raise ValueError(
                f"write to {table!r} uses column name(s) {hit} that were "
                "renamed away or dropped by ALTER TABLE; writing them would "
                "resurface old file data under a new meaning — use the "
                "current logical names"
            )
        gen_hit = [c for c in df.columns if c.lower() in generated]
        if gen_hit:
            # GENERATED columns are never stored: every read recomputes
            # them from their expression, so persisting a copy could only
            # go stale. Stripping here (rather than rejecting) keeps every
            # rewrite path — DML, OPTIMIZE, merge — oblivious to them.
            df = df.drop(*gen_hit)
        if mode == "append":
            # schema evolution policy (Delta-like): appends may ADD columns
            # (old rows read back null under merge_schema=True) but may not
            # CHANGE an existing column's type — that would poison every
            # future merged read of the table.
            try:
                prior = self.read_table(
                    df.sparkSession, table, branch, include_staged=True
                )
            except KeyError:
                prior = None
            if prior is not None:
                # case-INSENSITIVE name match (r13 review: a mixed-case
                # append like 'K' vs 'k' must not slip past the type
                # guard — Spark resolves identifiers case-insensitively)
                old = {f.name.lower(): f.dataType for f in prior.schema.fields}
                clashes = [
                    (
                        f.name,
                        old[f.name.lower()].simpleString(),
                        f.dataType.simpleString(),
                    )
                    for f in df.schema.fields
                    if f.name.lower() in old
                    and f.dataType != old[f.name.lower()]
                ]
                if clashes:
                    raise ValueError(
                        f"append to {table!r} changes column types: {clashes}; "
                        "overwrite instead or cast to the existing schema"
                    )
        # a declared PARTITIONED BY spec applies to EVERY write path
        # (INSERT, MERGE, COPY INTO, DML rewrites, OPTIMIZE) so the
        # table's layout can never silently degrade to flat; an explicit
        # conflicting partition_by raises rather than forking the layout
        declared = (
            []
            if _internal or table.startswith(DV_PREFIX)
            else self.table_partition_columns(table, branch)
        )
        if partition_by is None:
            partition_by = declared or None
        elif declared and [c.lower() for c in partition_by] != [
            c.lower() for c in declared
        ]:
            raise ValueError(
                f"write to {table!r}: partition_by={partition_by} conflicts "
                f"with the declared PARTITIONED BY ({', '.join(declared)}) "
                "spec — a mixed layout would fork the table's directory "
                "structure"
            )
        if partition_by:
            bycase = {c.lower(): c for c in df.columns}
            missing = [c for c in partition_by if c.lower() not in bycase]
            if missing:
                raise ValueError(
                    f"write to {table!r}: partition column(s) {missing} "
                    "absent from the written frame"
                )
            if declared:
                # Hive dir names take the partition COLUMN's spelling, so
                # the frame's casing must yield to the DECLARED casing —
                # otherwise a mixed-case append (COPY INTO from files
                # with 'P' headers) forks p=.../P=... dir naming
                for want in declared:
                    have = bycase[want.lower()]
                    if have != want:
                        df = df.withColumnRenamed(have, want)
                partition_by = list(declared)
            else:
                partition_by = [bycase[c.lower()] for c in partition_by]
        file_id = new_id()
        out_dir = self._data_dir(table, file_id)
        writer = df.write.mode("errorifexists")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(out_dir)
        if partition_by and not any(
            fn.endswith(".parquet")
            for _, _, fns in os.walk(out_dir)
            for fn in fns
        ):
            # a 0-row frame under partitionBy writes no part-files at
            # all (no partition dirs to create) — rewrite flat so the
            # snapshot entry still carries the table schema for reads
            shutil.rmtree(out_dir)
            df.repartition(1).write.mode("errorifexists").parquet(out_dir)
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.stats import (
            add_bloom_stats,
            nullable_schema_json,
            write_group_stats,
        )

        # record the written Spark schema in the manifest (flat groups
        # only: a partitioned group's footers lack the partition columns,
        # and those groups are read via basePath discovery anyway) so
        # reads can pin it and skip the footer-inference driver roundtrip
        schema_json = None
        if not partition_by:
            schema_json = nullable_schema_json(df.schema)
        write_group_stats(out_dir, schema_json)  # footer-derived manifest; best-effort
        if bloom_cols:
            # opt-in per-file bloom indexes: point-lookup DML/reads on
            # these (typically unclustered) columns can then skip files
            # min/max ranges cannot exclude. Build reads the column once
            # at write time; probes are manifest metadata.
            add_bloom_stats(out_dir, bloom_cols)
        self._enforce_constraints(df.sparkSession, branch, table, out_dir)
        rel = os.path.relpath(out_dir, self.root)
        with RepoLock(self.root):
            ref = self._read_ref(branch)
            staged = ref["staged"]
            entry = staged.get(table)
            etxn0 = (entry or {}).get("txn") if isinstance(entry, dict) else None
            if etxn0 and not (
                txn and txn.get("stream_id") == etxn0.get("stream_id")
            ):
                # ANY mode touching another idempotent writer's tagged
                # staged entry would destroy its crash-recovery state —
                # an overwrite silently clobbering the tag breaks that
                # writer's exactly-once replay just as surely as an
                # append stripping it. Fail loudly in every path.
                raise ValueError(
                    f"table {table!r} on {branch!r} has a staged entry "
                    f"from another writer (entry txn={etxn0}, incoming "
                    f"txn={txn}); commit or reset it before writing"
                )
            if mode == "overwrite" and entry is not None and txn and not etxn0:
                # the symmetric case to the tagged-entry guard above: a
                # TAGGED overwrite landing on an UNTAGGED foreign staged
                # entry would silently absorb the other writer's
                # uncommitted rows (include_staged reads see them) and
                # commit them under the stream's message. Same rule as
                # the append path: any tag mismatch in either direction
                # fails loudly.
                raise ValueError(
                    f"table {table!r} on {branch!r} has an untagged staged "
                    f"entry from another writer (incoming txn={txn}); "
                    "commit or reset it before writing"
                )
            if mode == "overwrite" or entry is None:
                base = [] if mode == "overwrite" else list(
                    self.get_commit(ref["head"]).tables.get(table, [])
                )
                staged[table] = {"files": base + [rel], "op": mode}
                if txn:
                    staged[table]["txn"] = dict(txn)
            elif entry["op"] == "drop":
                # append after a staged drop: the drop removed all prior
                # files, so the table restarts from just the new write —
                # leaving op='drop' would discard the append at commit
                staged[table] = {"files": [rel], "op": "append"}
                if txn:
                    staged[table]["txn"] = dict(txn)
            else:
                etxn = entry.get("txn")
                same_writer = bool(
                    txn and etxn and txn.get("stream_id") == etxn.get("stream_id")
                )
                if (etxn or txn) and not same_writer:
                    # mixing an idempotent writer's staged entry with a
                    # foreign write — in EITHER direction — would strip
                    # the crash-recovery tag (or write untagged rows the
                    # recovery would then discard) and turn exactly-once
                    # replay into silent duplication or loss. Fail
                    # loudly: the other party must commit or reset
                    # first. A tagged entry only exists inside a
                    # writer's stage→commit window.
                    raise ValueError(
                        f"table {table!r} on {branch!r} has a staged entry "
                        f"from another writer (entry txn={etxn}, incoming "
                        f"txn={txn}); commit or reset it before appending"
                    )
                entry["files"].append(rel)
                if same_writer:
                    entry["txn"] = dict(txn)
            if not _internal and mode == "overwrite":
                # an overwrite replaces every row, so any deletion vector
                # over the old files is obsolete — drop it in the same
                # staged unit (compaction/DML rewrites route through here
                # too, after reading the DV-applied table)
                dvt = DV_PREFIX + table
                if dvt in staged or dvt in self.get_commit(ref["head"]).tables:
                    staged[dvt] = {"files": [], "op": "drop"}
            self._write_ref(branch, ref)
        return rel

    def staged_txn(self, branch: str, table: str) -> dict | None:
        """The idempotence token riding a table's staged entry, if any —
        the probe a restarted idempotent writer uses to recognize its own
        crash leftovers (see ``write_table(txn=...)``)."""
        if not os.path.exists(self._ref_file(branch)):
            return None
        entry = self._read_ref(branch)["staged"].get(table)
        if entry and isinstance(entry.get("txn"), dict):
            return dict(entry["txn"])
        return None

    def unstage_table(self, branch: str, table: str) -> None:
        """Discard ONE table's uncommitted staged entry (``reset`` scoped
        to a single table), returning it to its committed state. The data
        files it pointed at stay on disk for ``vacuum`` to collect."""
        with RepoLock(self.root):
            ref = self._read_ref(branch)
            if table in ref["staged"]:
                del ref["staged"][table]
                self._write_ref(branch, ref)

    # -- staged-state snapshot/restore ---------------------------------
    # A multi-step DML (pruned DELETE/UPDATE, CTAS REPLACE) mutates staged
    # state in stages; if a middle step fails, the caller must put back the
    # snapshot it started from before retrying another strategy — otherwise
    # the fallback reads a half-mutated branch (include_staged=True) and
    # commits silent data loss.

    def staged_entry(self, branch: str, table: str) -> dict | None:
        """Deep-copied snapshot of one table's staged entry (None = not
        staged), for restore after a failed multi-step mutation."""
        import copy

        if not os.path.exists(self._ref_file(branch)):
            return None
        return copy.deepcopy(self._read_ref(branch)["staged"].get(table))

    def restore_staged_entry(
        self, branch: str, table: str, entry: dict | None
    ) -> None:
        """Put back a ``staged_entry`` snapshot verbatim (None = remove)."""
        import copy

        with RepoLock(self.root):
            ref = self._read_ref(branch)
            if entry is None:
                ref["staged"].pop(table, None)
            else:
                ref["staged"][table] = copy.deepcopy(entry)
            self._write_ref(branch, ref)

    def staged_object_entry(self, branch: str, path: str) -> dict | None:
        """Deep-copied snapshot of one object's staged entry (None = not
        staged) — the object-channel twin of ``staged_entry``."""
        import copy

        if not os.path.exists(self._ref_file(branch)):
            return None
        return copy.deepcopy(self._staged_objects(self._read_ref(branch)).get(path))

    def restore_staged_object_entry(
        self, branch: str, path: str, entry: dict | None
    ) -> None:
        """Put back a ``staged_object_entry`` snapshot (None = remove)."""
        import copy

        with RepoLock(self.root):
            ref = self._read_ref(branch)
            objs = self._staged_objects(ref)
            if entry is None:
                objs.pop(path, None)
            else:
                objs[path] = copy.deepcopy(entry)
            self._write_ref(branch, ref)

    # -- CHECK constraints (Delta ALTER TABLE ADD CONSTRAINT parity) -------
    # Stored as a versioned OBJECT (`_constraints/<table>.json`), so
    # constraints ride branching, commits, merges, diffs, and time travel
    # through the existing object machinery — no new metadata channel.

    @staticmethod
    def _constraints_path(table: str) -> str:
        return f"_constraints/{table}.json"

    def table_constraints(
        self, table: str, branch: str = "main", include_staged: bool = True
    ) -> dict[str, str]:
        """{constraint_name: check_expr} in effect for a table."""
        import json

        try:
            raw = self.get_object(
                self._constraints_path(table), branch, include_staged=include_staged
            )
        except KeyError:
            return {}
        return json.loads(raw)

    @staticmethod
    def _tblprops_path(table: str) -> str:
        return f"_tblprops/{table}.json"

    def table_properties(
        self, table: str, branch: str = "main", include_staged: bool = True
    ) -> dict[str, str]:
        """{key: value} table properties in effect (Delta's
        TBLPROPERTIES) — an ordinary versioned object, so properties
        ride branches, merges, clones, pushes, and time travel like
        CHECK constraints do."""
        import json

        try:
            raw = self.get_object(
                self._tblprops_path(table), branch, include_staged=include_staged
            )
        except KeyError:
            return {}
        return json.loads(raw)

    def set_table_properties(
        self, branch: str, table: str, props: dict[str, str]
    ) -> "Commit":
        """ALTER TABLE t SET TBLPROPERTIES: upsert the given keys in a
        metadata-only commit (clean-branch gated like every ALTER)."""
        import json

        self._require_clean_for_alter(branch, "SET TBLPROPERTIES")
        self._require_table(branch, table)
        if PARTITION_PROP in props:
            raise ValueError(
                f"TBLPROPERTIES key {PARTITION_PROP!r} is reserved for the "
                "declared PARTITIONED BY spec — set it via CREATE TABLE "
                "... PARTITIONED BY (...)"
            )
        if CLUSTER_PROP in props:
            raise ValueError(
                f"TBLPROPERTIES key {CLUSTER_PROP!r} is reserved for the "
                "declared CLUSTER BY spec — set it via CREATE TABLE ... "
                "CLUSTER BY (...) or ALTER TABLE ... CLUSTER BY (...)"
            )
        cur = self.table_properties(table, branch)
        cur.update({str(k): str(v) for k, v in props.items()})
        self.put_object(branch, self._tblprops_path(table), json.dumps(cur))
        return self.commit(
            branch, f"SET TBLPROPERTIES ({', '.join(sorted(props))}) ON {table}"
        )

    def unset_table_properties(
        self,
        branch: str,
        table: str,
        keys: list[str],
        if_exists: bool = False,
    ) -> "Commit":
        """ALTER TABLE t UNSET TBLPROPERTIES [IF EXISTS]: remove keys;
        missing keys raise unless ``if_exists`` (Delta semantics)."""
        import json

        self._require_clean_for_alter(branch, "UNSET TBLPROPERTIES")
        self._require_table(branch, table)
        if PARTITION_PROP in keys:
            raise ValueError(
                f"TBLPROPERTIES key {PARTITION_PROP!r} is reserved for the "
                "declared PARTITIONED BY spec — changing partitioning "
                "requires recreating the table"
            )
        if CLUSTER_PROP in keys:
            raise ValueError(
                f"TBLPROPERTIES key {CLUSTER_PROP!r} is reserved for the "
                "declared CLUSTER BY spec — change it via ALTER TABLE "
                "... CLUSTER BY (...) | NONE"
            )
        cur = self.table_properties(table, branch)
        missing = [k for k in keys if k not in cur]
        if missing and not if_exists:
            raise KeyError(
                f"no TBLPROPERTIES {missing} on {table!r} (use IF EXISTS)"
            )
        removed = [k for k in keys if k in cur]
        if not removed:
            # IF EXISTS with nothing to remove: no state change, no
            # spurious commit — return the unchanged head
            return self.head(branch)
        for k in removed:
            del cur[k]
        if cur:
            self.put_object(
                branch, self._tblprops_path(table), json.dumps(cur)
            )
        else:
            self._drop_tblprops_object(branch, table)
        return self.commit(
            branch,
            f"UNSET TBLPROPERTIES ({', '.join(sorted(removed))}) ON {table}",
        )

    # -- declared partitioning (r13): CREATE TABLE ... PARTITIONED BY -----

    def table_partition_columns(
        self, table: str, branch: str = "main", include_staged: bool = True
    ) -> list[str]:
        """The table's declared PARTITIONED BY columns (declaration
        order), or [] for an undeclared table. Stored under the reserved
        ``PARTITION_PROP`` tblproperties key so the spec rides branches,
        merges, clones, pushes, and time travel for free."""
        raw = self.table_properties(table, branch, include_staged).get(
            PARTITION_PROP, ""
        )
        return [c for c in raw.split(",") if c]

    def _stage_partition_spec(
        self, branch: str, table: str, cols: list[str]
    ) -> None:
        """Stage the declared partition spec (no commit — the caller's
        CREATE TABLE commit sweeps it in with the table itself)."""
        import json

        cur = self.table_properties(table, branch)
        cur[PARTITION_PROP] = ",".join(cols)
        self.put_object(branch, self._tblprops_path(table), json.dumps(cur))

    # -- declared clustering (r14): CLUSTER BY -----------------------------

    def table_cluster_columns(
        self, table: str, branch: str = "main", include_staged: bool = True
    ) -> list[str]:
        """The table's declared CLUSTER BY columns (declaration order),
        or [] — stored under the reserved ``CLUSTER_PROP`` key so the
        spec rides branches, merges, clones, renames, and time travel
        through the tblproperties machinery."""
        raw = self.table_properties(table, branch, include_staged).get(
            CLUSTER_PROP, ""
        )
        return [c for c in raw.split(",") if c]

    def _stage_cluster_spec(
        self, branch: str, table: str, cols: list[str]
    ) -> None:
        """Stage the declared cluster spec (no commit — the caller's
        CREATE TABLE commit sweeps it in with the table itself)."""
        import json

        cur = self.table_properties(table, branch)
        cur[CLUSTER_PROP] = ",".join(cols)
        self.put_object(branch, self._tblprops_path(table), json.dumps(cur))

    def _validate_cluster_cols(
        self, spark: SparkSession, branch: str, table: str, cols: list[str]
    ) -> list[str]:
        """Cluster columns must exist (case-corrected to the stored
        spelling) and be disjoint from the partition spec — delegates
        to the shared ``_validate_col_spec`` so ALTER-time and
        create-time validation can never drift."""
        if not cols:
            raise ValueError("CLUSTER BY needs at least one column")
        cols = _validate_col_spec(
            "CLUSTER BY",
            cols,
            self.read_table(spark, table, ref=branch).columns,
        )
        _check_cluster_disjoint(
            cols, self.table_partition_columns(table, branch)
        )
        return cols

    def alter_cluster_by(
        self,
        spark: SparkSession,
        branch: str,
        table: str,
        cols: list[str] | None,
    ) -> "Commit":
        """ALTER TABLE t CLUSTER BY (cols) | NONE — metadata-only commit
        updating the declared clustering spec. Takes effect at the next
        OPTIMIZE (data already written keeps its layout, as in Delta
        liquid clustering)."""
        import json

        self._require_clean_for_alter(branch, f"CLUSTER BY ON {table}")
        self._require_table(branch, table)
        cur = self.table_properties(table, branch)
        if cols is None:
            if CLUSTER_PROP not in cur:
                # nothing to retire: no state change, no spurious commit
                # (the unset_tblproperties no-change discipline)
                return self.head(branch)
            del cur[CLUSTER_PROP]
            what = "NONE"
        else:
            cols = self._validate_cluster_cols(spark, branch, table, cols)
            cur[CLUSTER_PROP] = ",".join(cols)
            what = f"({', '.join(cols)})"
        if cur:
            self.put_object(branch, self._tblprops_path(table), json.dumps(cur))
        else:
            self._drop_tblprops_object(branch, table)
        return self.commit(
            branch, f"SQL: ALTER TABLE {table} CLUSTER BY {what}"
        )

    def show_partitions(
        self,
        table: str,
        branch: str = "main",
        spec: dict[str, str] | None = None,
    ) -> list[str]:
        """SHOW PARTITIONS [PARTITION (k=v, ...)]: the table's live Hive
        partition directories as ``k1=v1/k2=v2`` strings (Spark's SHOW
        PARTITIONS shape), sorted; ``spec`` filters to partitions whose
        named keys carry the given values (Spark's partial-spec form).
        Metadata-only: partition dirs come from each group manifest's
        per-file rel paths (one JSON read per group, the object-store
        shape — no directory listing); the FS walk remains only as the
        fallback for manifest-less legacy groups and carried subdirs."""
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning import stats as stats_mod

        self._require_table(branch, table)
        declared = self.table_partition_columns(table, branch)
        if not declared:
            raise ValueError(
                f"SHOW PARTITIONS: table {table!r} has no declared "
                "PARTITIONED BY spec (create it with CREATE TABLE ... "
                "PARTITIONED BY (...))"
            )
        if spec:
            low = {c.lower() for c in declared}
            bad = sorted(k for k in spec if k.lower() not in low)
            if bad:
                raise ValueError(
                    f"SHOW PARTITIONS {table!r}: {bad} are not partition "
                    f"columns (declared: {declared})"
                )
        parts: set[str] = set()
        for rel in self.current_files(branch, table):
            full = os.path.join(self.root, rel)
            # a pruned rewrite may have carried a partition SUBDIR (or a
            # single part-file) by reference: its path already encodes
            # leading partition segments
            pre = [c for c in rel.split(os.sep) if "=" in c]
            if os.path.isfile(full):
                if pre:
                    parts.add("/".join(pre))
                continue
            if not os.path.isdir(full):
                continue
            manifest = stats_mod.read_group_manifest(full)
            if manifest and manifest.get("files"):
                for frel in manifest["files"]:
                    segs = [c for c in frel.split("/")[:-1] if "=" in c]
                    if pre or segs:
                        parts.add("/".join(pre + segs))
                continue
            for dp, _dn, fns in os.walk(full):
                if not any(fn.endswith(".parquet") for fn in fns):
                    continue
                segs = [
                    c
                    for c in os.path.relpath(dp, full).split(os.sep)
                    if "=" in c
                ]
                if pre or segs:
                    parts.add("/".join(pre + segs))
        out = sorted(parts)
        if spec:
            out = [p for p in out if self._partition_matches(p, spec)]
        return out

    @staticmethod
    def _partition_matches(part: str, spec: dict[str, str]) -> bool:
        """Whether a ``k1=v1/k2=v2`` partition string satisfies a partial
        spec: every spec key must be present with the given value
        (compared against both the raw path spelling and its
        percent-decoded form, keys case-insensitively)."""
        from urllib.parse import unquote, urlsplit

        vals: dict[str, tuple[str, str]] = {}
        for seg in part.split("/"):
            k, _, raw = seg.partition("=")
            vals[k.lower()] = (raw, unquote(raw))
        for k, want in spec.items():
            got = vals.get(k.lower())
            if got is None or str(want) not in got:
                return False
        return True

    # -- versioned views (r13): CREATE [OR REPLACE] VIEW -------------------
    # A view is its SELECT text, stored as a versioned object
    # (`_views/<name>.json`) — so views ride branches, commits, merges,
    # diffs, pushes, and time travel through the existing object
    # machinery, exactly like CHECK constraints and TBLPROPERTIES do.
    # Expansion happens at query time in LakeSQL (the text re-binds to
    # the CURRENT branch state, standard view semantics).

    @staticmethod
    def _view_path(name: str) -> str:
        return f"_views/{name}.json"

    def _reject_view_name(self, branch: str, name: str) -> None:
        """Shared guard for every table-creating repo path (clones; the
        SQL CREATE paths go through LakeSQL._reject_view_collision): a
        destination held by a stored view would be silently shadowed by
        view expansion."""
        if name.lower() in self.list_view_names(branch):
            raise ValueError(
                f"cannot clone to {name!r}: a view of that name exists "
                f"on {branch!r} (DROP VIEW it first)"
            )

    def _carry_copyinto(self, branch: str, src: str, dst: str) -> None:
        """Carry src's COPY INTO loaded-file registry to dst (staged,
        caller commits). Both clone flavors need it: the clone holds the
        landed rows (by copy or shared reference), so re-running the
        same COPY INTO against it must skip, not duplicate."""
        try:
            reg = self.get_object(
                self._copyinto_path(src), branch, include_staged=True
            )
        except KeyError:
            return
        self.put_object(branch, self._copyinto_path(dst), reg)

    def list_view_names(
        self, branch: str = "main", include_staged: bool = True
    ) -> list[str]:
        """View names in effect on a ref — path enumeration only, zero
        blob reads (the ``list_tables`` discipline: sql() consults this
        on every call, so it must stay metadata-cheap)."""
        paths = {
            p for p in self._resolve(branch).objects if p.startswith("_views/")
        }
        if include_staged and os.path.exists(self._ref_file(branch)):
            for p, e in self._staged_objects(self._read_ref(branch)).items():
                if not p.startswith("_views/"):
                    continue
                if e["op"] == "delete":
                    paths.discard(p)
                else:
                    paths.add(p)
        return sorted(p[len("_views/") : -len(".json")] for p in paths)

    def view_def(
        self, name: str, branch: str = "main", include_staged: bool = True
    ) -> dict:
        """A view's stored definition: ``{"sql": text}`` plus an optional
        ``"cols"`` list when the view was created with an explicit column
        list (``CREATE VIEW v (a, b) AS ...`` — positional renames of the
        SELECT's output)."""
        import json

        return json.loads(
            self.get_object(
                self._view_path(name.lower()), branch, include_staged=include_staged
            )
        )

    def view_text(
        self, name: str, branch: str = "main", include_staged: bool = True
    ) -> str:
        """A single view's stored SELECT text."""
        return self.view_def(name, branch, include_staged=include_staged)["sql"]

    def list_views(
        self, branch: str = "main", include_staged: bool = True
    ) -> dict[str, str]:
        """{view_name: select_text} in effect on a ref — the committed
        snapshot overlaid with staged object puts/deletes. Reads every
        view's blob; hot paths that only need NAMES use
        ``list_view_names``."""
        return {
            n: self.view_text(n, branch, include_staged=include_staged)
            for n in self.list_view_names(branch, include_staged=include_staged)
        }

    def put_view(
        self,
        branch: str,
        name: str,
        sql_text: str,
        replace: bool = False,
        cols: list[str] | None = None,
        alter: bool = False,
    ) -> "Commit":
        """CREATE [OR REPLACE] VIEW / ALTER VIEW ... AS — store the
        SELECT text (plus the optional explicit column list, a
        positional rename of the SELECT's output) in a metadata-only
        commit (clean-branch gated like every ALTER, so the commit can
        never sweep unrelated staged work in). ``alter`` requires the
        view to already exist and REPLACES its whole definition — a
        previous column list does not survive an ALTER that omits one
        (the definition is the unit, as in Delta)."""
        import json

        what = "ALTER VIEW" if alter else "CREATE VIEW"
        self._require_clean_for_alter(branch, f"{what} {name}")
        low = name.lower()
        _check_name_unreserved(name, "view")
        if low in {t.lower() for t in self.list_tables(branch)}:
            raise ValueError(
                f"cannot {what} {name!r}: a table of that name "
                f"exists on {branch!r}"
            )
        exists = low in self.list_view_names(branch)
        if alter and not exists:
            raise KeyError(f"no view {name!r} on {branch!r}")
        if exists and not replace and not alter:
            raise ValueError(
                f"view {name!r} already exists on {branch!r}; use "
                "CREATE OR REPLACE VIEW"
            )
        body: dict = {"sql": sql_text}
        if cols:
            body["cols"] = list(cols)
        self.put_object(branch, self._view_path(low), json.dumps(body))
        verb = (
            "ALTER VIEW"
            if alter
            else "CREATE OR REPLACE VIEW" if exists else "CREATE VIEW"
        )
        return self.commit(branch, f"SQL: {verb} {low}")

    def drop_view(self, branch: str, name: str) -> "Commit":
        """DROP VIEW — a metadata-only commit; missing views raise."""
        self._require_clean_for_alter(branch, f"DROP VIEW {name}")
        low = name.lower()
        if low not in self.list_view_names(branch):
            raise KeyError(f"no view {name!r} on {branch!r}")
        self.delete_object(branch, self._view_path(low))
        return self.commit(branch, f"SQL: DROP VIEW {low}")

    def deep_clone_table(
        self, spark: SparkSession, branch: str, src: str, dst: str
    ) -> "Commit":
        """CREATE TABLE dst DEEP CLONE src (Delta parity): materialize
        an independent COPY of src's current rows plus its logical
        definition — CHECK constraints, TBLPROPERTIES (including the
        declared partition spec, so the clone's files land partitioned),
        and column DEFAULT/IDENTITY registrations (the identity
        high-water mark carries, so inserts into the clone continue the
        sequence). Unlike SHALLOW CLONE the new table owns its files:
        vacuuming either table can never reclaim the other's data — the
        reason deep clone exists. Deletion-vectored rows are excluded by
        the read itself; schema-mapped columns (renames, generated
        columns) materialize under their CURRENT logical names as
        stored columns — the clone starts with a clean physical schema."""
        import json

        self._require_clean_for_alter(branch, f"DEEP CLONE {src}")
        head = self.get_commit(self._read_ref(branch)["head"])
        if src not in head.tables:
            raise KeyError(f"table {src} not on {branch}")
        if dst in head.tables:
            raise ValueError(f"table {dst!r} already exists on {branch!r}")
        self._reject_view_name(branch, dst)
        # fail BEFORE materializing the source read (write_table would
        # also reject these, but only after the expensive copy)
        if dst.startswith(DV_PREFIX):
            raise ValueError(
                f"table names starting with {DV_PREFIX!r} are reserved "
                "for deletion vectors (delete_where_dv)"
            )
        _check_name_unreserved(dst, "table")
        df = self.read_table(spark, src, ref=branch)
        try:
            # definition objects staged FIRST so the data write itself
            # honors the carried partition spec
            props = self.table_properties(src, branch)
            if props:
                self.put_object(
                    branch, self._tblprops_path(dst), json.dumps(props)
                )
            cons = self.table_constraints(src, branch)
            if cons:
                self.put_object(
                    branch, self._constraints_path(dst), json.dumps(cons)
                )
            meta = self.column_metadata(src, branch)
            if meta.get("defaults") or meta.get("identity"):
                self.put_object(
                    branch, self._colmeta_path(dst), json.dumps(meta)
                )
            self._carry_copyinto(branch, src, dst)
            self.write_table(branch, dst, df, mode="overwrite")
            return self.commit(branch, f"SQL: CREATE TABLE {dst} DEEP CLONE {src}")
        except Exception:
            # the branch was clean on entry (alter gate), so a reset
            # rolls back exactly this clone's staged definition + data
            self.reset(branch)
            raise

    # -- column metadata: DEFAULT values + IDENTITY columns (r12) ---------
    # Stored as one versioned object per table (the constraints /
    # tblprops discipline), so defaults and identity high-water marks
    # ride branches, merges, clones, pushes, and time travel. Shape:
    #   {"defaults": {col_lower: expr_sql},
    #    "identity": {col_lower: {"start": int, "step": int,
    #                             "hwm": int | None}}}
    # ``hwm`` is the LAST allocated value (None before any allocation);
    # an identity write stages the bumped object so the data append and
    # the mark land in ONE commit — a failed write rolls both back.

    @staticmethod
    def _colmeta_path(table: str) -> str:
        return f"_colmeta/{table}.json"

    def column_metadata(
        self, table: str, branch: str = "main", include_staged: bool = True
    ) -> dict:
        import json

        try:
            raw = self.get_object(
                self._colmeta_path(table), branch, include_staged=include_staged
            )
        except KeyError:
            return {"defaults": {}, "identity": {}}
        return json.loads(raw)

    def _stage_colmeta_retirement(
        self,
        branch: str,
        table: str,
        col_lower: str,
        rename_to: str | None = None,
    ):
        """Stage the colmeta follow-through of a DROP (remove the
        column's default/identity entries) or RENAME (carry them to the
        new name) — returns False when the column had no metadata
        (nothing staged), else the pre-staging snapshot for rollback.
        The caller commits via its schema step, sweeping this in."""
        import json

        meta = self.column_metadata(table, branch)
        if (
            col_lower not in meta["defaults"]
            and col_lower not in meta["identity"]
        ):
            return False
        for section in ("defaults", "identity"):
            if col_lower in meta[section]:
                ent = meta[section].pop(col_lower)
                if rename_to is not None:
                    meta[section][rename_to.lower()] = ent
        snap = self.staged_object_entry(branch, self._colmeta_path(table))
        self.put_object(branch, self._colmeta_path(table), json.dumps(meta))
        return snap

    def _drop_colmeta_object(self, branch: str, table: str) -> None:
        """Mirror of ``_drop_tblprops_object``: a successor table of the
        same name must not inherit defaults or an identity mark."""
        try:
            self.delete_object(branch, self._colmeta_path(table))
        except KeyError:
            pass

    def alter_set_default(
        self, spark: SparkSession, branch: str, table: str, col: str, expr: str
    ) -> "Commit":
        """ALTER TABLE t ALTER COLUMN c SET DEFAULT expr — the default
        applies at WRITE time (INSERT / COPY INTO / MERGE INSERT paths
        that omit the column); existing rows are untouched (Delta
        semantics). The expression must be self-contained (literals /
        deterministic functions, no column references): it is validated
        against a ZERO-column frame, because insert paths evaluate it in
        scopes where no target row exists."""
        import json

        self._require_clean_for_alter(branch, f"SET DEFAULT ON {col}")
        self._require_table(branch, table)
        cur = self.read_table(spark, table, ref=branch)
        resolved = {c.lower(): c for c in cur.columns}
        if col.lower() not in resolved:
            raise KeyError(f"no column {col!r} on {table!r}")
        meta = self.column_metadata(table, branch)
        if col.lower() in meta["identity"]:
            raise ValueError(
                f"column {col!r} is GENERATED ALWAYS AS IDENTITY — it "
                "cannot also carry a DEFAULT"
            )
        if col.lower() in self._generated_names(
            self.table_schema_map(table, ref=branch)
        ):
            raise ValueError(
                f"column {col!r} is GENERATED — it is computed on read, "
                "a DEFAULT would never apply"
            )
        dtype = dict(
            (f.name.lower(), f.dataType) for f in cur.schema.fields
        )[col.lower()]
        # zero-column frame: any column reference in the expression is
        # a loud analysis error here instead of a surprise at insert
        spark.range(1).select().select(F.expr(expr).cast(dtype))
        meta["defaults"][col.lower()] = expr
        self.put_object(branch, self._colmeta_path(table), json.dumps(meta))
        return self.commit(
            branch, f"ALTER TABLE {table} ALTER COLUMN {col} SET DEFAULT"
        )

    def alter_drop_default(
        self, branch: str, table: str, col: str
    ) -> "Commit":
        import json

        self._require_clean_for_alter(branch, f"DROP DEFAULT ON {col}")
        self._require_table(branch, table)
        meta = self.column_metadata(table, branch)
        if col.lower() not in meta["defaults"]:
            raise KeyError(f"column {col!r} on {table!r} has no DEFAULT")
        del meta["defaults"][col.lower()]
        self.put_object(branch, self._colmeta_path(table), json.dumps(meta))
        return self.commit(
            branch, f"ALTER TABLE {table} ALTER COLUMN {col} DROP DEFAULT"
        )

    @staticmethod
    def build_identity_entry(
        col: str, dtype: str, start: int, step: int, always: bool = True
    ) -> dict:
        """Validate an identity spec and build its colmeta entry — ONE
        source of truth for the type allowlist, bounds, and entry shape,
        shared by ALTER ADD IDENTITY and explicit-schema CREATE TABLE
        (r12 review)."""
        if step == 0:
            raise ValueError("IDENTITY INCREMENT BY must be non-zero")
        low = dtype.strip().lower()
        if low not in ("bigint", "long", "int", "integer"):
            raise ValueError(
                f"IDENTITY column {col!r} must be an integer type "
                f"(BIGINT/INT); got {dtype!r}"
            )
        ity = "int" if low in ("int", "integer") else "bigint"
        lo, hi = _IDENTITY_BOUNDS[ity]
        if not (lo <= int(start) <= hi):
            raise ValueError(
                f"IDENTITY START WITH {start} outside the {dtype} range"
            )
        return {
            "start": int(start),
            "step": int(step),
            "hwm": None,
            "type": ity,
            # ALWAYS: the engine owns every value, user writes refuse.
            # BY DEFAULT (Delta parity): explicit values are accepted
            # when the write names the column; the allocator is used
            # otherwise, and — as in Delta — explicit values may collide
            # with later allocations until SYNC IDENTITY realigns the
            # high-water mark with the data.
            "always": bool(always),
        }

    def alter_add_identity_column(
        self,
        spark: SparkSession,
        branch: str,
        table: str,
        col: str,
        dtype: str,
        start: int = 1,
        step: int = 1,
        always: bool = True,
    ) -> "Commit":
        """ALTER TABLE t ADD COLUMN c BIGINT GENERATED ALWAYS AS
        IDENTITY [(START WITH s [INCREMENT BY k])] — a STORED column
        whose values the engine allocates monotonically at write time
        (INSERT / COPY INTO / MERGE INSERT). Delta only allows identity
        at CREATE TABLE (which this engine also supports —
        ``LakeSQL._create_table_schema``); the ALTER spelling is an
        extension for EXISTING tables, with the ADD-column era
        semantics:
        rows written BEFORE the ALTER read the column as NULL (the
        add-null era), rows after carry allocated values. Allocation is
        per-write-batch: n rows take the half-open arithmetic range
        after the high-water mark in one exact bump — cost O(1)
        metadata plus numbering the batch, never table-proportional."""
        import json

        entry = self.build_identity_entry(col, dtype, start, step, always=always)
        self._require_clean_for_alter(branch, f"ADD IDENTITY COLUMN {col}")
        meta = self.column_metadata(table, branch)
        if col.lower() in meta["defaults"]:
            raise ValueError(
                f"column {col!r} carries a DEFAULT — it cannot also be "
                "GENERATED ALWAYS AS IDENTITY"
            )
        cur = self.read_table(spark, table, ref=branch)
        steps = self.table_schema_map(table, ref=branch)
        if col.lower() in {c.lower() for c in cur.columns}:
            raise ValueError(f"column {col!r} already exists on {table!r}")
        if col.lower() in self._consumed_names(steps):
            raise ValueError(
                f"column name {col!r} was previously renamed away or "
                f"dropped on {table!r}; reuse is forbidden"
            )
        cur.limit(0).select(F.lit(None).cast(dtype))
        # stage the identity registration FIRST, then append the plain
        # ADD schema step — its commit sweeps both objects atomically
        # (the add-null era machinery owns existence: pre-ALTER files
        # read NULL, exactly the documented semantics)
        meta["identity"][col.lower()] = entry
        snap = self.staged_object_entry(branch, self._colmeta_path(table))
        self.put_object(branch, self._colmeta_path(table), json.dumps(meta))
        try:
            return self._put_schema_step(
                branch,
                table,
                cur.columns,
                {"op": "add", "name": col, "type": dtype},
                f"ALTER TABLE {table} ADD COLUMN {col} {dtype} "
                f"GENERATED {'ALWAYS' if always else 'BY DEFAULT'} "
                "AS IDENTITY",
            )
        except Exception:
            self.restore_staged_object_entry(
                branch, self._colmeta_path(table), snap
            )
            raise

    def identity_columns(self, table: str, branch: str = "main") -> dict:
        """{col_lower: {"start", "step", "hwm"}} for a table's identity
        columns (staged-inclusive, like the write paths that consult
        it)."""
        return self.column_metadata(table, branch)["identity"]

    def allocate_identity(
        self, branch: str, table: str, col: str, n: int
    ) -> int:
        """Reserve ``n`` identity values for ``col``: returns the FIRST
        value; the caller assigns first, first+step, …, first+step·(n−1)
        and commits — the bumped high-water mark is STAGED here so the
        data append and the mark land atomically in that commit."""
        import json

        meta = self.column_metadata(table, branch)
        ent = meta["identity"][col.lower()]
        first = (
            ent["start"] if ent["hwm"] is None else ent["hwm"] + ent["step"]
        )
        if n > 0:
            last = first + ent["step"] * (n - 1)
            # "type" is recorded by alter_add_identity_column since the
            # feature first shipped — no released lineage carries an
            # entry without it; the bigint default is belt-and-braces
            lo, hi = _IDENTITY_BOUNDS[ent.get("type", "bigint")]
            if not (lo <= first <= hi and lo <= last <= hi):
                # loud, BEFORE staging: a silent cast would wrap or null
                # the allocated values (r12 review)
                raise ValueError(
                    f"IDENTITY {col!r} on {table!r}: allocating {n} values "
                    f"({first}…{last}) overflows the column's "
                    f"{ent.get('type', 'bigint')} range"
                )
            ent["hwm"] = last
            self.put_object(branch, self._colmeta_path(table), json.dumps(meta))
        return first

    def sync_identity(
        self, spark: SparkSession, branch: str, table: str
    ) -> "Commit":
        """ALTER TABLE t SYNC IDENTITY (Delta parity): realign every
        identity column's high-water mark with the DATA — after explicit
        inserts into a GENERATED BY DEFAULT column, the allocator may
        lag the stored values and hand out collisions; one aggregate
        scan (max for ascending, min for descending sequences) moves
        each mark to the furthest stored value when that is beyond the
        current mark. Marks never move backwards — history the allocator
        already promised stays promised."""
        import json

        self._require_clean_for_alter(branch, f"SYNC IDENTITY {table}")
        meta = self.column_metadata(table, branch)
        if not meta["identity"]:
            raise ValueError(f"table {table!r} has no identity columns")
        cur = self.read_table(spark, table, ref=branch)
        by_lower = {c.lower(): c for c in cur.columns}
        aggs = [
            (
                F.max(F.col(by_lower[c]))
                if ent["step"] > 0
                else F.min(F.col(by_lower[c]))
            ).alias(c)
            for c, ent in sorted(meta["identity"].items())
        ]
        row = cur.agg(*aggs).first()
        changed = False
        for c, ent in meta["identity"].items():
            far = row[c]
            if far is None:
                continue
            far, start, step = int(far), ent["start"], ent["step"]
            # Delta parity (r14 review): the realigned mark must stay ON
            # the declared start+n·step lattice — post-sync allocations
            # keep the sequence's congruence class — and never fall
            # before START (values short of the declared start promise
            # nothing about the sequence)
            if (far < start) if step > 0 else (far > start):
                continue
            cand = start + ((far - start) // step) * step
            hwm = ent["hwm"]
            ahead = hwm is None or (
                cand > hwm if step > 0 else cand < hwm
            )
            if ahead:
                ent["hwm"] = cand
                changed = True
        if not changed:
            # marks already aligned: succeed without an empty commit
            return self.head(branch)
        self.put_object(branch, self._colmeta_path(table), json.dumps(meta))
        return self.commit(
            branch, f"SQL: ALTER TABLE {table} SYNC IDENTITY"
        )

    def _require_table(self, branch: str, table: str) -> None:
        # ALTERs run on a clean branch (enforced by the callers), so the
        # committed head is the complete table universe; hidden deletion
        # vector companions are not user tables and take no properties
        if table.startswith(DV_PREFIX):
            raise KeyError(
                f"{table!r} is a hidden deletion-vector companion, not a "
                f"user table"
            )
        ref = self._read_ref(branch)
        head = self.get_commit(ref["head"]) if ref.get("head") else None
        known = set(head.tables) if head else set()
        if table not in known:
            raise KeyError(f"table {table!r} not found on branch {branch!r}")

    def _drop_tblprops_object(self, branch: str, table: str) -> None:
        """Remove a table's properties object if present — dropping or
        replacing a table must not leak its properties onto a future
        table of the same name (mirrors CHECK constraints)."""
        try:
            self.delete_object(branch, self._tblprops_path(table))
        except KeyError:
            pass

    def _require_clean_for_alter(self, branch: str, what: str) -> None:
        """ALTER TABLE statements are metadata-only transactions (as in
        Delta): they auto-commit, and committing would sweep unrelated
        staged writes into the ALTER's commit under a misleading
        message. Refuse on a dirty branch instead."""
        if self._is_dirty(self._read_ref(branch)):
            raise DirtyBranchError(
                f"{what}: branch {branch!r} has uncommitted staged "
                "changes; commit or reset first"
            )

    def add_constraint(
        self, spark: SparkSession, branch: str, table: str, name: str, expr: str
    ) -> "Commit":
        """ADD CONSTRAINT name CHECK (expr): like Delta, the CURRENT table
        must already satisfy the constraint (one scan), then every future
        write to it is validated. SQL semantics: a row violates only when
        the expression IS FALSE (NULL passes)."""
        import json

        self._require_clean_for_alter(branch, f"ADD CONSTRAINT {name}")
        current = self.read_table(spark, table, ref=branch)
        bad = current.filter(F.expr(f"({expr}) IS FALSE")).take(1)
        if bad:
            raise ConstraintViolation(
                f"existing rows of {table!r} violate CHECK ({expr}): {bad[0]}"
            )
        cons = self.table_constraints(table, branch)
        cons[name] = expr
        self.put_object(branch, self._constraints_path(table), json.dumps(cons))
        return self.commit(branch, f"ADD CONSTRAINT {name} ON {table}")

    def drop_constraint(self, branch: str, table: str, name: str) -> "Commit":
        import json

        self._require_clean_for_alter(branch, f"DROP CONSTRAINT {name}")
        cons = self.table_constraints(table, branch)
        if name not in cons:
            raise KeyError(f"no constraint {name!r} on {table!r}")
        del cons[name]
        self.put_object(branch, self._constraints_path(table), json.dumps(cons))
        return self.commit(branch, f"DROP CONSTRAINT {name} ON {table}")

    def _drop_constraints_object(self, branch: str, table: str) -> None:
        """Remove a table's constraints object if present (staged or
        committed) — dropping or replacing a table must not leak its
        CHECK constraints onto a future table of the same name."""
        try:
            self.delete_object(branch, self._constraints_path(table))
        except KeyError:
            pass

    # -- schema evolution (Delta column-mapping parity) --------------------
    # ALTER TABLE ADD/RENAME/DROP COLUMN are METADATA-ONLY: no data file is
    # rewritten (the O(1)-at-100-TB property Delta gets from column
    # mapping). The mapping lives in a versioned OBJECT
    # (`_schema/<table>.json`) — an ordered list of steps replayed on every
    # read — so schema changes ride branching, merges, diffs, and time
    # travel through the existing object machinery: a read at an old
    # version applies the OLD mapping and sees the old schema.

    @staticmethod
    def _schema_map_path(table: str) -> str:
        return f"_schema/{table}.json"

    def table_schema_map(
        self,
        table: str,
        ref: str = "main",
        version_as_of: int | None = None,
        include_staged: bool = True,
    ) -> dict | None:
        """The table's schema-evolution mapping at a ref/version:
        ``{"base": [logical column order when the first ALTER ran],
        "steps": [ordered ALTER steps]}`` — or None when the physical
        schema is the logical schema."""
        import json

        try:
            raw = self.get_object(
                self._schema_map_path(table),
                ref,
                version_as_of=version_as_of,
                include_staged=include_staged,
            )
        except KeyError:
            return None
        smap = json.loads(raw)
        if isinstance(smap, list):
            # pre-r6 format stored the bare step list; normalize so old
            # repos (and time-travel reads of old commits) keep working.
            # An empty base falls back to the deterministic sorted-tail
            # order rule in apply_schema_map.
            smap = {"base": [], "steps": smap}
        return smap

    @staticmethod
    def _consumed_names(smap: dict | None) -> set[str]:
        """Physical/former column names no longer addressable after the
        steps — renamed-away sources and dropped columns. Reusing one
        would make old files' data resurface under the new meaning, so
        ALTER and write_table both reject them (Delta forbids the same).
        Dropping a GENERATED column does NOT consume its name: nothing
        was ever stored under it, so re-adding (the only way to change a
        generated expression) is safe."""
        out: set[str] = set()
        gen: set[str] = set()
        for st in (smap or {}).get("steps", []):
            if st["op"] == "rename":
                out.add(st["from"].lower())
            elif st["op"] == "add_gen":
                gen.add(st["name"].lower())
            elif st["op"] == "drop":
                if st["name"].lower() in gen:
                    gen.discard(st["name"].lower())
                else:
                    out.add(st["name"].lower())
        return out

    @staticmethod
    def _generated_names(smap: dict | None) -> set[str]:
        """Live GENERATED column names UNDER THEIR CURRENT SPELLING:
        always recomputed on read, so a write providing them would be
        silently shadowed — rejected loudly instead (Delta validates
        provided values; recompute-only is the honest subset of that
        contract). Rename-aware via ``_generated_exprs`` (r12 review:
        the add_gen/drop-only replay lost track of a RENAMED generated
        column, letting INSERT store a shadow value that read back
        inconsistently against the recompute)."""
        return set(LakeRepo._generated_exprs(smap))

    @staticmethod
    def _generated_exprs(smap: dict | None) -> dict[str, tuple[str, str]]:
        """{current_lower_name: (current_name, expr)} of LIVE generated
        columns — ONE schema-step replay (add_gen / rename-of-the-
        column-itself / drop) shared by the write-rejection paths,
        ``_gen_refs``, and DESCRIBE TABLE's annotations, so none of
        them can drift on step semantics (r12 review)."""
        out: dict[str, tuple[str, str]] = {}
        for st in (smap or {}).get("steps", []):
            op = st["op"]
            if op == "add_gen":
                out[st["name"].lower()] = (st["name"], st["expr"])
            elif op == "rename":
                old = st["from"].lower()
                if old in out:
                    _disp, expr = out.pop(old)
                    out[st["to"].lower()] = (st["to"], expr)
            elif op == "drop":
                out.pop(st["name"].lower(), None)
        return out

    @staticmethod
    def apply_schema_map(df: DataFrame, smap: dict) -> DataFrame:
        """Replay schema-evolution steps on a snapshot read. Steps are
        sequential — each operates on the logical schema produced by the
        previous one — so a rename chain a→b→c replays correctly. A
        rename where BOTH names exist (old files carry the old name,
        post-rename appends the new) merges via coalesce: ALTER validated
        at step-creation time that the target name was unused, so the two
        physical columns are disjoint eras of the same logical column.

        The final select pins the LOGICAL column order (recorded base
        order + step replay): the parquet union schema's field order
        depends on which file's footer merges first, so without the pin
        an era-mixed table's column order would vary run-to-run — silent
        poison for positional consumers like INSERT INTO."""
        for st in smap["steps"]:
            op = st["op"]
            if op == "rename":
                a, b = st["from"], st["to"]
                if a in df.columns and b in df.columns:
                    df = df.withColumn(b, F.coalesce(F.col(b), F.col(a))).drop(a)
                elif a in df.columns:
                    df = df.withColumnRenamed(a, b)
            elif op == "drop":
                if st["name"] in df.columns:
                    df = df.drop(st["name"])
            elif op == "add":
                if st["name"] not in df.columns:
                    df = df.withColumn(st["name"], F.lit(None).cast(st["type"]))
                else:
                    # appends after the ADD carry the column; pin the
                    # declared type so the logical schema never drifts
                    df = df.withColumn(
                        st["name"], F.col(st["name"]).cast(st["type"])
                    )
            elif op == "add_gen":
                # GENERATED ALWAYS AS: recomputed on every read from the
                # logical columns at this point in the step chain — never
                # stored, so it costs zero bytes and can't go stale
                df = df.withColumn(
                    st["name"], F.expr(st["expr"]).cast(st["type"])
                )
            elif op == "widen":
                # lossless type widening (r14): old files keep the
                # narrow physical encoding; the cast is exact by the
                # _WIDEN_OK lattice, and appends land the wide type
                if st["name"] in df.columns:
                    df = df.withColumn(
                        st["name"], F.col(st["name"]).cast(st["type"])
                    )
        order = list(smap.get("base") or [])
        for st in smap["steps"]:
            if st["op"] == "rename" and st["from"] in order:
                order[order.index(st["from"])] = st["to"]
            elif st["op"] == "drop" and st["name"] in order:
                order.remove(st["name"])
            elif st["op"] in ("add", "add_gen") and st["name"] not in order:
                order.append(st["name"])
        # merge-schema appends may have added columns outside the ALTER
        # history; give them a deterministic (sorted) tail position
        order = [c for c in order if c in df.columns] + sorted(
            c for c in df.columns if c not in order
        )
        return df.select(*order)

    @staticmethod
    def _era_column_names(smap: dict | None, col: str) -> list[str] | None:
        """Physical names a LIVE logical column may be stored under
        across a table's schema-evolution eras: the rename chain walked
        backward from the head name, newest first (r11 — lets metadata
        COUNT(col) answer on evolved tables). Returns None when the
        column's lineage is not rename-only: an ADD step casts stored
        values on read (a lossy cast could null them — footer null
        counts can't see that), GENERATED columns are never stored, and
        a drop/reuse means the name's history is not one column. Files
        from eras before the column existed simply contain none of the
        returned names (the column reads all-NULL there)."""
        names = [col]
        cur = col.lower()
        for st in reversed((smap or {}).get("steps", [])):
            op = st["op"]
            if op == "rename":
                if st["to"].lower() == cur:
                    names.append(st["from"])
                    cur = st["from"].lower()
                elif st["from"].lower() == cur:
                    # the tracked name was consumed by a rename INTO
                    # something else — a live column can't reach here
                    # unless the name was somehow reused; decline
                    return None
            elif op in ("add", "add_gen", "drop"):
                if st["name"].lower() == cur:
                    return None
            else:
                # an unrecognized step kind could affect stored values
                # (e.g. a future read-time cast) — decline rather than
                # pretend the lineage is rename-only
                return None
        return names

    def _union_copyinto_blobs(
        self, path: str, s_rel: str | None, d_rel: str | None, b_rel: str | None
    ) -> str | None:
        """COPY INTO loaded-file registries are union-able maps of
        IMMUTABLE landed files, so both-sides-changed need not conflict
        (r11 review — object conflicts otherwise have no resolution
        path): merged = base ∪ src ∪ dst. The same landed path with
        DIFFERENT signatures on the two sides is the immutability
        violation COPY INTO itself raises on — that stays a real
        conflict (returns None), as does a side that deleted the
        registry outright (a DROP racing a load is genuinely
        ambiguous). Returns the merged blob's stored rel path."""
        import json

        if not path.startswith("_copyinto/") or s_rel is None or d_rel is None:
            return None

        def load(rel: str | None) -> dict:
            if rel is None:
                return {"files": {}}
            with open(os.path.join(self.root, rel)) as f:
                return json.loads(f.read())

        try:
            srcm, dstm, basem = load(s_rel), load(d_rel), load(b_rel)
        except Exception:
            return None
        # true three-way per key: a ONE-sided signature update (the
        # documented force-reload flow) resolves to the side that
        # changed; only both-sides-changed-differently conflicts. A
        # side DELETING a landed entry never happens through COPY INTO
        # (drops clear the whole registry, handled above) — stay
        # conservative and conflict on that shape.
        bf = basem.get("files", {})
        sf = srcm.get("files", {})
        df = dstm.get("files", {})
        out = {}
        for k in set(bf) | set(sf) | set(df):
            bv, sv, dv = bf.get(k), sf.get(k), df.get(k)
            if sv == dv:
                v = sv
            elif dv == bv:
                v = sv
            elif sv == bv:
                v = dv
            else:
                return None  # same landed path, different bytes, both sides
            if v is None:
                return None  # one side dropped an entry — not a COPY INTO shape
            out[k] = v
        blob = self._object_blob(new_id())
        os.makedirs(os.path.dirname(blob), exist_ok=True)
        with open(blob, "w") as f:
            json.dump({"files": out}, f)
        return os.path.relpath(blob, self.root)

    def _merge_colmeta_blobs(
        self, path: str, s_rel: str | None, d_rel: str | None, b_rel: str | None
    ) -> str | None:
        """Three-way resolution for `_colmeta/` objects (r12 review —
        without one, two branches that both insert into an identity
        table could never merge). Defaults resolve per key exactly like
        the COPY INTO registry (one-sided change wins, both-sides-
        different conflicts, a one-sided DROP DEFAULT removes the key).
        Identity entries must agree on everything but the high-water
        mark; the merged hwm is the FURTHEST-ADVANCED of the two sides
        (max for positive step, min for negative), so future
        allocations never reuse either side's range. Values the two
        branches allocated independently BEFORE the merge can overlap —
        the merge keeps the rows as committed (renumbering would break
        external references); identity uniqueness is per branch
        lineage, the documented branch-semantics tradeoff."""
        import json

        if not path.startswith("_colmeta/") or s_rel is None or d_rel is None:
            return None

        def load(rel: str | None) -> dict:
            if rel is None:
                return {"defaults": {}, "identity": {}}
            with open(os.path.join(self.root, rel)) as f:
                raw = json.loads(f.read())
            # normalize shape defensively (the _union_copyinto_blobs
            # discipline): a malformed blob resolves to a conflict
            # below, never a KeyError out of merge()
            return {
                "defaults": raw.get("defaults", {}),
                "identity": raw.get("identity", {}),
            }

        try:
            srcm, dstm, basem = load(s_rel), load(d_rel), load(b_rel)
        except Exception:
            return None
        out: dict = {"defaults": {}, "identity": {}}
        for k in (
            set(basem["defaults"]) | set(srcm["defaults"]) | set(dstm["defaults"])
        ):
            bv = basem["defaults"].get(k)
            sv = srcm["defaults"].get(k)
            dv = dstm["defaults"].get(k)
            if sv == dv:
                v = sv
            elif dv == bv:
                v = sv
            elif sv == bv:
                v = dv
            else:
                return None  # both sides set different defaults
            if v is not None:
                out["defaults"][k] = v
        for k in (
            set(basem["identity"]) | set(srcm["identity"]) | set(dstm["identity"])
        ):
            bv = basem["identity"].get(k)
            sv = srcm["identity"].get(k)
            dv = dstm["identity"].get(k)
            # the standard three-way first: unchanged/one-sided shapes
            # (including a one-sided drop of the registration)
            if sv == dv:
                v = sv
            elif dv == bv:
                v = sv
            elif sv == bv:
                v = dv
            elif sv is not None and dv is not None:
                # both sides advanced: configs must agree, marks merge
                # to the furthest-advanced so future allocations never
                # reuse either side's range
                cfg_s = {a: x for a, x in sv.items() if a != "hwm"}
                cfg_d = {a: x for a, x in dv.items() if a != "hwm"}
                if cfg_s != cfg_d:
                    return None
                hs, hd = sv.get("hwm"), dv.get("hwm")
                if hs is None:
                    hwm = hd
                elif hd is None:
                    hwm = hs
                else:
                    hwm = (
                        max(hs, hd)
                        if cfg_s.get("step", 1) > 0
                        else min(hs, hd)
                    )
                v = {**cfg_s, "hwm": hwm}
            else:
                # one side dropped the registration, the other advanced
                # it — genuinely ambiguous
                return None
            if v is not None:
                out["identity"][k] = v
        blob = self._object_blob(new_id())
        os.makedirs(os.path.dirname(blob), exist_ok=True)
        with open(blob, "w") as f:
            json.dump(out, f)
        return os.path.relpath(blob, self.root)

    def _constraint_refs(self, table: str, branch: str, col: str) -> list[str]:
        """Names of CHECK constraints whose expression mentions ``col``
        (word-boundary match — conservative enough for identifiers)."""
        import re as _re

        cons = self.table_constraints(table, branch)
        pat = _re.compile(rf"(?<![A-Za-z0-9_`]){_re.escape(col)}(?![A-Za-z0-9_])", _re.I)
        return [n for n, e in cons.items() if pat.search(e)]

    def _put_schema_step(
        self, branch: str, table: str, base_cols: list[str], step: dict, msg: str
    ) -> "Commit":
        """Append one ALTER step to the mapping object and commit it.
        ``base_cols`` (the CURRENT logical order) seeds the order pin on
        the first ALTER. On commit failure the staged object is rolled
        back — a lingering staged mapping would otherwise be swept into
        the next unrelated COMMIT under a misleading message."""
        import json

        spath = self._schema_map_path(table)
        snap = self.staged_object_entry(branch, spath)
        smap = self.table_schema_map(table, ref=branch) or {
            "base": list(base_cols),
            "steps": [],
        }
        smap["steps"].append(step)
        self.put_object(branch, spath, json.dumps(smap))
        try:
            return self.commit(branch, msg)
        except Exception:
            self.restore_staged_object_entry(branch, spath, snap)
            raise

    def alter_add_column(
        self, spark: SparkSession, branch: str, table: str, col: str, dtype: str
    ) -> "Commit":
        """ALTER TABLE ADD COLUMN col TYPE — metadata-only; existing rows
        read back NULL (Delta semantics; no DEFAULT backfill, which would
        need per-file provenance to stay exact)."""
        self._require_clean_for_alter(branch, f"ADD COLUMN {col}")
        cur = self.read_table(spark, table, ref=branch)
        steps = self.table_schema_map(table, ref=branch)
        if col.lower() in {c.lower() for c in cur.columns}:
            raise ValueError(f"column {col!r} already exists on {table!r}")
        if col.lower() in self._consumed_names(steps):
            raise ValueError(
                f"column name {col!r} was previously renamed away or "
                f"dropped on {table!r}; reusing it would resurface old "
                "file data under a new meaning"
            )
        # validate the type string eagerly (raises on garbage)
        cur.limit(0).select(F.lit(None).cast(dtype))
        return self._put_schema_step(
            branch,
            table,
            cur.columns,
            {"op": "add", "name": col, "type": dtype},
            f"ALTER TABLE {table} ADD COLUMN {col} {dtype}",
        )

    #: lossless type-widening lattice (Delta type-widening parity):
    #: every hop preserves every representable value exactly AND is a
    #: promotion Spark's parquet scan/union coercion performs natively
    #: (int widths up the chain; float→double). int→double is absent —
    #: the parquet reader refuses that promotion — and long→double is
    #: absent because it loses integer precision past 2^53.
    _WIDEN_OK = {
        "tinyint": {"smallint", "int", "bigint"},
        "smallint": {"int", "bigint"},
        "int": {"bigint"},
        "float": {"double"},
    }

    def alter_widen_column(
        self, spark: SparkSession, branch: str, table: str, col: str, dtype: str
    ) -> "Commit":
        """ALTER TABLE t ALTER COLUMN c TYPE wider — METADATA-ONLY type
        widening (Delta parity): one schema step; existing files keep
        their narrow physical encoding and re-read through a lossless
        cast, appends land the wide type. Only hops on the `_WIDEN_OK`
        lattice are legal — narrowing or precision-losing changes refuse
        loudly. Generated columns refuse (their type follows the stored
        expression — re-add instead); identity columns refuse (their
        overflow bounds are part of the allocation contract)."""
        self._require_clean_for_alter(branch, f"ALTER COLUMN {col} TYPE")
        cur = self.read_table(spark, table, ref=branch)
        smap = self.table_schema_map(table, ref=branch)
        by_lower = {f.name.lower(): f for f in cur.schema.fields}
        f = by_lower.get(col.lower())
        if f is None:
            raise KeyError(f"no column {col!r} on {table!r}")
        if col.lower() in self._generated_names(smap):
            raise ValueError(
                f"column {col!r} is GENERATED — its type follows the "
                "expression; drop and re-add it with a new cast instead"
            )
        if col.lower() in self.column_metadata(table, branch)["identity"]:
            raise ValueError(
                f"column {col!r} is an IDENTITY column — its declared "
                "type bounds the allocation sequence and cannot widen"
            )
        old_t = f.dataType.simpleString()
        new_t = dtype.strip().lower()
        new_t = {"long": "bigint", "integer": "int", "short": "smallint", "byte": "tinyint"}.get(new_t, new_t)
        if new_t == old_t:
            raise ValueError(
                f"column {col!r} already has type {old_t!r}"
            )
        if new_t not in self._WIDEN_OK.get(old_t, set()):
            raise ValueError(
                f"cannot change {table}.{col} from {old_t!r} to "
                f"{new_t!r}: only lossless widenings are supported "
                f"({old_t!r} → {sorted(self._WIDEN_OK.get(old_t, set())) or 'nothing'})"
            )
        return self._put_schema_step(
            branch,
            table,
            cur.columns,
            {"op": "widen", "name": f.name, "type": new_t},
            f"ALTER TABLE {table} ALTER COLUMN {f.name} TYPE {new_t}",
        )

    @staticmethod
    def _gen_refs(smap: dict | None, col: str) -> list[str]:
        """Current names of live GENERATED columns whose expression
        mentions ``col`` (word-boundary match) — renaming/dropping the
        referenced column would silently break the stored expression.
        Shares the rename-aware replay (``_generated_exprs``)."""
        import re as _re

        pat = _re.compile(
            rf"(?<![A-Za-z0-9_`]){_re.escape(col)}(?![A-Za-z0-9_])", _re.I
        )
        return [
            disp
            for disp, expr in LakeRepo._generated_exprs(smap).values()
            if pat.search(expr)
        ]

    def alter_add_generated_column(
        self,
        spark: SparkSession,
        branch: str,
        table: str,
        col: str,
        dtype: str,
        expr: str,
    ) -> "Commit":
        """ALTER TABLE ADD COLUMN col TYPE GENERATED ALWAYS AS (expr) —
        metadata-only; the column is recomputed from the logical schema
        on every read (never stored), so it exists retroactively for all
        versions at and after this ALTER and costs zero bytes."""
        self._require_clean_for_alter(branch, f"ADD GENERATED COLUMN {col}")
        cur = self.read_table(spark, table, ref=branch)
        smap = self.table_schema_map(table, ref=branch)
        if col.lower() in {c.lower() for c in cur.columns}:
            raise ValueError(f"column {col!r} already exists on {table!r}")
        if col.lower() in self._consumed_names(smap):
            raise ValueError(
                f"column name {col!r} was previously renamed away or "
                f"dropped on {table!r}; reuse is forbidden"
            )
        # eager validation: the expression must resolve against the
        # CURRENT logical schema and cast to the declared type
        cur.limit(0).select(F.expr(expr).cast(dtype))
        return self._put_schema_step(
            branch,
            table,
            cur.columns,
            {"op": "add_gen", "name": col, "type": dtype, "expr": expr},
            f"ALTER TABLE {table} ADD COLUMN {col} {dtype} GENERATED ALWAYS AS ({expr})",
        )

    def alter_rename_column(
        self, spark: SparkSession, branch: str, table: str, old: str, new: str
    ) -> "Commit":
        """ALTER TABLE RENAME COLUMN old TO new — metadata-only. Blocked
        while a CHECK constraint references the column (Delta does the
        same): the stored expression would silently stop binding."""
        self._require_clean_for_alter(branch, f"RENAME COLUMN {old}")
        cur = self.read_table(spark, table, ref=branch)
        steps = self.table_schema_map(table, ref=branch)
        resolved = {c.lower(): c for c in cur.columns}
        if old.lower() not in resolved:
            raise KeyError(f"no column {old!r} on {table!r}")
        if new.lower() in resolved:
            raise ValueError(f"column {new!r} already exists on {table!r}")
        if new.lower() in self._consumed_names(steps):
            raise ValueError(
                f"column name {new!r} was previously renamed away or "
                f"dropped on {table!r}; reuse is forbidden"
            )
        refs = self._constraint_refs(table, branch, resolved[old.lower()])
        if refs:
            raise ValueError(
                f"cannot rename {old!r}: referenced by CHECK constraint(s) "
                f"{refs}; drop them first"
            )
        grefs = self._gen_refs(steps, resolved[old.lower()])
        if grefs:
            raise ValueError(
                f"cannot rename {old!r}: referenced by GENERATED column(s) "
                f"{grefs}; drop them first"
            )
        if old.lower() in (
            c.lower() for c in self.table_partition_columns(table, branch)
        ):
            # existing Hive dirs are keyed `old=value`; a renamed spec
            # would fork the directory layout (Delta blocks this too)
            raise ValueError(
                f"cannot rename {old!r}: it is a declared PARTITIONED BY "
                f"column of {table!r} — changing partitioning requires "
                "recreating the table"
            )
        # a DEFAULT or identity registration follows the column to its
        # new name (r12 review: leaving it keyed under the old name
        # silently detached the default and orphaned the identity)
        snap = self._stage_colmeta_retirement(
            branch, table, old.lower(), rename_to=new
        )
        # a declared CLUSTER BY spec follows too (it is pure metadata —
        # no directory layout to fork, unlike partition columns); staged
        # first so the schema step's commit sweeps both atomically
        clus = self.table_cluster_columns(table, branch)
        props_snap = False
        if old.lower() in (c.lower() for c in clus):
            props_snap = self.staged_object_entry(
                branch, self._tblprops_path(table)
            )
            self._stage_cluster_spec(
                branch,
                table,
                [new if c.lower() == old.lower() else c for c in clus],
            )
        try:
            return self._put_schema_step(
                branch,
                table,
                cur.columns,
                {"op": "rename", "from": resolved[old.lower()], "to": new},
                f"ALTER TABLE {table} RENAME COLUMN {old} TO {new}",
            )
        except Exception:
            if snap is not False:
                self.restore_staged_object_entry(
                    branch, self._colmeta_path(table), snap
                )
            if props_snap is not False:
                self.restore_staged_object_entry(
                    branch, self._tblprops_path(table), props_snap
                )
            raise

    def alter_drop_column(
        self, spark: SparkSession, branch: str, table: str, col: str
    ) -> "Commit":
        """ALTER TABLE DROP COLUMN col — metadata-only; the bytes stay in
        the files (vacuum-compaction can rewrite them out later) but the
        column vanishes from every read at this and future versions."""
        self._require_clean_for_alter(branch, f"DROP COLUMN {col}")
        cur = self.read_table(spark, table, ref=branch)
        resolved = {c.lower(): c for c in cur.columns}
        if col.lower() not in resolved:
            raise KeyError(f"no column {col!r} on {table!r}")
        if len(cur.columns) == 1:
            raise ValueError(f"cannot drop the only column of {table!r}")
        refs = self._constraint_refs(table, branch, resolved[col.lower()])
        if refs:
            raise ValueError(
                f"cannot drop {col!r}: referenced by CHECK constraint(s) "
                f"{refs}; drop them first"
            )
        smap = self.table_schema_map(table, ref=branch)
        grefs = [
            g for g in self._gen_refs(smap, resolved[col.lower()])
            if g.lower() != col.lower()  # a gen column may drop itself
        ]
        if grefs:
            raise ValueError(
                f"cannot drop {col!r}: referenced by GENERATED column(s) "
                f"{grefs}; drop them first"
            )
        if col.lower() in (
            c.lower() for c in self.table_partition_columns(table, branch)
        ):
            raise ValueError(
                f"cannot drop {col!r}: it is a declared PARTITIONED BY "
                f"column of {table!r} — changing partitioning requires "
                "recreating the table"
            )
        if col.lower() in (
            c.lower() for c in self.table_cluster_columns(table, branch)
        ):
            # a stale spec would crash the next plain OPTIMIZE and make
            # SHOW CREATE TABLE non-replayable (Delta blocks this too)
            raise ValueError(
                f"cannot drop {col!r}: it is a declared CLUSTER BY column "
                f"of {table!r} — run ALTER TABLE {table} CLUSTER BY "
                "(...) | NONE first"
            )
        # dropping a column retires its DEFAULT and identity
        # registration with it (r12 review: an orphaned identity entry
        # would crash every later insert path); staged first so the
        # schema step's commit sweeps both atomically
        snap = self._stage_colmeta_retirement(branch, table, col.lower())
        try:
            return self._put_schema_step(
                branch,
                table,
                cur.columns,
                {"op": "drop", "name": resolved[col.lower()]},
                f"ALTER TABLE {table} DROP COLUMN {col}",
            )
        except Exception:
            if snap is not False:
                self.restore_staged_object_entry(
                    branch, self._colmeta_path(table), snap
                )
            raise

    def clone_table(self, branch: str, src: str, dst: str) -> "Commit":
        """O(1) SHALLOW CLONE (Delta parity): ``dst`` starts as a
        metadata pointer at ``src``'s current committed file list — zero
        bytes copied at any table size. CHECK constraints and the
        column-mapping object copy with it (they are part of the table's
        logical definition). Writes to either table diverge from there
        (immutable files = copy-on-write for free), and ``vacuum`` keeps
        the shared files live as long as either table's history needs
        them."""
        import json

        self._require_clean_for_alter(branch, f"CLONE {src}")
        head = self.get_commit(self._read_ref(branch)["head"])
        if src not in head.tables:
            raise KeyError(f"table {src} not on {branch}")
        if dst in head.tables:
            raise ValueError(f"table {dst!r} already exists on {branch!r}")
        if dst.startswith(DV_PREFIX):
            # the shallow path never passes write_table, so it must
            # reject the deletion-vector namespace itself (r13 re-review:
            # a clone landing at __dv__<t> would poison every read of t)
            raise ValueError(
                f"table names starting with {DV_PREFIX!r} are reserved "
                "for deletion vectors (delete_where_dv)"
            )
        self._reject_view_name(branch, dst)
        _check_name_unreserved(dst, "table")
        self.stage_table_files(branch, dst, list(head.tables[src]), op="overwrite")
        dv_src = head.tables.get(DV_PREFIX + src)
        try:
            if dv_src:
                # the deletion vector is part of the table's VISIBLE
                # state: cloning the file list without it resurrects
                # every vectored row (the r8 bypass-read_table bug
                # class). The companion clones by reference too — later
                # DV DML on either table APPENDS its own groups, so the
                # clones diverge without touching the shared ones.
                self.stage_table_files(
                    branch, DV_PREFIX + dst, list(dv_src), op="overwrite"
                )
            cons = self.table_constraints(src, branch, include_staged=False)
            if cons:
                self.put_object(branch, self._constraints_path(dst), json.dumps(cons))
            smap = self.table_schema_map(src, ref=branch, include_staged=False)
            if smap:
                self.put_object(branch, self._schema_map_path(dst), json.dumps(smap))
            props = self.table_properties(src, branch, include_staged=False)
            if props:
                self.put_object(
                    branch, self._tblprops_path(dst), json.dumps(props)
                )
            cmeta = self.column_metadata(src, branch, include_staged=False)
            if cmeta["defaults"] or cmeta["identity"]:
                # DEFAULT/identity metadata is part of the table's
                # logical definition too (r12 review); the clone
                # continues allocation from the same high-water mark
                self.put_object(
                    branch, self._colmeta_path(dst), json.dumps(cmeta)
                )
            self._carry_copyinto(branch, src, dst)
            return self.commit(branch, f"CLONE {src} -> {dst}")
        except Exception:
            # roll back the staged clone so a failed CLONE can't be swept
            # into the next unrelated COMMIT (branch was clean on entry,
            # so removing exactly what we staged restores it)
            self.unstage_table(branch, dst)
            if dv_src:
                self.unstage_table(branch, DV_PREFIX + dst)
            for pathfn in self._companion_path_fns():
                self.restore_staged_object_entry(branch, pathfn(dst), None)
            raise

    def _schema_map_of_commit(self, commit: "Commit", table: str) -> dict | None:
        """A table's schema mapping as recorded in a specific commit's
        object set (no branch/staged resolution — merge-side reads)."""
        import json

        blob = commit.objects.get(self._schema_map_path(table))
        if not blob:
            return None
        with open(os.path.join(self.root, blob)) as f:
            smap = json.loads(f.read())
        # the pre-r6 bare step list, normalized as table_schema_map does
        return {"base": [], "steps": smap} if isinstance(smap, list) else smap

    def _drop_schema_map_object(self, branch: str, table: str) -> None:
        """Remove a table's schema-evolution object if present — dropping
        or replacing a table must not leak its column mapping onto a
        future table of the same name."""
        try:
            self.delete_object(branch, self._schema_map_path(table))
        except KeyError:
            pass

    @staticmethod
    def _copyinto_path(table: str) -> str:
        return f"_copyinto/{table}.json"

    def _drop_copyinto_object(self, branch: str, table: str) -> None:
        """Remove a table's COPY INTO loaded-file registry if present —
        a dropped/replaced table's successor must start with an empty
        loaded set, or a drop-and-reload would silently load nothing
        (r11 review)."""
        try:
            self.delete_object(branch, self._copyinto_path(table))
        except KeyError:
            pass

    @staticmethod
    def _check_rows(df: DataFrame, cons: dict[str, str], context: str) -> None:
        """Raise ConstraintViolation if any row of ``df`` evaluates any
        CHECK expression to FALSE. ONE combined scan for the whole
        constraint set (individual re-check only on a hit, for the error
        message). A constraint whose columns don't resolve against this
        data is skipped: per SQL CHECK semantics a missing column is
        NULL and NULL passes — the schema-evolution append case."""
        from pyspark.errors import AnalysisException

        def violates(expr: str):
            try:
                return df.filter(F.expr(f"({expr}) IS FALSE")).take(1)
            except AnalysisException:
                return []

        combined = " OR ".join(f"(({e}) IS FALSE)" for e in cons.values())
        try:
            hit = df.filter(F.expr(combined)).take(1)
        except AnalysisException:
            # some constraint references columns absent here; fall back
            # to per-constraint checks so resolvable ones still enforce
            hit = [1]
        if not hit:
            return
        for cname, expr in cons.items():
            bad = violates(expr)
            if bad:
                raise ConstraintViolation(
                    f"{context} violating CHECK {cname} ({expr}): {bad[0]}"
                )

    def _enforce_constraints(
        self, spark: SparkSession, branch: str, table: str, out_dir: str
    ) -> None:
        """Validate freshly written files against the table's CHECK
        constraints BEFORE they are staged. Cost: one combined scan of
        the NEW files only (never the table) — Delta's enforcement cost
        model. A violation removes the written files and raises, leaving
        branch state untouched."""
        cons = self.table_constraints(table, branch)
        if not cons:
            return
        try:
            df = spark.read.parquet(*self._literal(out_dir))
            # constraints bind the LOGICAL schema: a raw read of the new
            # files lacks GENERATED columns (write_table strips them),
            # and _check_rows would skip any constraint on them as
            # unresolvable — replay the mapping so CHECK (gen_col < x)
            # actually fires at write time
            smap = self.table_schema_map(table, ref=branch)
            if smap:
                df = self.apply_schema_map(df, smap)
            self._check_rows(df, cons, f"write to {table!r}")
        except ConstraintViolation:
            shutil.rmtree(out_dir, ignore_errors=True)
            raise

    def stage_table_files(
        self, branch: str, table: str, rel_files: list[str], op: str = "overwrite"
    ) -> None:
        """Stage an explicit file list for a table — the metadata half of
        a write. This is what lets a pruned DELETE/UPDATE carry untouched
        files into the next commit by reference (copy-on-write at file
        granularity): entries may be file-group dirs or individual
        part-files from a previous group."""
        with RepoLock(self.root):
            ref = self._read_ref(branch)
            ref["staged"][table] = {"files": list(rel_files), "op": op}
            self._write_ref(branch, ref)

    def current_files(
        self, branch: str, table: str, include_staged: bool = True
    ) -> list[str]:
        """The table's current file entries on a branch (staged state if
        present, else the head snapshot)."""
        if include_staged and os.path.exists(self._ref_file(branch)):
            ref = self._read_ref(branch)
            entry = ref["staged"].get(table)
            if entry is not None:
                if entry["op"] == "drop":
                    raise KeyError(f"table {table} dropped in staging on {branch}")
                return list(entry["files"])
        c = self._resolve(branch)
        if table not in c.tables:
            raise KeyError(f"table {table} not on branch {branch}")
        return list(c.tables[table])

    def remove_table(self, branch: str, table: str) -> None:
        """V5: stage a table drop (its CHECK constraints and column
        mapping go with it — a later table of the same name starts
        unconstrained with its physical schema, as in Delta)."""
        with RepoLock(self.root):
            ref = self._read_ref(branch)
            ref["staged"][table] = {"files": [], "op": "drop"}
            dvt = DV_PREFIX + table
            if dvt in ref["staged"] or dvt in self.get_commit(ref["head"]).tables:
                ref["staged"][dvt] = {"files": [], "op": "drop"}
            self._write_ref(branch, ref)
        self._drop_companion_objects(branch, table)

    def _companion_path_fns(self):
        """Every per-table companion-object path family, in one place —
        rename carry, drop cleanup, and clone rollback must all cover
        the SAME set, so a sixth family added here is automatically
        carried/dropped/rolled back everywhere (r14 review: the three
        sites previously each hand-enumerated the five)."""
        return (
            self._constraints_path,
            self._schema_map_path,
            self._tblprops_path,
            self._colmeta_path,
            self._copyinto_path,
        )

    def _drop_companion_objects(self, branch: str, table: str) -> None:
        """Delete every companion object of ``table`` that exists
        (staged or committed) — a successor table of the same name must
        start with a clean definition."""
        for pathfn in self._companion_path_fns():
            try:
                self.delete_object(branch, pathfn(table))
            except KeyError:
                pass

    def rename_table(self, branch: str, old: str, new: str) -> "Commit":
        """ALTER TABLE old RENAME TO new — pure metadata, one commit: the
        file list, the deletion-vector companion, and every companion
        object (CHECK constraints, schema map, TBLPROPERTIES incl. the
        partition spec, DEFAULT/IDENTITY column metadata, the COPY INTO
        loaded-file registry) move BY REFERENCE; no data file is read,
        copied, or rewritten, so the cost is independent of table size.
        Time travel keeps working under the old name at pre-rename
        versions (per-commit table maps are immutable). A stored view
        whose text references the old name is NOT rewritten — its next
        expansion fails loudly with TABLE_OR_VIEW_NOT_FOUND, matching
        Delta/ANSI late-binding view semantics."""
        self._require_clean_for_alter(branch, f"ALTER TABLE {old} RENAME TO {new}")
        head = self.get_commit(self._read_ref(branch)["head"])
        if old.startswith(DV_PREFIX) or new.startswith(DV_PREFIX):
            raise ValueError(
                f"table names starting with {DV_PREFIX!r} are reserved "
                "for deletion vectors (delete_where_dv)"
            )
        if old not in head.tables:
            raise KeyError(f"table {old} not on {branch}")
        if new in head.tables:
            raise ValueError(f"table {new!r} already exists on {branch!r}")
        self._reject_view_name(branch, new)
        _check_name_unreserved(new, "table")
        try:
            self.stage_table_files(
                branch, new, list(head.tables[old]), op="overwrite"
            )
            dv = head.tables.get(DV_PREFIX + old)
            if dv:
                self.stage_table_files(
                    branch, DV_PREFIX + new, list(dv), op="overwrite"
                )
            for pathfn in self._companion_path_fns():
                blob = head.objects.get(pathfn(old))
                if blob:
                    # blobs are immutable and repo-global: re-point, never copy
                    self.restore_staged_object_entry(
                        branch, pathfn(new), {"blob": blob, "op": "put"}
                    )
            self.remove_table(branch, old)
            return self.commit(
                branch, f"SQL: ALTER TABLE {old} RENAME TO {new}"
            )
        except Exception:
            self.reset(branch)  # branch was clean on entry (alter gate)
            raise

    def status(self, branch: str) -> dict:
        """Uncommitted staged changes on a branch (tables + objects)."""
        ref = self._read_ref(branch)
        out = dict(ref["staged"])
        for path, entry in self._staged_objects(ref).items():
            out[f"object:{path}"] = dict(entry)
        return out

    def reset(self, branch: str) -> None:
        """V8: discard uncommitted staged changes (lakectl branch reset).
        Orphaned data files are reclaimed by ``vacuum``."""
        with RepoLock(self.root):
            ref = self._read_ref(branch)
            ref["staged"] = {}
            ref["staged_objects"] = {}
            self._write_ref(branch, ref)

    # -- arbitrary objects (lakectl fs parity) -----------------------------
    # lakeFS versions any object, not just tables (``lakectl fs upload/cat``,
    # reference README.md:79-99): configs, schemas, model files ride the same
    # branch/commit/merge lifecycle as the data they describe. Blobs are
    # immutable files under data/_objects/<id>/; commits map logical path →
    # stored blob, so branching/commit never copies bytes (same CoW economics
    # as tables). Metadata-only ops — nothing here involves Spark.

    def put_object(self, branch: str, path: str, data: bytes | str) -> str:
        """Stage an object write (uncommitted until ``commit``): the blob
        lands immediately; only the ref's staged pointer changes — the same
        two-phase flow as ``write_table``."""
        if isinstance(data, str):
            data = data.encode("utf-8")
        blob = self._object_blob(new_id())
        os.makedirs(os.path.dirname(blob), exist_ok=True)
        with open(blob, "wb") as f:
            f.write(data)
        rel = os.path.relpath(blob, self.root)
        with RepoLock(self.root):
            ref = self._read_ref(branch)
            self._staged_objects(ref)[path] = {"blob": rel, "op": "put"}
            self._write_ref(branch, ref)
        return rel

    def delete_object(self, branch: str, path: str) -> None:
        """Stage an object delete (lakectl fs rm). Deleting a path that
        exists neither committed nor staged is an error (as in lakectl) —
        silently staging it would mark the branch dirty and let a no-op
        'delete' produce a commit byte-identical to its parent."""
        with RepoLock(self.root):
            ref = self._read_ref(branch)
            staged = self._staged_objects(ref)
            committed = self.get_commit(ref["head"]).objects
            known_staged = path in staged and staged[path]["op"] != "delete"
            if not known_staged and path not in committed:
                raise KeyError(f"object {path!r} does not exist on {branch!r}")
            staged[path] = {"blob": None, "op": "delete"}
            self._write_ref(branch, ref)

    def get_object(
        self,
        path: str,
        ref: str = "main",
        version_as_of: int | None = None,
        include_staged: bool = False,
    ) -> bytes:
        """Read an object at a ref/version (lakectl fs cat, time-travel-able)."""
        if include_staged and version_as_of is None and os.path.exists(self._ref_file(ref)):
            entry = self._staged_objects(self._read_ref(ref)).get(path)
            if entry is not None:
                if entry["op"] == "delete":
                    raise KeyError(f"object {path} deleted in staging on {ref}")
                with open(os.path.join(self.root, entry["blob"]), "rb") as f:
                    return f.read()
        c = self._resolve(ref, version_as_of)
        if path not in c.objects:
            raise KeyError(f"object {path} not in snapshot {c.id[:8]} ({ref})")
        with open(os.path.join(self.root, c.objects[path]), "rb") as f:
            return f.read()

    def list_objects(self, ref: str = "main", prefix: str = "") -> list[str]:
        """Logical object paths in a snapshot (lakectl fs ls)."""
        return sorted(p for p in self._resolve(ref).objects if p.startswith(prefix))

    def diff_objects(self, ref_a: str, ref_b: str) -> dict[str, str]:
        """Object-level diff: path → added|removed|changed (vs ref_a)."""
        a, b = self._resolve(ref_a).objects, self._resolve(ref_b).objects
        out: dict[str, str] = {}
        for p in sorted(set(a) | set(b)):
            if p not in b:
                out[p] = "removed"
            elif p not in a:
                out[p] = "added"
            elif a[p] != b[p]:
                out[p] = "changed"
        return out

    # -- commit (V6/V13) ---------------------------------------------------
    def commit(self, branch: str, message: str, meta: dict | None = None) -> Commit:
        with RepoLock(self.root):
            ref = self._read_ref(branch)
            if not self._is_dirty(ref):
                raise ValueError("nothing staged to commit")
            parent = self.get_commit(ref["head"])
            tables = dict(parent.tables)
            for table, entry in ref["staged"].items():
                if entry["op"] == "drop":
                    tables.pop(table, None)
                else:
                    tables[table] = list(entry["files"])
            objects = dict(parent.objects)
            for path, entry in self._staged_objects(ref).items():
                if entry["op"] == "delete":
                    objects.pop(path, None)
                else:
                    objects[path] = entry["blob"]
            c = Commit(
                id=new_id(),
                parents=[parent.id],
                message=message,
                branch=branch,
                timestamp=time.time(),
                version=self._next_version(),
                tables=tables,
                meta=meta or {},
                objects=objects,
            )
            self._write_commit(c)
            self._write_ref(
                branch,
                {
                    "head": c.id,
                    "staged": {},
                    "staged_objects": {},
                    "gen": ref.get("gen", 0),
                },
            )
            return c

    # -- reads (V3/V14) ----------------------------------------------------
    def list_tables(self, ref: str = "main") -> list[str]:
        return sorted(
            t for t in self._resolve(ref).tables if not t.startswith(DV_PREFIX)
        )

    def read_table(
        self,
        spark: SparkSession,
        table: str,
        ref: str = "main",
        version_as_of: int | None = None,
        include_staged: bool = False,
        merge_schema: bool = False,
        prune_where: str | None = None,
    ) -> DataFrame:
        """Read a table snapshot. ``ref`` may be a branch, commit id, or
        ``branch~n``; ``version_as_of`` pins a global version (V14).
        ``merge_schema=True`` unions the schemas of all snapshot files
        (columns added by later appends surface as null on older rows) at
        the cost of reading every file's footer — leave off for
        fixed-schema tables. ``prune_where`` skips files whose footer
        min/max stats prove no row can satisfy the condition (data
        skipping) — the condition is NOT applied to surviving rows, so
        callers still filter; the result is identical with or without
        pruning, only the scanned file set shrinks."""
        steps = self.table_schema_map(
            table, ref=ref, version_as_of=version_as_of, include_staged=include_staged
        )
        # a column-mapped table may mix pre- and post-rename/add physical
        # schemas across files, so the union schema is required for the
        # mapping replay to see every era's columns
        # pass the MAP itself (not a bool) so _read_files can see
        # whether a widen step legitimizes a schema-merge fallback
        ms = steps if steps else merge_schema
        dvt = DV_PREFIX + table
        is_dv_table = table.startswith(DV_PREFIX)  # the vector reads raw

        def staged_dv(refd) -> tuple[bool, list[str] | None]:
            """(decided, entries): a staged vector entry overrides the
            committed one — layered exactly like the table lookup."""
            if is_dv_table:
                return True, None
            entry = refd["staged"].get(dvt)
            if entry is None:
                return False, None
            if entry["op"] == "drop" or not entry["files"]:
                return True, None
            return True, list(entry["files"])

        def committed_dv(c: Commit) -> list[str] | None:
            if is_dv_table:
                return None
            ent = c.tables.get(dvt)
            return list(ent) if ent else None

        if include_staged and version_as_of is None and os.path.exists(self._ref_file(ref)):
            refd = self._read_ref(ref)
            entry = refd["staged"].get(table)
            if entry is not None:
                if entry["op"] == "drop":
                    raise KeyError(f"table {table} dropped in staging on {ref}")
                decided, dv = staged_dv(refd)
                if not decided:
                    dv = committed_dv(self.get_commit(refd["head"]))
                files = entry["files"]
                df = self._read_files(
                    spark, self._pruned(files, prune_where), ms, with_lineage=bool(dv)
                )
                df = self._apply_dv(spark, df, dv) if dv else df
                return self.apply_schema_map(df, steps) if steps else df
            decided, dv_staged = staged_dv(refd)
        else:
            decided, dv_staged = False, None
        c = self._resolve(ref, version_as_of)
        if table not in c.tables:
            raise KeyError(f"table {table} not in snapshot {c.id[:8]} ({ref})")
        dv = dv_staged if decided else committed_dv(c)
        df = self._read_files(
            spark, self._pruned(c.tables[table], prune_where), ms, with_lineage=bool(dv)
        )
        df = self._apply_dv(spark, df, dv) if dv else df
        return self.apply_schema_map(df, steps) if steps else df

    def _apply_dv(
        self,
        spark: SparkSession,
        df: DataFrame,
        dv_entries: list[str],
        keep_lineage: bool = False,
    ) -> DataFrame:
        """Filter out deletion-vectored rows: one anti-join of the
        lineage-tagged scan against the (file, pos) DV rows — Delta's
        deletion-vector read semantics. Shuffle-free when the DV side
        broadcasts (typical: a few positions per file); never rewrites
        data."""
        anti = self._dv_keys(spark, self._read_files(spark, dv_entries), df)
        out = df.join(anti, ["__lg_fp", "__lg_ri"], "left_anti")
        return out if keep_lineage else out.drop("__lg_fp", "__lg_ri")

    def _dv_prefix(self, spark: SparkSession) -> str:
        """How a lineage read spells the repo root, separator included:
        Spark reports ``_metadata.file_path`` as the URI of the file's
        Hadoop path, which escapes a space, ``%`` or ``#`` in the root.
        One JVM call, no Spark job."""
        uri = spark._jvm.org.apache.hadoop.fs.Path(self.root).toUri()
        return "file:" + uri.toString() + "/"

    def _dv_rows(self, spark: SparkSession, keys: DataFrame) -> DataFrame:
        """Lineage keys (``__lg_fp``, ``__lg_ri``) → stored vector rows
        (``file``, ``pos``), ``file`` being the real path relative to
        the root. ``url_decode`` alone would turn a ``+`` into a space,
        so ``+`` is escaped first."""
        start = len(self._dv_prefix(spark)) + 1
        return keys.select(
            F.expr(
                f"url_decode(replace(substring(__lg_fp, {start}), '+', '%2B'))"
            ).alias("file"),
            F.col("__lg_ri").cast("long").alias("pos"),
        )

    def _dv_keys(
        self, spark: SparkSession, rows: DataFrame, scan: DataFrame
    ) -> DataFrame:
        """Stored vector rows (``file``, ``pos``) → the lineage keys
        (``__lg_fp``, ``__lg_ri``) of the rows they name in ``scan``, a
        lineage read; the inverse of ``_dv_rows``. Spark spells a file
        as its listing did, so the scan's own file list gives the
        spelling of each file whose relative path needs escaping (a
        partition value holding a space or ``%``); the others only
        take the root prefix. No Spark job, and no per-row work beyond
        the prefix unless some file needs escaping."""
        prefix = self._dv_prefix(spark)
        start = len(urlsplit(prefix).path)
        spelled = {urlsplit(uri).path[start:] for uri in scan.inputFiles()}
        escaped = [(unquote(rel), rel) for rel in sorted(spelled) if "%" in rel]
        file = F.col("file")
        if escaped:
            rels = local_df(spark, escaped, "file string, __lg_rel string")
            rows = rows.join(F.broadcast(rels), "file", "left")
            file = F.coalesce(F.col("__lg_rel"), file)
        return rows.select(
            F.concat(F.lit(prefix), file).alias("__lg_fp"),
            F.col("pos").alias("__lg_ri"),
        )

    def _check_lg_columns(self, table: str, df: DataFrame) -> None:
        """DV DML guard for tables written before the write-time __lg_
        reservation existed: a STORED column in the engine's lineage
        namespace would be silently dropped from re-appended images (the
        out-column filters can't tell it from the lineage columns the
        read added) — refuse loudly instead (r11 review)."""
        bad = [
            c
            for c in df.columns
            if c.lower().startswith("__lg_")
            and c not in ("__lg_fp", "__lg_ri")
        ]
        if bad:
            raise ValueError(
                f"{table!r} stores column(s) {bad} in the reserved __lg_ "
                f"namespace (engine lineage internals) — rename them "
                f"before running deletion-vector DML"
            )

    def _dv_read(
        self, spark: SparkSession, branch: str, table: str, op: str
    ) -> tuple[DataFrame, dict | None]:
        """The read every deletion-vector DML matches against, and the
        table's schema map: the live rows of ``table`` with their
        ``__lg_fp``/``__lg_ri`` lineage keys, in the LOGICAL schema (the
        rename replay carries the lineage columns through untouched, so
        the keys stay physical). Raises ``DirtyBranchError`` before
        anything is staged: the DML's commit must contain only its own
        change, and on a clean branch the committed head's vector is
        the whole story."""
        if self._is_dirty(self._read_ref(branch)):
            raise DirtyBranchError(
                f"{op} on {branch}: uncommitted staged changes for "
                f"{sorted(self.status(branch))}; commit or reset first"
            )
        smap = self.table_schema_map(table, ref=branch)
        entries = self.current_files(branch, table, include_staged=False)
        df = self._read_files(spark, entries, merge_schema=smap, with_lineage=True)
        self._check_lg_columns(table, df)
        dv0 = self.head(branch).tables.get(DV_PREFIX + table)
        if dv0:
            df = self._apply_dv(spark, df, dv0, keep_lineage=True)
        return (self.apply_schema_map(df, smap) if smap else df), smap

    def _dv_publish(
        self,
        spark: SparkSession,
        branch: str,
        table: str,
        positions: DataFrame | None,
        images: DataFrame | None,
        message: str,
        meta: dict,
    ) -> "Commit":
        """The one publish of a deletion-vector DML: the lineage keys in
        ``positions`` join the vector and ``images`` (updated rows,
        inserts) append to the table, in ONE commit, so readers flip
        from the old rows to the new atomically. Any failure before the
        commit lands resets the branch (``_dv_read`` proved it clean, so
        nothing else is lost): a vector append without its images would
        be a plain delete. Returns the DML commit; under
        ``dv_materialize_fraction`` a trailing data_change=false commit
        may follow it (``_maybe_materialize_dv``)."""
        try:
            if positions is not None:
                self.write_table(
                    branch, DV_PREFIX + table, self._dv_rows(spark, positions),
                    mode="append", _internal=True,
                )
            if images is not None:
                self.write_table(branch, table, images, mode="append")
            c = self.commit(branch, message, meta=meta)
        except Exception:
            self.reset(branch)
            raise
        self._maybe_materialize_dv(spark, branch, table)
        return c

    def delete_where_dv(
        self,
        spark: SparkSession,
        branch: str,
        table: str,
        cond: str,
        message: str | None = None,
    ) -> "Commit":
        """Metadata-sized DELETE via a deletion vector (Delta's DV
        model): instead of rewriting every stats-positive file, record
        the matching rows' (file, position) pairs as a hidden companion
        table ``__dv__<table>`` and let every read anti-join them away.
        The rewrite amplification of a point delete drops from one file
        to a handful of DV rows; ``OPTIMIZE``/overwrite later
        materializes the deletions and drops the vector. Time travel,
        branches, merges, vacuum, and manifest spill all work unchanged
        because the vector rides the ordinary snapshot machinery.

        Second deletes APPEND to the vector (rows already deleted are
        excluded from the match scan, so the vector never duplicates).
        ``cond`` binds the LOGICAL schema. The clean-branch gate and the
        lineage read are ``_dv_read``'s, the vector append and commit
        ``_dv_publish``'s; only the match is this method's own.

        Returns the DML commit. When ``dv_materialize_fraction`` is
        set, a trailing data_change=false rearrangement commit may land
        AFTER it (see ``_maybe_materialize_dv``), so the returned
        version can be one behind ``head()`` — the trailing commit, if
        any, is in ``last_maintenance_commit``."""
        df, _ = self._dv_read(spark, branch, table, "delete_where_dv")
        # persist: the count (for the no-op gate + commit metadata) and
        # the vector write must not each re-run the full match scan
        matches = df.where(cond).select("__lg_fp", "__lg_ri").persist()
        try:
            n = matches.count()
            if n == 0:
                # a DELETE that matched nothing is a no-op: committing an
                # empty vector append would still break append-mode streams
                # and disqualify metadata aggregates forever
                return self.head(branch)
            return self._dv_publish(
                spark, branch, table, matches, None,
                message or f"DV DELETE FROM {table} WHERE {cond}",
                {"dv_delete": {"table": table, "where": cond, "rows": n}},
            )
        finally:
            matches.unpersist(blocking=False)

    def update_where_dv(
        self,
        spark: SparkSession,
        branch: str,
        table: str,
        cond: str,
        set_exprs: dict[str, str],
        message: str | None = None,
    ) -> "Commit":
        """Row-level UPDATE with ZERO existing-file rewrites (Delta's DV
        update): the matching rows' (file, position) pairs join the
        deletion vector and their UPDATED images append as a new file —
        both staged into ONE commit by ``_dv_publish``, so readers
        atomically flip from the old rows to the new. A point update of
        one row in a 1 GB file costs a DV row + a one-row file instead
        of the 1 GB rewrite.

        ``set_exprs`` maps column → SQL expression, evaluated against
        the matching row's LOGICAL schema (``cond`` too; both bind on
        ``_dv_read``'s lineage read, like ``delete_where_dv``).
        GENERATED columns are recomputed on read and cannot be SET.
        The CDC feed needs no new machinery: the commit is a vector
        append (delete rows at exactly the updated positions) plus a
        file addition (insert rows of the new images) — the standard
        delete+insert change pair. Requires a clean branch.

        Returns the DML commit; under ``dv_materialize_fraction`` a
        trailing data_change=false commit may follow it (recorded in
        ``last_maintenance_commit``), so compare against that rather
        than expecting the returned version to equal ``head()``."""
        df, smap = self._dv_read(spark, branch, table, "update_where_dv")
        gen = self._generated_names(smap)
        bad = {c for c in set_exprs if c.lower() in gen}
        if bad:
            raise ValueError(
                f"update_where_dv: {sorted(bad)} are GENERATED columns "
                f"(recomputed on every read, never stored) — change the "
                f"generating expression via ALTER instead"
            )
        # validate BEFORE the empty-match early return: a typo'd SET
        # column must raise even when the predicate matches nothing
        unknown = set(set_exprs) - {
            c for c in df.columns if not c.startswith("__lg_")
        }
        if unknown:
            raise ValueError(
                f"update_where_dv: SET targets {sorted(unknown)} not in "
                f"{table!r}'s schema"
            )
        # persist: the matched frame feeds THREE evaluations (no-op
        # count, position write, image write) — without it each one
        # re-runs the full match scan
        matched = df.where(cond).persist()
        try:
            n = matched.count()
            if n == 0:
                return self.head(branch)  # no-op: don't birth a vector
            # updated images: stored logical columns only (generated
            # columns recompute from these on read; lineage never
            # persists)
            out_cols = [
                c
                for c in df.columns
                if not c.startswith("__lg_") and c.lower() not in gen
            ]
            images = matched.select(
                *[
                    F.expr(set_exprs[c]).cast(matched.schema[c].dataType).alias(c)
                    if c in set_exprs
                    else F.col(c)
                    for c in out_cols
                ]
            )
            return self._dv_publish(
                spark, branch, table, matched.select("__lg_fp", "__lg_ri"), images,
                message or f"DV UPDATE {table} SET {sorted(set_exprs)} WHERE {cond}",
                {"dv_update": {"table": table, "where": cond, "rows": n}},
            )
        finally:
            matched.unpersist(blocking=False)

    def purge_deletion_vectors(
        self,
        spark: SparkSession,
        branch: str,
        table: str,
        min_fraction: float = 0.0,
        message: str | None = None,
    ) -> "Commit":
        """Materialize deletion-vector positions into rewritten files —
        Delta's ``REORG TABLE ... APPLY (PURGE)`` analogue. Every part
        file whose vectored-position share EXCEEDS ``min_fraction`` is
        rewritten without its deleted rows (one new file group for all
        of them together); those positions leave the vector, and a
        vector drained empty is dropped outright. Untouched part files
        are carried into the new commit by reference — zero bytes
        rewritten for them.

        The commit carries ``data_change=False``: the visible row
        multiset is unchanged by construction (pure rearrangement), so
        append-mode streams skip it and the batch CDF emits nothing for
        it — exactly the ``compact`` contract. Requires a clean branch;
        returns the unchanged head when nothing crosses the threshold.

        ``min_fraction=0.0`` (the explicit-PURGE spelling) rewrites
        every vectored file. A per-file footer-row count that cannot be
        read conservatively skips that file when a threshold is set."""
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning import stats as stats_mod
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.changes import _files_of

        if self._is_dirty(self._read_ref(branch)):
            raise DirtyBranchError(
                f"purge_deletion_vectors on {branch}: uncommitted staged "
                f"changes for {sorted(self.status(branch))}; commit or "
                f"reset first — a data_change=false commit must contain "
                f"only the rearrangement"
            )
        head = self.head(branch)
        dvt = DV_PREFIX + table
        dv_entries = head.tables.get(dvt)
        if not dv_entries:
            return head
        dv = self._read_files(spark, dv_entries)
        counts = {
            r["file"]: int(r["n"])
            for r in dv.groupBy("file").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        sel: list[str] = []
        for rel, n in sorted(counts.items()):
            if min_fraction <= 0:
                sel.append(rel)
                continue
            st = stats_mod.file_stats(os.path.join(self.root, rel))
            rows = None if st is None else st.get("rows")
            if rows is not None and n > min_fraction * rows:
                sel.append(rel)
        if not sel:
            return head
        sel_set = set(sel)
        # carried entries: a group dir none of whose files are selected
        # rides whole; a touched group decomposes into its surviving
        # part files (the pruned-DML copy-on-write convention)
        carried: list[str] = []
        for e in head.tables[table]:
            files = _files_of(self.root, [e])
            if not (set(files) & sel_set):
                carried.append(e)
            else:
                carried.extend(f for f in files if f not in sel_set)
        smap = self.table_schema_map(table, ref=branch)
        df = self._read_files(
            spark, sorted(sel_set), merge_schema=smap, with_lineage=True
        )
        sel_df = local_df(spark,
            [(f,) for f in sorted(sel_set)], "file string"
        )
        anti = self._dv_keys(
            spark, dv.join(F.broadcast(sel_df), "file", "left_semi"), df
        )
        kept = df.join(anti, ["__lg_fp", "__lg_ri"], "left_anti").drop(
            "__lg_fp", "__lg_ri"
        )
        if smap:
            kept = self.apply_schema_map(kept, smap)
        return self._commit_rearrangement(
            spark,
            branch,
            table,
            carried,
            kept,
            sorted(sel_set),
            message or f"PURGE deletion vector of {table} ({len(sel)} files)",
            {
                "data_change": False,
                "dv_purge": {"table": table, "files": len(sel)},
            },
        )

    def _commit_rearrangement(
        self,
        spark: SparkSession,
        branch: str,
        table: str,
        carried: list[str],
        rewritten: DataFrame,
        materialized_files: list[str],
        message: str,
        meta: dict,
    ) -> "Commit":
        """Shared tail of the file-scoped rearrangements (DV purge,
        ``compact(where=...)``): stage ``carried`` entries plus the
        ``rewritten`` rows — an empty rewrite with no carried entries
        still writes one schema-bearing (empty) group, or the table
        would commit with an empty file list and break every later read
        — shrink the deletion vector by ``materialized_files``'
        positions, and commit ``data_change=false`` INSIDE the
        reset-on-failure guard (a commit-time failure must never leave
        the rearrangement staged to ride a later data-change commit)."""
        dvt = DV_PREFIX + table
        dv0 = self.head(branch).tables.get(dvt)
        try:
            files = list(carried)
            if rewritten.limit(1).count() or not files:
                files.append(
                    self.write_table(branch, table, rewritten, mode="overwrite")
                )
            self.stage_table_files(branch, table, files)
            if dv0:
                drop_df = local_df(spark,
                    [(f,) for f in sorted(materialized_files)], "file string"
                )
                dv = self._read_files(spark, dv0)
                remaining = dv.join(F.broadcast(drop_df), "file", "left_anti")
                if remaining.limit(1).count():
                    self.write_table(
                        branch, dvt, remaining, mode="overwrite", _internal=True
                    )
                else:
                    self.stage_table_files(branch, dvt, [], op="drop")
            return self.commit(branch, message, meta=meta)
        except Exception:
            # never leave half a rearrangement staged: a re-filed table
            # without its vector shrink (or vice versa) double-counts
            # deletions, and an unflagged later commit would feed the
            # CDF rows that never changed
            self.reset(branch)
            raise

    def _maybe_materialize_dv(
        self, spark: SparkSession, branch: str, table: str
    ) -> None:
        """Best-effort auto-materialization after a DV DML commit: when
        ``dv_materialize_fraction`` is set on this repo, over-threshold
        files compact in a trailing data_change=false commit so a hot
        table's vector cannot grow without bound. Failures are swallowed
        — the DML commit already landed; compaction is advisory (Delta's
        auto-compaction posture) — but OBSERVABLY: a ``RuntimeWarning``
        fires and the exception lands in ``last_maintenance_error``, so
        a persistently failing auto-purge cannot silently regress a hot
        table to unbounded vectors. ``DirtyBranchError`` comes from
        purge's clean-branch gate, which runs BEFORE anything is staged
        — it must NOT reset (that would discard whatever a CONCURRENT
        writer had just staged on the branch; mirrors ``_try_dv_dml``'s
        discipline). For other failures the branch was clean when purge
        began and ``_commit_rearrangement`` already resets its own
        staging, so the extra reset here is a harmless backstop.
        The trailing commit, when one lands, is recorded in
        ``last_maintenance_commit``."""
        if self.dv_materialize_fraction is None:
            return
        self.last_maintenance_error = None
        self.last_maintenance_commit = None
        before = self._read_ref(branch).get("head")
        try:
            c = self.purge_deletion_vectors(
                spark, branch, table, min_fraction=self.dv_materialize_fraction
            )
            if c.id != before:
                self.last_maintenance_commit = c
        except DirtyBranchError as e:
            self.last_maintenance_error = e
            warnings.warn(
                f"auto-materialize of {table!r} skipped (branch busy): {e}",
                RuntimeWarning,
            )
        except Exception as e:
            self.last_maintenance_error = e
            warnings.warn(
                f"auto-materialize of {table!r} failed: {e}", RuntimeWarning
            )
            try:
                self.reset(branch)
            except Exception:
                pass

    def _pruned(self, rel_files: list[str], where: str | None) -> list[str]:
        """File entries that may contain rows matching ``where`` (all of
        them when pruning is off or unavailable). An all-pruned list keeps
        one entry so the empty result still carries the table schema."""
        if where is None:
            return rel_files
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.stats import prune_file_list

        pruned = prune_file_list(self.root, rel_files, where)
        if pruned is None:
            return rel_files
        safe, cand, _info = pruned
        return cand if cand else rel_files[:1]

    def _entry_schema_key(self, path: str) -> str:
        """A physical-schema fingerprint for one file entry (file or
        file-group dir) — one parquet footer read. Entries written by
        one write share one schema, so the first part-file represents
        the entry."""
        import pyarrow.parquet as pq

        f = path
        if os.path.isdir(path):
            for dp, _dn, fns in os.walk(path):
                hit = next(
                    (n for n in sorted(fns) if n.endswith(".parquet")), None
                )
                if hit:
                    f = os.path.join(dp, hit)
                    break
        return str(pq.read_schema(f))

    def _manifest_schemas(self, paths: list[str]) -> list[str | None]:
        """Per-path written-schema JSON from the group manifests (None
        where absent). Entries may be group dirs or individual
        part-files inside a group; both resolve to the same group
        manifest. Pure local JSON reads — no Spark involvement."""
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.stats import read_group_manifest

        out: list[str | None] = []
        for p in paths:
            group = p if os.path.isdir(p) else os.path.dirname(p)
            m = read_group_manifest(group)
            out.append((m or {}).get("spark_schema") or None)
        return out

    @staticmethod
    def _schema_from_json(sj: str):
        import json as _json

        try:
            from pyspark.sql.types import StructType

            return StructType.fromJson(_json.loads(sj))
        except Exception:
            return None

    def _pinned_schema(self, paths: list[str]):
        """The one Spark schema every path's group manifest recorded at
        write time, as a StructType — or None when any path lacks a
        manifest/schema or the recorded schemas differ (mixed eras must
        keep the loud merge behavior)."""
        sjs = set(self._manifest_schemas(paths))
        if len(sjs) != 1:
            return None
        (seen,) = sjs
        if seen is None:
            return None
        try:
            return self._schema_from_json(seen)
        except Exception:
            return None

    @staticmethod
    def _literal(*paths: str) -> list[str]:
        """Repo paths are data, never glob patterns: Spark globs each
        path it reads, so a root or file name holding ``[``, ``{`` or
        ``?`` would match other files or none. Each Hadoop glob
        character is escaped with ``\\``. A ``basePath`` option is not
        globbed and must stay as it is."""
        return [p.translate(_GLOB_ESCAPES) for p in paths]

    def _read_files(
        self,
        spark: SparkSession,
        rel_files: list[str],
        merge_schema: object = False,
        with_lineage: bool = False,
    ) -> DataFrame:
        """Read a snapshot's file entries. Entries may be file-group
        dirs, individual part-files (pruned rewrites), or Hive partition
        SUBDIRS of a group (pruned rewrites of partitioned tables) — the
        latter are read per-group with ``basePath`` so the path-encoded
        partition columns stay in the schema."""
        if not rel_files:
            raise KeyError("empty table snapshot")
        plain: list[str] = []
        by_group: dict[str, list[str]] = {}
        for f in rel_files:
            comps = f.split(os.sep)
            if len(comps) > 3 and comps[0] == "data" and any("=" in c for c in comps[3:]):
                by_group.setdefault(os.sep.join(comps[:3]), []).append(f)
                continue
            full = os.path.join(self.root, f)
            if os.path.isdir(full) and any(
                "=" in fn and os.path.isdir(os.path.join(full, fn))
                for fn in os.listdir(full)
            ):
                # a whole partitioned file group: reading several such
                # groups in ONE spark.read.parquet call trips
                # CONFLICTING_DIRECTORY_STRUCTURES (multiple discovery
                # roots); per-group basePath reads keep the path-encoded
                # partition columns AND compose across commits
                by_group.setdefault(f, []).append(f)
            else:
                plain.append(f)

        def reader():
            r = spark.read
            return r.option("mergeSchema", True) if merge_schema else r

        def lineage(d: DataFrame) -> DataFrame:
            # physical provenance columns for deletion-vector math:
            # selected per SCAN (the `_metadata` pseudo-column resolves
            # only directly above a file source, not through a union)
            if not with_lineage:
                return d
            return d.select(
                "*",
                F.col("_metadata.file_path").alias("__lg_fp"),
                F.col("_metadata.row_index").alias("__lg_ri"),
            )

        # the fallback below is legal ONLY when the table's schema map
        # actually carries a widen step — otherwise an incompatible file
        # mix (foreign writer, adoption) must stay a LOUD merge failure,
        # not get silently union-coerced to a wider type (r14 review)
        widened = isinstance(merge_schema, dict) and any(
            st.get("op") == "widen" for st in merge_schema.get("steps", [])
        )
        dfs = []
        if plain:
            paths = [os.path.join(self.root, f) for f in plain]
            # schema fast path (r14): the group manifests record the
            # written Spark schema, so most reads can pin it instead of
            # letting the JVM re-infer from footers (measured 0.1-0.3 s
            # of driver time per read on versioned queries):
            #   - one recorded schema across all entries → pin it. This
            #     also holds under a merge request: merging N files of
            #     one identical schema IS that schema.
            #   - several recorded schemas on a widened table → go
            #     straight to one pinned scan per era (the doomed
            #     mergeSchema attempt used to cost a full footer pass +
            #     a JVM exception before the same era split ran on
            #     re-read footers). Widen eras share the column-name
            #     set, so the unionByName below coerces types exactly
            #     as the exception path did.
            # Any other miss — absent manifest/key, non-widen mixes —
            # falls back to inference, so behavior only changes where
            # the pinned schema is exactly what inference returns.
            sjs = self._manifest_schemas(paths)
            pin1 = self._schema_from_json(sjs[0]) if len(set(sjs)) == 1 and sjs[0] else None
            eras: dict[str, list[str]] = {}
            if pin1 is None and widened and all(sjs):
                for p, sj in zip(paths, sjs):
                    eras.setdefault(sj, []).append(p)
                if any(self._schema_from_json(k) is None for k in eras):
                    eras = {}
            def pinned_read(schema, ps):
                # a pinned read must stay as LOUD as inference about
                # vanished data: inference fails on a file-less snapshot
                # ("unable to infer schema"), while a user-supplied
                # schema would silently scan empty. One listing probe
                # (the file index is already built) restores the old
                # failure surface (caught by test_meta_agg's gutted-file
                # pins).
                d = spark.read.schema(schema).parquet(*self._literal(*ps))
                if not d.inputFiles():
                    raise IOError(
                        f"table snapshot lists {len(ps)} entr"
                        f"{'y' if len(ps) == 1 else 'ies'} but no data "
                        f"files exist under them (first: {ps[0]!r}) — "
                        "snapshot corrupted or files removed outside "
                        "vacuum"
                    )
                return d

            try:
                # accumulate locally and extend dfs only on full success:
                # were a pinned-era read ever to raise an error matching
                # the except's "merg" probe, already-appended eras would
                # be re-appended via eras2 and double-read (r14 advice)
                pinned: list = []
                if pin1 is not None:
                    pinned.append(lineage(pinned_read(pin1, paths)))
                elif len(eras) > 1:
                    for k, ps in sorted(eras.items()):
                        pinned.append(
                            lineage(pinned_read(self._schema_from_json(k), ps))
                        )
                else:
                    pinned.append(lineage(reader().parquet(*self._literal(*paths))))
                dfs.extend(pinned)
            except Exception as e:
                if not widened or "merg" not in str(e).lower():
                    raise
                # eras with a WIDENED physical type (r14: ALTER COLUMN
                # TYPE) cannot schema-merge in one scan — parquet footer
                # merging refuses int32 vs int64. Group entries by
                # physical schema (one footer read each) and run ONE
                # scan per era, unioned below with Spark's wider-type
                # coercion; the widen step in apply_schema_map re-pins
                # the final logical type. Grouping keeps the plan at
                # O(eras) scans, not O(entries) (r14 review). Reached
                # only when some group lacks a manifest schema (the
                # manifest-keyed split above handles the rest).
                eras2: dict[str, list[str]] = {}
                for p in paths:
                    eras2.setdefault(self._entry_schema_key(p), []).append(p)
                for _k, ps in sorted(eras2.items()):
                    dfs.append(lineage(spark.read.parquet(*self._literal(*ps))))
        for group, fs in sorted(by_group.items()):
            dfs.append(
                lineage(
                    reader()
                    .option("basePath", os.path.join(self.root, group))
                    .parquet(*self._literal(*[os.path.join(self.root, f) for f in fs]))
                )
            )
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=bool(merge_schema))
        return out

    def restore_table(
        self, branch: str, table: str, version: int, message: str | None = None
    ) -> Commit:
        """Delta ``RESTORE TABLE t TO VERSION AS OF n`` parity: stage the
        table's file list FROM the old snapshot and commit — a pure
        metadata operation (copy-on-write file references, zero bytes
        rewritten, O(1) at any table size), unlike ``revert`` which moves
        the whole repo snapshot. The restored files must survive vacuum
        retention — with ``keep_history=False`` vacuum they may already
        be gone (same failure mode as Delta RESTORE past VACUUM)."""
        old = self._resolve(branch, version_as_of=version)
        if table not in old.tables:
            raise KeyError(
                f"table {table!r} not in version {version} of {branch!r}"
            )
        with RepoLock(self.root):
            ref = self._read_ref(branch)
            ref["staged"][table] = {
                "files": list(old.tables[table]),
                "op": "overwrite",
            }
            # the deletion vector is PART of the table's state at that
            # version: restore it alongside the files (or drop a live
            # one the old version didn't have) — otherwise a restore
            # either silently keeps later deletions or resurrects rows
            # the restored version had deleted
            dvt = DV_PREFIX + table
            old_dv = old.tables.get(dvt)
            if old_dv:
                ref["staged"][dvt] = {"files": list(old_dv), "op": "overwrite"}
            elif dvt in ref["staged"] or dvt in self.get_commit(ref["head"]).tables:
                ref["staged"][dvt] = {"files": [], "op": "drop"}
            self._write_ref(branch, ref)
        return self.commit(
            branch, message or f"restore {table} to version {version}"
        )

    # -- history surgery (V9) ----------------------------------------------
    def revert(self, branch: str, to: str, message: str | None = None) -> Commit:
        """V9: move the branch to an old snapshot via a *new* commit whose
        table map is the old one (history is never rewritten — same model
        as Delta RESTORE / lakectl revert)."""
        target = self._resolve(to)
        with RepoLock(self.root):
            ref = self._read_ref(branch)
            if self._is_dirty(ref):
                raise DirtyBranchError(
                    f"revert on {branch}: uncommitted staged changes for "
                    f"{sorted(self.status(branch))}; commit or reset first"
                )
            parent = self.get_commit(ref["head"])
            c = Commit(
                id=new_id(),
                parents=[parent.id],
                message=message or f"revert to {target.id[:8]}",
                branch=branch,
                timestamp=time.time(),
                version=self._next_version(),
                tables=dict(target.tables),
                meta={"revert_of": target.id},
                objects=dict(target.objects),
            )
            self._write_commit(c)
            self._write_ref(
                branch,
                {
                    "head": c.id,
                    "staged": {},
                    "staged_objects": {},
                    "gen": ref.get("gen", 0),
                },
            )
            return c

    # -- diff (V11) --------------------------------------------------------
    def diff_tables(self, ref_a: str, ref_b: str) -> dict[str, str]:
        """Object-level diff (lakectl-diff-shaped): table → added|removed|changed."""
        a, b = self._resolve(ref_a).tables, self._resolve(ref_b).tables
        out: dict[str, str] = {}
        for t in sorted(set(a) | set(b)):
            if t not in b:
                out[t] = "removed"
            elif t not in a:
                out[t] = "added"
            elif a[t] != b[t]:
                out[t] = "changed"
        return out

    def diff(
        self, spark: SparkSession, table: str, ref_a: str, ref_b: str
    ) -> DataFrame:
        """Row-level diff of one table between two refs: full rows tagged
        ``__change`` ∈ {added, removed}, row-minimal (a multiset
        ``EXCEPT ALL`` both ways). Reads only the files and vector
        positions the two snapshots do not share (``changes.row_changes``)
        — no driver-side row handling, so it scales to the diff, not the
        table."""
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.changes import SIGN, row_changes

        a, b = self._resolve(ref_a), self._resolve(ref_b)
        for ref, c in ((ref_a, a), (ref_b, b)):
            if not c.tables.get(table):
                raise KeyError(f"table {table} not in snapshot {c.id[:8]} ({ref})")
        out = row_changes(self, spark, table, a, b)
        if out is None:
            return self.read_table(spark, table, ref_a).limit(0).withColumn(
                "__change", F.lit("removed")
            )
        change = F.when(F.col(SIGN) > 0, "added").otherwise("removed")
        return out.withColumn("__change", change).drop(SIGN)

    # -- merge (V12) -------------------------------------------------------
    def _merge_base(self, a_id: str, b_id: str) -> str | None:
        seen = set()
        q = deque([a_id])
        while q:
            cid = q.popleft()
            if cid in seen:
                continue
            seen.add(cid)
            q.extend(self.get_commit(cid).parents)
        q = deque([b_id])
        visited = set()
        while q:
            cid = q.popleft()
            if cid in visited:
                continue
            visited.add(cid)
            if cid in seen:
                return cid
            q.extend(self.get_commit(cid).parents)
        return None

    def merge(
        self,
        spark: SparkSession,
        source: str,
        dest: str,
        message: str | None = None,
        keys: dict[str, list[str]] | None = None,
        on_conflict: str = "error",
    ) -> Commit:
        """V12: three-way merge of ``source`` into ``dest`` over the commit DAG.

        Table-level resolution against the merge base (lakeFS semantics,
        object-granular): changed on one side → that side wins; changed on
        both → conflict. A conflict on a table with an entry in ``keys``
        degrades to a *row-level* three-way merge on that primary key
        (Spark full-outer joins; both-sides-changed-same-key follows
        ``on_conflict``: 'error' | 'source' | 'dest').
        Fast-forwards when dest is an ancestor of source. Refuses a dirty
        dest branch (lakeFS semantics): moving the head would orphan or
        silently re-target staged writes.
        """
        if self._is_dirty(self._read_ref(dest)):
            raise DirtyBranchError(
                f"merge into {dest}: uncommitted staged changes; "
                "commit or reset first"
            )
        src_c, dst_c = self._resolve(source), self._resolve(dest)
        base_id = self._merge_base(src_c.id, dst_c.id)
        if base_id == src_c.id:
            return dst_c  # source already merged
        if base_id == dst_c.id:
            # fast-forward
            with RepoLock(self.root):
                ref = self._read_ref(dest)
                if self._is_dirty(ref):
                    raise DirtyBranchError(
                        f"merge into {dest}: staged changes appeared mid-merge"
                    )
                ref["head"] = src_c.id
                self._write_ref(dest, ref)
            return src_c
        base_c = self.get_commit(base_id) if base_id else None
        base_tables = base_c.tables if base_c else {}
        merged: dict[str, list[str]] = {}
        conflicts: list[str] = []
        # classify FIRST, execute row merges only after ALL conflicts
        # (tables and objects) are known resolvable — otherwise a conflict
        # found later aborts the merge after expensive Spark jobs have
        # already written parquet that only vacuum would reclaim
        row_merge_plan: list[str] = []
        # (table, src-vector entries, dst-vector entries) pairs whose
        # deletion vectors must be unioned into a fresh vector table
        dv_union_plan: list[tuple[str, list[str], list[str]]] = []
        all_names = set(src_c.tables) | set(dst_c.tables)
        for t in sorted(n for n in all_names if not n.startswith(DV_PREFIX)):
            # a table and its hidden __dv__<t> deletion vector are ONE
            # unit: classifying them independently lets a merge adopt
            # side A's rewritten files together with side B's vector —
            # whose (file, pos) references point at the replaced files,
            # so the anti-join matches nothing and B's DV-deleted rows
            # silently resurrect (plus a stale vector lingers, keeping
            # metadata aggregates and pruned DML disqualified forever)
            dvt = DV_PREFIX + t
            s, d, b = src_c.tables.get(t), dst_c.tables.get(t), base_tables.get(t)
            sv, dv_, bv = (
                src_c.tables.get(dvt),
                dst_c.tables.get(dvt),
                base_tables.get(dvt),
            )
            s_touched = s != b or sv != bv
            d_touched = d != b or dv_ != bv

            def adopt(files, vec):
                if files is not None:
                    merged[t] = files
                    if vec is not None:
                        merged[dvt] = vec

            if not s_touched:  # source never touched the unit
                adopt(d, dv_)
            elif not d_touched:  # dest never touched the unit
                adopt(s, sv)
            elif s == d:  # identical files on both sides
                if sv == dv_:
                    adopt(s, sv)
                elif sv is not None and dv_ is not None:
                    # both sides DV-deleted over the same files: the
                    # union of the two vectors is well-defined — no
                    # conflict, and never surface the hidden name
                    merged[t] = s
                    dv_union_plan.append((t, sv, dv_))
                elif keys and t in keys and s is not None:
                    # drop-vs-change still row-merges on a PK: each side
                    # reads DV-applied, so un-delete vs delete resolves
                    # per row under the on_conflict policy
                    row_merge_plan.append(t)
                else:
                    # one side DROPPED its vector (un-delete via
                    # restore) while the other changed it — opposing
                    # intents, surfaced under the parent table's name
                    conflicts.append(t)
            elif keys and t in keys and s is not None and d is not None:
                # row merge reads each side DV-applied and materializes
                # all deletions into the rewritten files
                row_merge_plan.append(t)
            elif (
                s is not None
                and s != b
                and d == b
                and b is not None
                and set(b) <= set(s)
            ):
                # source APPENDED files (every base file survives) while
                # dest only changed the vector: every vector reference
                # still resolves against the merged file list
                if sv == bv:  # source left its vector alone
                    adopt(s, dv_)
                elif sv is not None and dv_ is not None:
                    merged[t] = s
                    dv_union_plan.append((t, sv, dv_))
                elif keys and t in keys and d is not None:
                    row_merge_plan.append(t)
                else:
                    conflicts.append(t)
            elif (
                d is not None
                and d != b
                and s == b
                and b is not None
                and set(b) <= set(d)
            ):
                # mirror case: dest appended, source changed the vector
                if dv_ == bv:
                    adopt(d, sv)
                elif sv is not None and dv_ is not None:
                    merged[t] = d
                    dv_union_plan.append((t, sv, dv_))
                elif keys and t in keys and s is not None:
                    row_merge_plan.append(t)
                else:
                    conflicts.append(t)
            else:
                # a file rewrite (compact / overwrite / pruned DML) on
                # one side vs a unit change on the other: adopting the
                # rewritten files with the other side's vector would
                # resurrect its DV-deleted rows — conflict, resolvable
                # by keys= (the row merge materializes both deletions)
                conflicts.append(t)
        # objects: same three-way, object-granular resolution (no row merge —
        # blobs are opaque; both-sides-changed is always a conflict)
        base_objects = base_c.objects if base_c else {}
        merged_objects: dict[str, str] = {}
        for p in sorted(set(src_c.objects) | set(dst_c.objects)):
            s, d, b = src_c.objects.get(p), dst_c.objects.get(p), base_objects.get(p)
            if s == d:
                if s is not None:
                    merged_objects[p] = s
            elif d == b:
                if s is not None:
                    merged_objects[p] = s
            elif s == b:
                if d is not None:
                    merged_objects[p] = d
            else:
                union = self._union_copyinto_blobs(p, s, d, b)
                if union is None:
                    union = self._merge_colmeta_blobs(p, s, d, b)
                if union is not None:
                    merged_objects[p] = union
                else:
                    conflicts.append(f"object:{p}")
        if conflicts:
            raise MergeConflict(
                f"merge {source}→{dest}: both sides changed {conflicts}; "
                "pass keys={table: [pk,...]} for row-level merge",
                conflicts,
            )
        for t, sv, dv_ in dv_union_plan:
            # both sides DV-deleted rows of the same file set: the merged
            # vector is the distinct union of (file, pos) pairs, written
            # as a fresh vector table (metadata-sized — a few rows/file)
            dvt = DV_PREFIX + t
            union = (
                self._read_files(spark, sv)
                .unionByName(self._read_files(spark, dv_))
                .distinct()
            )
            rel = self.write_table(dest, dvt, union, mode="overwrite", _internal=True)
            with RepoLock(self.root):
                ref = self._read_ref(dest)
                ref["staged"].pop(dvt, None)
                self._write_ref(dest, ref)
            merged[dvt] = [rel]
        row_merges: list[str] = []
        for t in row_merge_plan:
            dvt = DV_PREFIX + t
            merged[t] = self._row_merge(
                spark, t, src_c.tables[t], dst_c.tables[t],
                base_tables.get(t), keys[t], on_conflict, dest,
                smaps=(
                    self._schema_map_of_commit(src_c, t),
                    self._schema_map_of_commit(dst_c, t),
                    self._schema_map_of_commit(base_c, t) if base_c else None,
                ),
                dvs=(
                    src_c.tables.get(dvt),
                    dst_c.tables.get(dvt),
                    base_tables.get(dvt) if base_c else None,
                ),
            )
            # the rewrite MATERIALIZED both sides' deletions; any
            # table-level-merged vector would misapply to the new files
            merged.pop(dvt, None)
            row_merges.append(t)
        # CHECK constraints: a merge adopting source-side files must not
        # land rows that violate the constraints ACTIVE AFTER the merge
        # (the merged constraint objects). One scan per changed
        # constrained table, and only when constraints exist — same
        # write-time cost model as everywhere else. (A fast-forward
        # adopts the source state wholesale, constraint objects
        # included, so its own write-time enforcement already holds.)
        import json as _json

        for t, files in merged.items():
            if t.startswith(DV_PREFIX):
                continue  # hidden vector tables carry no constraints
            if files == dst_c.tables.get(t) and merged.get(
                DV_PREFIX + t
            ) == dst_c.tables.get(DV_PREFIX + t):
                continue  # dest already holds these exact files + vector
            blob = merged_objects.get(self._constraints_path(t))
            if blob is None:
                continue
            with open(os.path.join(self.root, blob)) as f:
                cons = _json.loads(f.read())
            if not cons:
                continue
            # the adopted snapshot's deletion vector must apply BEFORE
            # the check — rows already DV-deleted are not being merged
            # in and must not spuriously violate a constraint
            dv_ent = merged.get(DV_PREFIX + t)
            adopted = self._read_files(
                spark,
                files,
                merge_schema=merged_objects.get(self._schema_map_path(t)) is not None,
                with_lineage=bool(dv_ent),
            )
            if dv_ent:
                adopted = self._apply_dv(spark, adopted, dv_ent)
            # a column-mapped table's constraints bind LOGICAL names: a
            # raw physical read would make _check_rows skip them as
            # unresolvable (NULL-passes semantics) and merge violating
            # rows in — replay the MERGED mapping before checking
            smap_blob = merged_objects.get(self._schema_map_path(t))
            if smap_blob is not None:
                with open(os.path.join(self.root, smap_blob)) as f:
                    smap = _json.loads(f.read())
                adopted = self.apply_schema_map(adopted, smap)
            self._check_rows(
                adopted, cons, f"merge {source}→{dest} would commit rows of {t!r}"
            )
        with RepoLock(self.root):
            c = Commit(
                id=new_id(),
                parents=[dst_c.id, src_c.id],
                message=message or f"merge {source} into {dest}",
                branch=dest,
                timestamp=time.time(),
                version=self._next_version(),
                tables=merged,
                meta={"merge_source": src_c.id, "row_merged": row_merges},
                objects=merged_objects,
            )
            self._write_commit(c)
            # carry (don't wipe) anything staged concurrently since the
            # entry dirty-check — the merge only moves the head
            ref = self._read_ref(dest)
            ref["head"] = c.id
            self._write_ref(dest, ref)
            return c

    def _row_merge(
        self,
        spark: SparkSession,
        table: str,
        src_files: list[str],
        dst_files: list[str],
        base_files: list[str] | None,
        pk: list[str],
        on_conflict: str,
        dest_branch: str,
        smaps: tuple = (None, None, None),
        dvs: tuple = (None, None, None),
    ) -> list[str]:
        """Row-level three-way merge, fully distributed.

        Classification per PK against base:
          src changed / dst unchanged → src row
          dst changed / src unchanged → dst row
          both changed identically    → either
          both changed differently    → on_conflict policy
        Inserts/deletes fall out of the same comparison with null-extension.

        ``smaps`` carries each side's schema mapping (src, dst, base):
        a column-mapped side must be compared by its LOGICAL schema —
        raw physical reads of era-mixed files would fingerprint
        misaligned columns.
        """
        smap_s, smap_d, smap_b = smaps
        dv_s, dv_d, dv_b = dvs

        def _load(files, smap, dv):
            # each side's deletion vector applies to ITS snapshot: a raw
            # read would classify DV-deleted rows as live and merge them
            # back in
            df = self._read_files(
                spark, files, merge_schema=smap, with_lineage=bool(dv)
            )
            if dv:
                df = self._apply_dv(spark, df, dv)
            return self.apply_schema_map(df, smap) if smap else df

        src = _load(src_files, smap_s, dv_s)
        dst = _load(dst_files, smap_d, dv_d)
        base = _load(base_files, smap_b, dv_b) if base_files else None
        cols = src.columns
        if set(cols) != set(dst.columns):
            raise MergeConflict(f"schema mismatch on {table}", [table])

        def fp(df: DataFrame, tag: str) -> DataFrame:
            # one row per PK with a content fingerprint; PK duplicates are
            # fingerprinted order-insensitively via sum of row hashes —
            # summed in DECIMAL: two identical near-2^63 xxhash64 values
            # overflow an ANSI long sum (crashed any merge of a table
            # with duplicate PKs; caught by the r11 force-reload test)
            h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
            return df.groupBy(*pk).agg(
                F.sum(h.cast("decimal(20,0)")).alias(f"_h_{tag}"),
                F.count(F.lit(1)).alias(f"_n_{tag}"),
            )

        s_fp, d_fp = fp(src, "s"), fp(dst, "d")
        b_fp = fp(base, "b") if base is not None else None
        j = s_fp.join(d_fp, on=pk, how="full")
        if b_fp is not None:
            j = j.join(b_fp, on=pk, how="full")
        else:
            j = j.withColumn("_h_b", F.lit(None)).withColumn("_n_b", F.lit(None))
        s_eq_b = (F.col("_h_s").eqNullSafe(F.col("_h_b"))) & (
            F.col("_n_s").eqNullSafe(F.col("_n_b"))
        )
        d_eq_b = (F.col("_h_d").eqNullSafe(F.col("_h_b"))) & (
            F.col("_n_d").eqNullSafe(F.col("_n_b"))
        )
        s_eq_d = (F.col("_h_s").eqNullSafe(F.col("_h_d"))) & (
            F.col("_n_s").eqNullSafe(F.col("_n_d"))
        )
        decided = j.withColumn(
            "_take",
            F.when(s_eq_d, F.lit("src"))
            .when(d_eq_b, F.lit("src"))   # only src changed (incl. src delete)
            .when(s_eq_b, F.lit("dst"))   # only dst changed
            .otherwise(F.lit("conflict")),
        )
        if on_conflict == "error":
            n_conf = decided.where(F.col("_take") == "conflict").count()
            if n_conf:
                raise MergeConflict(
                    f"{table}: {n_conf} rows changed on both branches", [table]
                )
        else:
            winner = "src" if on_conflict == "source" else "dst"
            decided = decided.withColumn(
                "_take",
                F.when(F.col("_take") == "conflict", F.lit(winner)).otherwise(
                    F.col("_take")
                ),
            )
        take_src = decided.where(F.col("_take") == "src").select(*pk)
        take_dst = decided.where(F.col("_take") == "dst").select(*pk)
        merged_df = src.join(take_src, on=pk, how="left_semi").unionByName(
            dst.join(take_dst, on=pk, how="left_semi")
        )
        rel = self.write_table(dest_branch, table, merged_df, mode="overwrite")
        # un-stage: the merge commit will reference the files directly
        # (including the DV drop write_table's overwrite staged — the
        # caller prunes the vector from the merged snapshot itself)
        with RepoLock(self.root):
            ref = self._read_ref(dest_branch)
            ref["staged"].pop(table, None)
            ref["staged"].pop(DV_PREFIX + table, None)
            self._write_ref(dest_branch, ref)
        return [rel]

    # -- compaction --------------------------------------------------------
    def compact(
        self,
        spark: SparkSession,
        branch: str,
        table: str,
        target_files: int | None = None,
        sort_by: list[str] | None = None,
        zorder_by: tuple[str, ...] | None = None,
        message: str | None = None,
        where: str | None = None,
    ) -> "Commit":
        """Rewrite a table into a compact layout, as a new commit.

        The small-files problem: streaming/incremental commits accrete many
        tiny parquet files, and at 100 TB scan cost becomes dominated by
        per-file open overhead and footer reads. ``compact`` rewrites the
        branch-head snapshot into ``target_files`` files — with
        ``sort_by``, rows are range-clustered on the given keys
        (repartitionByRange + sortWithinPartitions) so parquet min/max
        stats prune row groups for key-predicated scans. Old files stay
        referenced by prior commits (time travel intact) until ``vacuum``.

        ``where`` (Delta's ``OPTIMIZE t WHERE ...``) scopes the rewrite
        AT 100 TB: only file entries whose footer/partition stats MAY
        hold matching rows are rewritten — every provably-unmatching
        entry carries into the new commit by reference, so compacting
        yesterday's hot partition never touches the cold years. The
        predicate only SELECTS files; every row of a selected file is
        kept (a pure rearrangement) — except rows the table's deletion
        vector already hides, which materialize away for the selected
        files (their positions leave the vector, exactly the
        ``purge_deletion_vectors`` rule). An unparseable predicate
        RAISES: a scoped maintenance command silently becoming a
        full-table rewrite is the one failure mode worse than an error.

        The commit carries ``meta["data_change"] = False`` — the writer's
        assertion that the rows are a pure REARRANGEMENT of the parent
        snapshot (true by construction here: the input is the branch-head
        read). The streaming source skips such commits instead of failing
        the append stream on their file removals (Delta's ``dataChange``
        contract), so OPTIMIZE never breaks downstream tails. Refuses a
        dirty branch: ``commit`` sweeps ALL staged entries, and unrelated
        staged writes must not ride a commit flagged as changing nothing.
        """
        if self._is_dirty(self._read_ref(branch)):
            raise DirtyBranchError(
                f"compact on {branch}: uncommitted staged changes for "
                f"{sorted(self.status(branch))}; commit or reset first — "
                f"a data_change=false commit must contain only the "
                f"rearrangement"
            )
        n = target_files or spark.sparkContext.defaultParallelism

        if zorder_by is not None and not zorder_by:
            # an explicit empty key list silently falling through to a
            # plain coalesce would be a no-op wearing a ZORDER label
            raise ValueError("compact: zorder_by requires at least one column")

        def _cluster(df: DataFrame) -> DataFrame:
            if zorder_by:
                from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.layout import zorder_cluster

                return zorder_cluster(df, list(zorder_by), n)
            if sort_by:
                cols = [F.col(c) for c in sort_by]
                return df.repartitionByRange(n, *cols).sortWithinPartitions(
                    *cols
                )
            # coalesce: narrow, no shuffle — pure file-count reduction
            return df.coalesce(n)

        if where is None:
            df = _cluster(self.read_table(spark, table, ref=branch))
            self.write_table(branch, table, df, mode="overwrite")
            return self.commit(
                branch,
                message or f"compact {table} -> {n} files",
                meta={"data_change": False, "compacted_table": table},
            )
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning import stats as stats_mod
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.changes import _files_of

        head = self.head(branch)
        entries = list(head.tables.get(table) or ())
        if not entries:
            raise KeyError(f"table {table} not on branch {branch}")
        # an explicitly SCOPED maintenance command must never silently
        # become the most expensive possible operation — a typo'd,
        # unsupported, or partially-opaque predicate raises instead of
        # quietly rewriting (and DV-materializing) the whole 100 TB
        # table (conservative may-match is right for READS, wrong here)
        pred = stats_mod.parse_predicate(where)
        if pred is None or not stats_mod.fully_supported(pred):
            raise ValueError(
                f"compact: WHERE predicate {where!r} is not prunable "
                f"(unsupported expression shape, or a malformed trailing "
                f"clause was folded into it) — use simple "
                f"comparison/BETWEEN/IN/IS NULL predicates over AND/OR, "
                f"or run OPTIMIZE without WHERE to compact everything"
            )
        res = stats_mod.prune_file_list(self.root, entries, where)
        if res is None:
            raise ValueError(
                f"compact: stats unavailable to evaluate WHERE {where!r}"
            )
        safe, cand, _info = res
        if not cand:
            return head  # nothing may match: no-op, no commit
        smap = self.table_schema_map(table, ref=branch)
        dv0 = head.tables.get(DV_PREFIX + table)
        df = self._read_files(
            spark, cand, merge_schema=smap, with_lineage=bool(dv0)
        )
        if dv0:
            # positions on the rewritten files materialize away (the
            # purge rule); positions on carried files stay vectored
            df = self._apply_dv(spark, df, dv0)
        if smap:
            df = self.apply_schema_map(df, smap)
        return self._commit_rearrangement(
            spark,
            branch,
            table,
            safe,
            _cluster(df),
            _files_of(self.root, cand),
            message or f"compact {table} where {where}",
            {
                "data_change": False,
                "compacted_table": table,
                "compact_where": where,
            },
        )

    def upsert_table(
        self,
        spark: SparkSession,
        branch: str,
        table: str,
        source: DataFrame,
        keys: list[str],
        when_matched: str = "update",
        message: str | None = None,
    ) -> "Commit":
        """Row-level MERGE INTO: apply ``source`` changes to the branch-head
        snapshot on ``keys`` and commit the merged table as a new version.
        The reference's only mutation is whole-table overwrite
        (``jobs/vdt4.py:76-77``); this gives Delta-style incremental upsert
        on top of the same immutable-snapshot storage."""
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.mutations import upsert

        current = self.read_table(spark, table, ref=branch, include_staged=True)
        merged = upsert(current, source, keys, when_matched)
        self.write_table(branch, table, merged, mode="overwrite")
        return self.commit(
            branch, message or f"upsert {table} on {','.join(keys)}"
        )

    # -- vacuum (V15) ------------------------------------------------------
    def vacuum(
        self,
        keep_history: bool = True,
        dry_run: bool = False,
        grace_seconds: float = 300.0,
        retain_versions: int | None = None,
    ) -> list[str]:
        """Delete data directories unreachable from any branch ref.

        ``keep_history=True`` (default) keeps every file referenced by any
        commit reachable from any ref — safe for unlimited time travel.
        ``keep_history=False`` keeps only branch *heads* (+staged), like an
        aggressive Delta ``VACUUM RETAIN 0`` — commits stay readable as
        metadata but old snapshots lose their data files.

        Runs under ``RepoLock``: the live-set scan must not race a
        concurrent ``write_table`` whose parquet dir exists but whose
        staged pointer isn't recorded yet (the file would look dead and
        get deleted). ``write_table`` records the pointer under the same
        lock, so holding it here makes scan+delete atomic vs staging —
        and because the parquet write itself happens *before* the writer
        takes the lock, ``grace_seconds`` additionally spares any data dir
        modified within the window (a just-landed write racing toward its
        staging record). Set 0 only when no writers can be active.
        """
        with RepoLock(self.root):
            return self._vacuum_locked(
                keep_history, dry_run, grace_seconds, retain_versions
            )

    def _vacuum_locked(
        self,
        keep_history: bool,
        dry_run: bool,
        grace_seconds: float,
        retain_versions: int | None = None,
    ) -> list[str]:
        live: set[str] = set()

        def live_blob(rel: str | None) -> None:
            # blobs are files inside their own data/_objects/<id>/ dir; the
            # vacuum walk operates on those dirs
            if rel:
                live.add(os.path.dirname(rel))

        for br in self.branches():
            ref = self._read_ref(br)
            for entry in ref["staged"].values():
                live.update(entry["files"])
            for entry in self._staged_objects(ref).values():
                live_blob(entry["blob"])
            if retain_versions is not None or keep_history:
                # ONE commit-DAG walk with a per-commit keep predicate.
                # keep_history: every reachable commit's data stays live
                # (unlimited time travel). retain_versions (Delta VACUUM
                # RETAIN parity in version units): only commits whose
                # global version is within the newest ``retain_versions``
                # of this branch's head (plus the head itself) keep
                # data; older commits stay readable as METADATA but
                # their unshared files are collected — time travel past
                # the horizon raises at read, like Delta after
                # retention expiry.
                if retain_versions is not None:
                    floor_v = self.head(br).version - retain_versions

                    def keeps(c: Commit, cid: str) -> bool:
                        return c.version >= floor_v or cid == ref["head"]
                else:
                    def keeps(c: Commit, cid: str) -> bool:
                        return True

                stack = [ref["head"]]
                seen: set[str] = set()
                while stack:
                    cid = stack.pop()
                    if cid in seen:
                        continue
                    seen.add(cid)
                    c = self.get_commit(cid)
                    if keeps(c, cid):
                        for files in c.tables.values():
                            live.update(files)
                        for blob in c.objects.values():
                            live_blob(blob)
                    stack.extend(c.parents)
            else:
                head = self.head(br)
                for files in head.tables.values():
                    live.update(files)
                for blob in head.objects.values():
                    live_blob(blob)
        # a snapshot may reference an individual part-file inside a group
        # dir (pruned DML rewrites); the vacuum walk operates on group
        # dirs, so a live part-file keeps its data/<table>/<id> dir alive
        for e in list(live):
            parts = e.split(os.sep)
            if len(parts) > 3 and parts[0] == "data":
                live.add(os.sep.join(parts[:3]))
        removed: list[str] = []
        now = time.time()
        data_root = os.path.join(self.root, "data")
        for table in os.listdir(data_root) if os.path.exists(data_root) else []:
            tdir = os.path.join(data_root, table)
            for file_id in os.listdir(tdir):
                full = os.path.join(tdir, file_id)
                rel = os.path.relpath(full, self.root)
                if rel in live:
                    continue
                if grace_seconds > 0:
                    try:
                        if now - os.path.getmtime(full) < grace_seconds:
                            continue  # possibly an in-flight write
                    except OSError:
                        continue
                removed.append(rel)
                if not dry_run:
                    shutil.rmtree(full, ignore_errors=True)
        # prune manifests no RAW commit JSON references (content-addressed
        # spill files, log.py). Keyed off EVERY commit file on disk — not
        # just ref-reachable ones — because unreachable commits stay
        # readable as metadata and must never lose their manifests. The
        # grace window spares a manifest just written by a racing commit
        # whose JSON hasn't landed yet.
        mdir = os.path.join(self.root, MANIFEST_DIR)
        if os.path.isdir(mdir):
            referenced: set[str] = set()
            cdir = os.path.join(self.root, "commits")
            for fn in os.listdir(cdir):
                if not fn.endswith(".json"):
                    continue
                try:
                    raw = read_json(os.path.join(cdir, fn))
                except (OSError, ValueError):
                    continue
                for entries in raw.get("tables", {}).values():
                    for e in entries:
                        if is_manifest_ptr(e):
                            referenced.add(e["manifest"])
            for fn in os.listdir(mdir):
                rel = f"{MANIFEST_DIR}/{fn}"
                if rel in referenced:
                    continue
                full = os.path.join(mdir, fn)
                if grace_seconds > 0:
                    try:
                        if now - os.path.getmtime(full) < grace_seconds:
                            continue
                    except OSError:
                        continue
                removed.append(rel)
                if not dry_run:
                    try:
                        os.unlink(full)
                    except FileNotFoundError:
                        pass
                self._manifest_cache.pop(rel, None)
        # prune superseded CAS fences (log.cas_replace_ref): a fence for a
        # generation the branch ref has already advanced past can never be
        # claimed again (gens are monotone; a writer always claims
        # current+1), so it is pure garbage once older than the grace
        # window that covers any read→claim in flight
        fdir = self._fence_dir()
        if os.path.isdir(fdir):
            gens = {
                br: int(self._read_ref(br).get("gen", 0)) for br in self.branches()
            }
            for f in os.listdir(fdir):
                branch, _, g = f.rpartition(".gen-")
                if not branch or not g.isdigit():
                    continue
                stale = branch not in gens or int(g) <= gens[branch]
                full = os.path.join(fdir, f)
                try:
                    aged = now - os.path.getmtime(full) >= grace_seconds
                except OSError:
                    continue
                if stale and aged and not dry_run:
                    try:
                        os.unlink(full)
                    except FileNotFoundError:
                        pass
        return sorted(removed)

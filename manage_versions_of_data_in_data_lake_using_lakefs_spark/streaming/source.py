"""The versioned lake as a Structured Streaming SOURCE.

Completes the streaming loop: the engine already streams INTO the lake
exactly-once (``streaming/ops.py``); this module lets a downstream
pipeline tail a lake table *out* — the Delta-streaming-source pattern
(reference's lakeFS+Delta stack gets this from the Delta connector;
here it is a native Spark 4 Python DataSource).

Design:

- **Offsets are commit versions.** ``latestOffset`` reads the branch
  head's global version; a microbatch covers versions ``(start, end]``.
  Offsets live in the query checkpoint, so a restarted query resumes at
  the exact commit it left off — combined with the deterministic
  per-version file lists this gives exactly-once delivery into any of
  the repo's exactly-once sinks.
- **A microbatch's rows are the files ADDED in its versions** (the
  append-only reading of a table history). A version that *removes*
  files (overwrite/DELETE/compaction) is not representable as an append
  stream: the reader raises unless ``ignorechanges=true``, in which
  case removed files are skipped and only additions flow (Delta's
  ``ignoreChanges`` contract — downstream must tolerate it).
- **CDC mode** (``mode=cdc``) streams the change feed instead: rows
  tagged (_change_type, _commit_version), removals emitted as delete
  rows (removed files persist until vacuum), non-append commits fully
  representable. File-granularity CDF — multiset-correct to fold,
  not row-minimal (see ``stream_table_from_repo``).
- **Column-mapped tables stream (r8).** The batch reader's ALTER
  RENAME/ADD/DROP replay is re-derived here per FILE: each logical
  column resolves through its era-ordered alias chain (a→b→c), absent
  columns (pre-ADD era files) surface as null, dropped/renamed-away
  physical names are ignorable. The replay plan ships inside each
  partition as plain tuples, so executors stay pyarrow-only. GENERATED
  columns still raise — their expressions need Spark, batch-only.
- **Hive-partitioned layouts stream (r8).** ``k=v`` path components
  become partition-column constants appended after the data columns
  (Spark's partition-discovery convention); types are inferred from
  the path values (int→bigint→double→date→string, the Spark order
  restricted to path-representable types).
- **Partitions ship plain file paths + replay tuples**; executors read
  them with pyarrow only — no engine imports ever reach worker
  processes. All classes are built inside a factory so cloudpickle
  ships them BY VALUE (the repo package is not importable from Spark's
  spawned python runner/worker processes — same rule as every worker
  function in this codebase, pinned by tests/test_worker_pickling.py).
  Engine imports happen only in driver-side reader methods,
  bootstrapped via the ``package_root`` option.

Remaining guard boundaries (loud, not silent): GENERATED columns
(Spark-expression replay is batch-only) and a stream-schema column
renamed/dropped MID-stream (Delta fails such streams too — restart
with a fresh schema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

#: the package directory's parent — what sys.path needs for imports
_PACKAGE_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

#: Hive's path encoding of a NULL partition value
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

def make_lake_stream_source():
    """Build the DataSource class. Factory-scoped so cloudpickle ships
    the class (and EVERY helper it closes over, including the arrow→DDL
    mapper) by value — a module-level helper would pickle as a reference
    to this package and fail to import in Spark's python runner."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    _arrow_to_ddl = {
        "int8": "tinyint",
        "int16": "smallint",
        "int32": "int",
        "int64": "bigint",
        "float": "float",
        "double": "double",
        "bool": "boolean",
        "string": "string",
        "large_string": "string",
        "binary": "binary",
        "large_binary": "binary",
        "date32[day]": "date",
    }

    def _arrow_field_ddl(t) -> str:
        """pyarrow type → Spark DDL type for the source's declared schema.
        Timestamps map by tz-awareness (naive parquet micros surface as
        TIMESTAMP_NTZ in Spark 4, matching the batch reader's inference)."""
        import pyarrow as pa

        s = str(t)
        if s in _arrow_to_ddl:
            return _arrow_to_ddl[s]
        if pa.types.is_timestamp(t):
            return "timestamp" if t.tz is not None else "timestamp_ntz"
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return f"array<{_arrow_field_ddl(t.value_type)}>"
        if pa.types.is_decimal(t):
            return f"decimal({t.precision},{t.scale})"
        raise NotImplementedError(
            f"lake stream source: unsupported column type {s}"
        )

    def _open_repo(opts):
        import importlib
        import sys as _sys

        pkg_root = opts.get("package_root") or "."
        if pkg_root not in _sys.path:
            _sys.path.insert(0, pkg_root)
        mod = importlib.import_module(
            "manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo"
        )
        return mod.LakeRepo(opts["root"])

    def _alias_chains(smap):
        """Replay ALTER steps into per-file resolution structures:
        ``chains`` maps each final logical name created/renamed by the
        steps to its era-ordered physical names (oldest→newest);
        ``consumed`` is every physical name no longer addressable
        (renamed-away sources, dropped columns and their whole era
        chain); ``declared`` pins the DDL type of ADDed columns (the
        batch reader casts to it — mirrored here so pre-ADD nulls and
        post-ADD values agree). GENERATED columns raise: their stored
        expressions need Spark evaluation, which is batch-only."""
        chains: dict[str, list[str]] = {}
        consumed: set[str] = set()
        declared: dict[str, str] = {}
        addable: set[str] = set()  # later-ADDed: absence = pre-ADD era
        gens: set[str] = set()  # LIVE generated columns (add_gen minus drop)
        for st in (smap or {}).get("steps", []):
            op = st["op"]
            if op == "rename":
                if st["from"] in gens:
                    gens.discard(st["from"])
                    gens.add(st["to"])
                    continue  # nothing stored under either name
                chains[st["to"]] = chains.pop(st["from"], [st["from"]]) + [
                    st["to"]
                ]
                consumed.add(st["from"])
                if st["from"] in declared:
                    declared[st["to"]] = declared.pop(st["from"])
                if st["from"] in addable:
                    addable.discard(st["from"])
                    addable.add(st["to"])
            elif op == "add":
                chains.setdefault(st["name"], [st["name"]])
                declared[st["name"]] = st["type"]
                addable.add(st["name"])
            elif op == "drop":
                if st["name"] in gens:
                    gens.discard(st["name"])  # never stored: nothing to
                    continue                  # consume (batch rule too)
                consumed.update(chains.pop(st["name"], [st["name"]]))
                declared.pop(st["name"], None)
                addable.discard(st["name"])
            elif op == "add_gen":
                gens.add(st["name"])
            elif op == "widen":
                # lossless type widening (r14): the declared DDL pins
                # the WIDE type for every era's files (the batch reader
                # casts narrow eras up); absence stays illegal — a
                # widened column was always stored
                declared[st["name"]] = st["type"]
        if gens:
            # only LIVE generated columns block streaming — ones added
            # and later dropped never stored anything and are invisible
            raise NotImplementedError(
                f"lake stream source: table has live GENERATED column(s) "
                f"{sorted(gens)} (their expressions need Spark "
                f"evaluation); DROP them or read in batch"
            )
        return chains, consumed, declared, addable

    def _split_partvals(rel):
        """``k=v`` path components of a relative file path, in path
        order — the Hive partition values the file's rows carry."""
        return tuple(
            tuple(part.split("=", 1))
            for part in rel.split(os.sep)
            if "=" in part
        )

    def _expand_entries(root, entries, missing=None):
        """Commit entries → ``(relative file path, partition values)``
        pairs. Entries may be file-group dirs, individual part-files
        (pruned rewrites), or Hive ``k=v`` partition trees (both as
        subdirs of a group and path-encoded in pruned-rewrite entries).

        An entry whose backing dir/file is GONE (vacuumed history) is a
        hard error — silently skipping it would drain an incomplete
        stream with no signal. Pass ``missing`` (a list) to collect such
        entries instead of raising (used for the diff's parent side,
        where the caller decides)."""
        out = []

        def walk(rel):
            full = os.path.join(root, rel)
            for fn in sorted(os.listdir(full)):
                sub = os.path.join(rel, fn)
                if os.path.isdir(os.path.join(root, sub)):
                    if "=" in fn:
                        walk(sub)  # Hive partition subtree
                    else:
                        raise NotImplementedError(
                            f"lake stream source: unrecognized nested "
                            f"layout under {rel} ({fn}); read the table "
                            f"in batch"
                        )
                elif fn.endswith(".parquet"):
                    out.append((sub, _split_partvals(sub)))

        for e in entries:
            full = os.path.join(root, e)
            if os.path.isdir(full):
                walk(e)
            elif e.endswith(".parquet") and os.path.exists(full):
                out.append((e, _split_partvals(e)))
            elif missing is not None:
                missing.append(e)
            else:
                raise FileNotFoundError(
                    f"lake stream source: commit entry {e} has no backing "
                    f"files on disk — the history this stream still needs "
                    f"was likely vacuumed; keep retention >= stream lag, "
                    f"or restart the stream from a live version"
                )
        return out

    def _partition_keys(files):
        """The ordered partition-column names shared by every file, or
        () for unpartitioned layouts. Mixed layouts (some files
        partitioned, some not, or differing key orders) raise — one
        snapshot must path-encode one consistent scheme."""
        keys = None
        for _rel, pv in files:
            ks = tuple(k for k, _ in pv)
            if keys is None:
                keys = ks
            elif ks != keys:
                raise NotImplementedError(
                    f"lake stream source: inconsistent Hive partition "
                    f"layouts in one snapshot ({keys} vs {ks}); read the "
                    f"table in batch"
                )
        return keys or ()

    # STRICT lexical gates, deliberately narrower than Python's parsers:
    # int("1_2") / float("inf") / unicode digits all succeed in Python
    # but Spark's partition discovery (Java parsing) rejects them, so a
    # permissive parse would make the stream type/value-diverge from the
    # batch read of the same tree. ASCII-only, no underscores/inf/nan.
    import re as _re

    _INT_RE = _re.compile(r"[+-]?[0-9]+\Z", _re.ASCII)
    _FLOAT_RE = _re.compile(
        r"[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)([eE][+-]?[0-9]+)?\Z", _re.ASCII
    )
    _DATE_RE = _re.compile(r"[0-9]{4}-[0-9]{2}-[0-9]{2}\Z", _re.ASCII)

    def _infer_part_ddl(raws):
        """Partition-column type from its path-encoded values — Spark's
        partition-discovery inference order restricted to the types a
        path can carry: int → bigint → double → date → string. Values
        must pass the strict lexical gates above; anything else stays a
        string (exactly what Spark's own discovery would do)."""
        import datetime
        from urllib.parse import unquote

        live = [unquote(v) for v in raws if v != _HIVE_NULL]
        if not live:
            return "string"
        if all(_INT_RE.match(v) for v in live):
            return (
                "int"
                if all(-(2**31) <= int(v) < 2**31 for v in live)
                else "bigint"
            )
        if all(_FLOAT_RE.match(v) for v in live):
            return "double"

        def is_date(v):
            if not _DATE_RE.match(v):
                return False
            try:
                datetime.date.fromisoformat(v)
                return True
            except ValueError:
                return False

        if all(is_date(v) for v in live):
            return "date"
        return "string"

    def _parse_part(raw, ddl):
        """One path-encoded partition value → a typed Python constant
        matching the stream's declared DDL for that column. Same strict
        gates as inference: a value the declared type can't represent
        raises instead of Python-coercing to a different value than the
        batch read would produce."""
        import datetime
        from urllib.parse import unquote

        if raw == _HIVE_NULL:
            return None
        v = unquote(raw)
        if ddl in ("tinyint", "smallint", "int", "bigint"):
            if not _INT_RE.match(v):
                raise ValueError(
                    f"lake stream source: partition value {v!r} is not a "
                    f"valid {ddl} literal"
                )
            return int(v)
        if ddl in ("float", "double"):
            if not _FLOAT_RE.match(v):
                raise ValueError(
                    f"lake stream source: partition value {v!r} is not a "
                    f"valid {ddl} literal"
                )
            return float(v)
        if ddl == "date":
            # strict gate first: Python 3.11's fromisoformat also accepts
            # compact/week forms ('20240101') Spark's discovery rejects
            if not _DATE_RE.match(v):
                raise ValueError(
                    f"lake stream source: partition value {v!r} is not a "
                    f"valid date literal (yyyy-mm-dd)"
                )
            return datetime.date.fromisoformat(v)
        return v

    def _commit_chain(repo, branch, start_v, end_v):
        """Commits on the branch's FIRST-PARENT line with version in
        (start_v, end_v], oldest first. Walking the chain (not raw
        version integers) is what makes multi-branch repos safe: the
        global version counter is shared across branches (and aborted
        commits burn numbers), so versions absent from this line simply
        never appear — they are other branches' history, not deletions."""
        chain = []
        c = repo.head(branch)
        while c is not None and c.version > start_v:
            if c.version <= end_v:
                chain.append(c)
            c = repo.get_commit(c.parents[0]) if c.parents else None
        chain.reverse()
        return chain

    def _dv_positions(root, dv_entries, cap=2_000_000):
        """file_rel → frozenset of deleted row positions, read from the
        DV companion table's parquet (driver-side pyarrow — DV commits
        are metadata-sized by design; the loud cap catches a vector that
        outgrew the driver, where the remedy is OPTIMIZE to materialize
        the deletions)."""
        import pyarrow.parquet as pq

        out: dict = {}
        n = 0
        for rel, _pv in _expand_entries(root, dv_entries):
            t = pq.ParquetFile(os.path.join(root, rel)).read(
                columns=["file", "pos"]
            )
            files = t.column("file").to_pylist()
            poss = t.column("pos").to_pylist()
            n += len(poss)
            if n > cap:
                raise ValueError(
                    f"lake stream source: deletion vector exceeds {cap} "
                    f"positions — too large to thread through the change "
                    f"feed; OPTIMIZE the table to materialize the "
                    f"deletions, then restart the stream past it"
                )
            for f, p in zip(files, poss):
                out.setdefault(f, set()).add(int(p))
        return {k: frozenset(v) for k, v in out.items()}

    class _FilePartition(InputPartition):
        def __init__(
            self,
            path,
            colspec,
            allowed,
            change_type=None,
            version=None,
            include_pos=None,
            exclude_pos=None,
        ):
            self.path = path
            #: per output column: (logical name, era-ordered alias tuple
            #: to resolve against the file's physical columns, constant)
            #: — aliases None means "emit the constant" (partition value)
            self.colspec = colspec
            #: physical names legal in this file beyond the resolved
            #: ones (dropped/renamed-away eras); anything else raises
            self.allowed = allowed
            # CDC mode only: rows from this file are tagged
            # (_change_type, _commit_version)
            self.change_type = change_type
            self.version = version
            #: deletion-vector row selection (CDC): emit ONLY these file
            #: positions (a DV-delete's rows) / emit all EXCEPT these
            #: (rows a parent-snapshot DV had already deleted)
            self.include_pos = include_pos
            self.exclude_pos = exclude_pos

    def _append_new_files(repo, table, dv_prefix, c, parent):
        """The APPEND path's per-commit contribution: sorted new
        (rel, pv) tuples, or None when the commit contributes nothing
        (table untouched, or a data_change=false rearrangement). The
        SAME construction partitions() uses inline — the rate limiter's
        per-version counts and partitions' slicing must agree exactly,
        or a capped stream would drop or duplicate files."""
        prev_entries = parent.tables.get(table, []) if parent else []
        cur_entries = c.tables.get(table, [])
        dvt = dv_prefix + table
        dv_changed = (
            parent.tables.get(dvt, []) if parent else []
        ) != c.tables.get(dvt, [])
        if cur_entries == prev_entries and not dv_changed:
            return None
        if c.meta.get("data_change") is False:
            return None
        miss: list = []
        prev = set(_expand_entries(repo.root, prev_entries, miss))
        cur = set(_expand_entries(repo.root, cur_entries))
        return sorted(cur - prev)

    class _LakeStreamReader(DataSourceStreamReader):
        def __init__(self, options, schema):
            self.opts = dict(options)
            self.cdc = str(self.opts.get("mode", "")).lower() == "cdc"
            self.cap = int(self.opts.get("maxfilespertrigger", 0) or 0)
            self.bcap = int(self.opts.get("maxbytespertrigger", 0) or 0)
            if self.cap < 0 or self.bcap < 0:
                raise ValueError(
                    "lake stream source: rate limits must be positive "
                    f"(maxFilesPerTrigger={self.cap}, "
                    f"maxBytesPerTrigger={self.bcap})"
                )
            if (self.cap or self.bcap) and self.cdc:
                raise ValueError(
                    "lake stream source: maxFilesPerTrigger / "
                    "maxBytesPerTrigger are not supported with mode=cdc "
                    "— a commit's delete+insert change rows must land in "
                    "one microbatch to fold atomically; cap the APPEND "
                    "stream or widen the trigger interval instead"
                )
            #: last planned/committed end offset, tracked so latestOffset
            #: can bound the next microbatch (the Python DataSource API
            #: has no admission-control hook). Set by partitions (every
            #: planned batch) and commit; latestOffset itself seeds it
            #: from starting_version when still None — on a FRESH stream
            #: the engine calls latestOffset BEFORE initialOffset, and on
            #: a RESTART it replays partitions() of the offset log's last
            #: batch before planning new ones (the same engine contract
            #: pyspark's _SimpleStreamReaderWrapper.partitions documents
            #: and depends on), so the seed is only ever used when
            #: starting_version IS the true start.
            self._pos: dict | None = None
            #: byte-cap admission stat cache (ADVICE r11): committed
            #: data files are immutable, so each is os.stat'ed at most
            #: once while its commit version is pending instead of once
            #: per latestOffset poll — an idling stream at a deep
            #: backlog otherwise repeats O(pending files) syscalls
            #: every trigger. Keyed per commit version so commit()
            #: can evict consumed versions, bounding the cache to the
            #: pending window rather than the table's full history.
            self._sizes: dict[int, dict[str, int]] = {}
            names = list(schema.fieldNames())
            #: declared DDL per field — partition constants parse to it
            self.ddl = {
                f.name: f.dataType.simpleString() for f in schema.fields
            }
            if self.cdc:
                # the source appends the meta columns LAST; validate the
                # contract so a user-supplied explicit schema of bare
                # data columns fails loudly instead of silently losing
                # its last two real columns
                if names[-2:] != ["_change_type", "_commit_version"]:
                    raise ValueError(
                        "lake stream source (mode=cdc): the schema's last "
                        "two fields must be `_change_type string, "
                        "_commit_version bigint` (the source appends "
                        f"them); got {names[-2:]} — append them to your "
                        "explicit schema or omit .schema() entirely"
                    )
                self.fields = names[:-2]
            else:
                self.fields = names

        # -- driver-side (python runner process; engine imports OK after
        #    the package_root bootstrap) --------------------------------
        def initialOffset(self) -> dict:
            off = {"version": int(self.opts.get("starting_version", -1))}
            self._pos = dict(off)
            return off

        def latestOffset(self) -> dict:
            repo = _open_repo(self.opts)
            head_v = repo.head(self.opts["branch"]).version
            if not self.cap and not self.bcap:
                return {"version": head_v}
            if self._pos is None:
                # fresh stream: the engine calls latestOffset BEFORE
                # initialOffset, so seed the position ourselves (a
                # restarted stream never lands here — its partitions()
                # WAL replay set _pos first)
                self._pos = {
                    "version": int(self.opts.get("starting_version", -1))
                }
            import importlib

            dv_prefix = importlib.import_module(
                type(repo).__module__
            ).DV_PREFIX
            branch, table = self.opts["branch"], self.opts["table"]
            sv = self._pos["version"]
            sf = self._pos.get("fidx")
            admitted = 0
            used_bytes = 0
            # a partially consumed start version is walked INCLUSIVELY
            end: dict = dict(self._pos)
            for c in _commit_chain(
                repo, branch, sv - 1 if sf is not None else sv, head_v
            ):
                if sf is not None and c.version < sv:
                    continue
                files = _append_new_files(repo, table, dv_prefix, c, None
                    if not c.parents else repo.get_commit(c.parents[0]))
                if files is None:
                    end = {"version": c.version}
                    continue
                skip = sf if (sf is not None and c.version == sv) else 0
                stopped = False
                for idx in range(skip, len(files)):
                    # the file cap is HARD; the byte cap is SOFT (Delta's
                    # maxBytesPerTrigger admission: files are taken while
                    # the budget is not yet MET, so the last admitted
                    # file may overshoot it)
                    if admitted and (
                        (self.cap and admitted >= self.cap)
                        or (self.bcap and used_bytes >= self.bcap)
                    ):
                        # idx files of this version consumed so far; 0
                        # means none — the previous end stands
                        if idx:
                            end = {"version": c.version, "fidx": idx}
                        stopped = True
                        break
                    admitted += 1
                    if self.bcap:
                        rel = files[idx][0]
                        vsizes = self._sizes.setdefault(c.version, {})
                        size = vsizes.get(rel)
                        if size is None:
                            size = os.path.getsize(
                                os.path.join(repo.root, rel)
                            )
                            vsizes[rel] = size
                        used_bytes += size
                if stopped:
                    break
                end = {"version": c.version}
                if c.version < head_v and (
                    (self.cap and admitted >= self.cap)
                    or (self.bcap and used_bytes >= self.bcap)
                ):
                    break
            return end

        def _plan_file(self, filepv, chains, consumed, declared, addable):
            """The replay plan for one file: resolve each stream field
            through its alias chain (or to its path-encoded partition
            constant) and pin the set of legal extra physical names.
            Each spec entry carries whether a missing physical column is
            LEGITIMATE (only later-ADDed columns may be absent — pre-ADD
            era files); anything else missing fails loudly at read
            instead of silently streaming nulls (a flat file appended
            into a partitioned table, or a foreign file)."""
            rel, pv = filepv
            pdict = dict(pv)
            stray = sorted(k for k in pdict if k not in self.fields)
            if stray:
                raise ValueError(
                    f"lake stream source: {rel} path-encodes partition "
                    f"column(s) {stray} absent from the stream schema "
                    f"(layout changed after the stream started?); restart "
                    f"the stream or read in batch"
                )
            spec = []
            for L in self.fields:
                if L in pdict:
                    spec.append((L, None, _parse_part(pdict[L], self.ddl[L]), True))
                else:
                    spec.append(
                        (L, tuple(chains.get(L, (L,))), None, L in addable)
                    )
            allowed = frozenset(
                consumed | {p for a in spec if a[1] for p in a[1]}
            )
            return tuple(spec), allowed

        def partitions(self, start: dict, end: dict):
            import importlib

            self._pos = dict(end)  # feeds the next trigger's rate limit
            s_fidx = start.get("fidx")
            e_fidx = end.get("fidx")
            if self.cdc and (s_fidx is not None or e_fidx is not None):
                raise ValueError(
                    "lake stream source (mode=cdc): this checkpoint "
                    "carries file-sliced offsets from a capped APPEND "
                    "stream — mode cannot change mid-stream; restart "
                    "with a fresh checkpoint"
                )
            repo = _open_repo(self.opts)
            # single source of truth for the companion-table prefix
            # (driver-side: _open_repo just bootstrapped the package)
            dv_prefix = importlib.import_module(
                type(repo).__module__
            ).DV_PREFIX
            branch, table = self.opts["branch"], self.opts["table"]
            ignore = str(self.opts.get("ignorechanges", "")).lower() == "true"
            # the column mapping at the CURRENT branch head, applied
            # retroactively to every era's files — exactly the batch
            # read-at-head semantics (and Delta's field-id mapping). A
            # commit's own older map would strand pre-ALTER files: the
            # stream schema speaks post-ALTER names.
            chains, consumed, declared, addable = _alias_chains(
                repo.table_schema_map(table, ref=branch, include_staged=False)
            )
            drift = [L for L in self.fields if L in consumed]
            if drift:
                raise ValueError(
                    f"lake stream source: stream-schema column(s) {drift} "
                    f"were renamed or dropped AFTER this stream's schema "
                    f"was pinned; a pinned stream cannot follow ALTERs — "
                    f"restart the stream (fresh checkpoint) to pick up "
                    f"the new schema"
                )
            parts: list[_FilePartition] = []
            # one walk of the first-parent chain; each commit diffs
            # against its OWN parent's entries (O(chain), not
            # O(chain²) re-resolves from head)
            for c in _commit_chain(
                repo,
                branch,
                # a partially consumed start version re-enters the walk
                start["version"] - 1 if s_fidx is not None else start["version"],
                end["version"],
            ):
                if s_fidx is not None and c.version < start["version"]:
                    continue
                parent = (
                    repo.get_commit(c.parents[0]) if c.parents else None
                )
                prev_entries = parent.tables.get(table, []) if parent else []
                cur_entries = c.tables.get(table, [])
                # deletion-vector companion: a commit may delete rows by
                # ONLY touching the vector
                dvt = dv_prefix + table
                dv_prev_entries = parent.tables.get(dvt, []) if parent else []
                dv_cur_entries = c.tables.get(dvt, [])
                dv_changed = dv_cur_entries != dv_prev_entries
                if cur_entries == prev_entries and not dv_changed:
                    continue  # commit did not touch this table
                if c.meta.get("data_change") is False:
                    # the writer asserts this commit is a pure
                    # REARRANGEMENT of its parent's rows (OPTIMIZE /
                    # compaction) — Delta's dataChange contract: append
                    # streams skip it instead of failing on its file
                    # removals, and the CDC feed emits nothing (the
                    # multiset is unchanged). Later commits diff against
                    # the compacted snapshot, so only genuinely new rows
                    # flow.
                    continue
                # the parent side tolerates vacuumed entries at the DIFF
                # level (we may only need their names); the current side
                # is strict — its rows are about to be read
                miss_prev: list[str] = []
                prev = set(
                    _expand_entries(repo.root, prev_entries, miss_prev)
                )
                cur = set(_expand_entries(repo.root, cur_entries))
                removed = prev - cur
                if self.cdc:
                    if miss_prev:
                        shown = ", ".join(miss_prev[:3]) + (
                            ", ..." if len(miss_prev) > 3 else ""
                        )
                        raise FileNotFoundError(
                            f"lake stream source (mode=cdc): version "
                            f"{c.version} removed {len(miss_prev)} "
                            f"entr{'y' if len(miss_prev) == 1 else 'ies'} "
                            f"whose files were vacuumed ({shown}); their "
                            f"delete rows are unrecoverable — keep "
                            f"retention >= stream lag or restart past "
                            f"this version"
                        )
                    # CDC mode: removals become 'delete' rows (removed
                    # files persist on disk until vacuum), additions
                    # 'insert' rows — FILE-granularity CDF: a rewrite
                    # emits delete+insert for every row of the rewritten
                    # files (like Delta CDF without change files), so the
                    # feed is multiset-correct to fold, not row-minimal.
                    # Deletion vectors thread through as row positions:
                    # a removed file's delete rows EXCLUDE positions its
                    # parent-snapshot DV had already deleted (else the
                    # fold double-deletes them), an added file's inserts
                    # exclude the current DV, and a DV-only commit emits
                    # delete rows at exactly the newly vectored positions.
                    dv_prev_pos = (
                        _dv_positions(repo.root, dv_prev_entries)
                        if dv_prev_entries and (removed or dv_changed)
                        else {}
                    )
                    if dv_changed:
                        # a dropped vector (dv_cur empty) must yield {}
                        # here, NOT the parent's positions — otherwise
                        # the un-delete guard below can't see surviving
                        # files whose deletions were silently revoked
                        dv_cur_pos = (
                            _dv_positions(repo.root, dv_cur_entries)
                            if dv_cur_entries
                            else {}
                        )
                    else:
                        dv_cur_pos = dv_prev_pos
                    for tag, group, dvpos in (
                        ("delete", sorted(removed), dv_prev_pos),
                        ("insert", sorted(cur - prev), dv_cur_pos),
                    ):
                        for fpv in group:
                            spec, allowed = self._plan_file(
                                fpv, chains, consumed, declared, addable
                            )
                            parts.append(
                                _FilePartition(
                                    os.path.join(repo.root, fpv[0]),
                                    spec,
                                    allowed,
                                    tag,
                                    c.version,
                                    exclude_pos=dvpos.get(fpv[0]),
                                )
                            )
                    if dv_changed:
                        for rel_pv in sorted(prev & cur):
                            rel = rel_pv[0]
                            newly = frozenset(
                                dv_cur_pos.get(rel, frozenset())
                                - dv_prev_pos.get(rel, frozenset())
                            )
                            undeleted = dv_prev_pos.get(
                                rel, frozenset()
                            ) - dv_cur_pos.get(rel, frozenset())
                            if undeleted:
                                raise ValueError(
                                    f"lake stream source (mode=cdc): version "
                                    f"{c.version} REMOVED deletion-vector "
                                    f"positions for surviving file {rel} "
                                    f"(un-delete) — not representable as a "
                                    f"change feed; restart past this version"
                                )
                            if not newly:
                                continue
                            spec, allowed = self._plan_file(
                                rel_pv, chains, consumed, declared, addable
                            )
                            parts.append(
                                _FilePartition(
                                    os.path.join(repo.root, rel),
                                    spec,
                                    allowed,
                                    "delete",
                                    c.version,
                                    include_pos=newly,
                                )
                            )
                    continue
                if dv_changed and not ignore:
                    raise ValueError(
                        f"lake stream source: version {c.version} changed "
                        f"the deletion vector of {table} (row-level "
                        f"DELETE); the append-only stream cannot represent "
                        f"it — set ignorechanges=true to skip deletions, "
                        f"or mode=cdc to stream the delete rows"
                    )
                if (removed or miss_prev) and not ignore:
                    vac = (
                        f" ({len(miss_prev)} already vacuumed — mode=cdc "
                        f"cannot recover their delete rows either)"
                        if miss_prev
                        else " — or mode=cdc to stream delete+insert "
                        "change rows"
                    )
                    raise ValueError(
                        f"lake stream source: version {c.version} removed "
                        f"{len(removed) + len(miss_prev)} file(s)/"
                        f"entr(ies) from {table} (overwrite/DELETE/"
                        f"compaction); the append-only stream cannot "
                        f"represent it — set ignorechanges=true to skip "
                        f"removals and stream additions only{vac}"
                    )
                new_files = sorted(cur - prev)
                # rate-limited offsets slice a version's new-file list
                # (same sorted construction the limiter counted)
                lo = (
                    s_fidx
                    if s_fidx is not None and c.version == start["version"]
                    else 0
                )
                hi = (
                    e_fidx - lo
                    if e_fidx is not None and c.version == end["version"]
                    else None
                )
                if lo:
                    new_files = new_files[lo:]
                if hi is not None:
                    new_files = new_files[:hi]
                for fpv in new_files:
                    spec, allowed = self._plan_file(fpv, chains, consumed, declared, addable)
                    parts.append(
                        _FilePartition(
                            os.path.join(repo.root, fpv[0]), spec, allowed
                        )
                    )
            return parts

        def commit(self, end: dict) -> None:
            self._pos = dict(end)
            if self._sizes:
                # versions at or below the committed position can never
                # be re-admitted (a partially consumed version — fidx
                # set — still has pending files, keep its entries)
                v = end["version"]
                fully = end.get("fidx") is None
                for ver in [
                    k for k in self._sizes if k < v or (fully and k == v)
                ]:
                    del self._sizes[ver]

        # -- executor-side: pyarrow + stdlib ONLY ----------------------
        def read(self, partition):
            import pyarrow.parquet as pq

            pf = pq.ParquetFile(partition.path)
            names = set(pf.schema_arrow.names)
            extra = names - partition.allowed
            if extra:
                # a file carrying columns the stream plan knows nothing
                # about would be silently truncated; fail loudly like the
                # other guards (Delta fails mid-stream schema widening too)
                raise ValueError(
                    f"lake stream source: {partition.path} carries columns "
                    f"{sorted(extra)} absent from the stream schema "
                    f"(schema-evolving append after the stream started?); "
                    f"restart the stream to pick up the new schema, or "
                    f"read in batch"
                )
            # resolve each output column: newest era alias present in
            # THIS file wins; none present → null column, legal ONLY for
            # later-ADDed columns (pre-ADD era files) — anything else
            # missing is a layout break (flat file in a partitioned
            # table, foreign file) and must not stream silent nulls;
            # aliases None → path-encoded partition constant
            read_cols: list[str] = []
            plan = []  # ('f', read_cols index) | ('c', constant)
            for L, aliases, const, absent_ok in partition.colspec:
                if aliases is None:
                    plan.append(("c", const))
                    continue
                hit = next(
                    (a for a in reversed(aliases) if a in names), None
                )
                if hit is None:
                    if not absent_ok:
                        raise ValueError(
                            f"lake stream source: {partition.path} has no "
                            f"column for stream field {L!r} (aliases "
                            f"{list(aliases)}) and it is not a later-ADDed "
                            f"column — mixed partition layouts or a "
                            f"foreign file; read the table in batch"
                        )
                    plan.append(("c", None))
                else:
                    plan.append(("f", len(read_cols)))
                    read_cols.append(hit)
            t = pf.read(columns=read_cols)
            n = t.num_rows
            cols = [
                t.column(v).to_pylist() if kind == "f" else [v] * n
                for kind, v in plan
            ]
            inc = getattr(partition, "include_pos", None)
            exc = getattr(partition, "exclude_pos", None)
            tag = (
                (partition.change_type, partition.version)
                if partition.change_type is not None
                else None
            )
            # pyarrow reads the file in order, so enumerate() IS the
            # parquet row index the deletion vectors speak
            for i, row in enumerate(zip(*cols)):
                if inc is not None and i not in inc:
                    continue
                if exc is not None and i in exc:
                    continue
                yield row + tag if tag is not None else row

    class LakeStreamSource(DataSource):
        """format("lakegraft_stream"): options root, branch, table,
        [starting_version, ignorechanges, mode=cdc, package_root]."""

        @classmethod
        def name(cls) -> str:
            return "lakegraft_stream"

        def schema(self) -> str:
            import pyarrow.parquet as pq

            repo = _open_repo(self.options)
            table = self.options["table"]
            cdc = str(self.options.get("mode", "")).lower() == "cdc"
            smap = repo.table_schema_map(
                table, ref=self.options["branch"], include_staged=False
            )
            c = repo.head(self.options["branch"])
            files: list[tuple] = []
            while c is not None:
                # tolerate vacuumed entries here (collector) — schema
                # inference just needs ONE live file; if the whole walk
                # comes up empty the actionable remedy is an explicit
                # .schema(...), not a vacuum complaint
                files = _expand_entries(
                    repo.root, c.tables.get(table, []), []
                )
                if files or not cdc:
                    # append mode pins the HEAD snapshot's schema; CDC
                    # walks back to the last version that had files — a
                    # DELETE-emptied head is exactly what a change feed
                    # must still be able to describe
                    break
                c = repo.get_commit(c.parents[0]) if c.parents else None
            if not files:
                raise ValueError(
                    "lake stream source: table has no committed files on "
                    "disk to derive a schema from (never written, or its "
                    "history was vacuumed); pass an explicit .schema(...)"
                )
            part_keys = _partition_keys(files)
            part_raws: dict[str, list[str]] = {k: [] for k in part_keys}
            for _rel, pv in files:
                for k, v in pv:
                    part_raws[k].append(v)
            if smap:
                touched = {
                    n
                    for st in smap["steps"]
                    for n in (st.get("name"), st.get("from"), st.get("to"))
                    if n
                }
                clash = [k for k in part_keys if k in touched]
                if clash:
                    raise NotImplementedError(
                        f"lake stream source: partition column(s) {clash} "
                        f"appear in ALTER TABLE history; path-encoded "
                        f"columns cannot be replayed — read in batch"
                    )
                chains, consumed, declared, addable = _alias_chains(smap)
                # resolve each logical column's type from file footers,
                # newest file first (newest era's physical type wins —
                # append type changes are blocked, so eras agree anyway).
                # With a recorded base order the needed logical set is
                # known up front, so STOP opening footers once every
                # column has a type — O(eras), not O(total files), at
                # stream start (pre-r6 maps with no base fall back to
                # the full walk: the sorted-tail rule needs every name)
                def _replay_order(base: list[str]) -> list[str]:
                    order = list(base)
                    for st in smap["steps"]:
                        op = st["op"]
                        if op == "rename" and st["from"] in order:
                            order[order.index(st["from"])] = st["to"]
                        elif op == "drop" and st["name"] in order:
                            order.remove(st["name"])
                        elif op == "add" and st["name"] not in order:
                            order.append(st["name"])
                    return order

                needed: set[str] | None = None
                if smap.get("base"):
                    needed = set(_replay_order(smap["base"])) | set(declared)
                seen_phys: dict[str, object] = {}
                for rel, _pv in reversed(files):
                    sch = pq.ParquetFile(
                        os.path.join(repo.root, rel)
                    ).schema_arrow
                    for f in sch:
                        seen_phys.setdefault(f.name, f.type)
                    if needed is not None and all(
                        L in declared
                        or any(p in seen_phys for p in chains.get(L, (L,)))
                        for L in needed
                    ):
                        break
                phys_to_logical = {
                    p: L for L, ps in chains.items() for p in ps
                }
                types: dict[str, str] = {}
                for p, t in seen_phys.items():
                    if p in consumed:
                        continue
                    L = phys_to_logical.get(p, p)
                    types.setdefault(L, _arrow_field_ddl(t))
                # ADDed columns: the declared DDL wins (the batch reader
                # casts to it; files older than the ADD lack it entirely)
                types.update(declared)
                # logical order: recorded base order + step replay, then
                # a deterministic sorted tail — mirrors apply_schema_map
                order = _replay_order(smap.get("base") or [])
                cols = [cn for cn in order if cn in types] + sorted(
                    cn for cn in types if cn not in order
                )
                ddl = ", ".join(f"{cn} {types[cn]}" for cn in cols)
            else:
                # no ALTER history: one uniform physical schema required.
                # first AND last file (snapshot order ≈ write order): a
                # schema-evolving append history (merge-schema appends
                # may ADD columns) would otherwise silently pin the
                # oldest file's columns
                root = repo.root
                sch = pq.ParquetFile(
                    os.path.join(root, files[0][0])
                ).schema_arrow
                last = pq.ParquetFile(
                    os.path.join(root, files[-1][0])
                ).schema_arrow
                if [f.name for f in sch] != [f.name for f in last]:
                    raise NotImplementedError(
                        "lake stream source: the snapshot mixes physical "
                        "schemas (schema-evolving appends); the stream "
                        "needs one uniform schema — read in batch with "
                        "merge_schema=True instead"
                    )
                ddl = ", ".join(
                    f"{f.name} {_arrow_field_ddl(f.type)}" for f in sch
                )
            for k in part_keys:
                # partition columns append AFTER the data columns —
                # Spark's own partition-discovery convention
                ddl += f", {k} {_infer_part_ddl(part_raws[k])}"
            if cdc:
                ddl += ", _change_type string, _commit_version bigint"
            return ddl

        def streamReader(self, schema):
            return _LakeStreamReader(self.options, schema)

    return LakeStreamSource


def register_lake_stream_source(spark: SparkSession) -> None:
    """Idempotent registration of the ``lakegraft_stream`` format."""
    spark.dataSource.register(make_lake_stream_source())


def stream_table_from_repo(
    spark: SparkSession,
    repo_root: str,
    table: str,
    branch: str = "main",
    *,
    starting_version: int = -1,
    ignore_changes: bool = False,
    cdc: bool = False,
    max_files_per_trigger: int = 0,
    max_bytes_per_trigger: int = 0,
) -> DataFrame:
    """Tail a lake table as a stream: every commit's appended rows become
    a microbatch, offsets = commit versions (checkpoint-resumable).
    Column-mapped (ALTER RENAME/ADD/DROP history) and Hive-partitioned
    tables stream natively (r8); GENERATED columns are batch-only.

    ``cdc=True`` streams the CHANGE FEED instead: every row is tagged
    (_change_type ∈ insert|delete, _commit_version), removals emit their
    rows as deletes (removed files persist until vacuum), and non-append
    commits are representable instead of fatal. The feed has FILE
    granularity — a rewrite emits delete+insert for each row of the
    rewritten files — so it is multiset-correct to fold (inserts minus
    deletes per row ≡ the table at the drained version) but not
    row-minimal like the batch TABLE_CHANGES TVF's signed diff.

    ``max_files_per_trigger`` (append mode only) bounds each microbatch
    to at most N source files — Spark's ``maxFilesPerTrigger`` rate
    limit, so a long catch-up (or a backfilled table) is consumed as
    many small batches instead of one giant one. Offsets may then land
    MID-commit (``{"version": v, "fidx": n}`` = the first n files of
    v's sorted new-file list are consumed), and the cap holds across
    checkpointed restarts.

    ``max_bytes_per_trigger`` (append mode only) bounds each microbatch
    by cumulative source-file SIZE instead — Delta's
    ``maxBytesPerTrigger`` semantics: a SOFT max (every batch admits at
    least one file, and the last admitted file may overshoot), stopping
    admission once the budget is met. Both limits may be set together;
    a batch ends when either is reached (the file cap stays hard)."""
    register_lake_stream_source(spark)
    reader = (
        spark.readStream.format("lakegraft_stream")
        .option("root", repo_root)
        .option("branch", branch)
        .option("table", table)
        .option("starting_version", starting_version)
        .option("package_root", _PACKAGE_ROOT)
    )
    if cdc:
        reader = reader.option("mode", "cdc")
    if ignore_changes:
        reader = reader.option("ignorechanges", "true")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    if max_bytes_per_trigger:
        reader = reader.option("maxBytesPerTrigger", int(max_bytes_per_trigger))
    return reader.load()


def _progress_end_version(progress) -> int | None:
    """Committed end-offset version from a StreamingQuery progress dict.
    The Python DataSource surfaces the offset dict as its *repr* string
    (``"{'version': 1}"`` — single quotes, not JSON), so parse with
    ``ast.literal_eval`` and fall back to JSON for safety."""
    import ast
    import json

    if not progress:
        return None
    sources = progress.get("sources") or []
    if not sources:
        return None
    eo = sources[0].get("endOffset")
    if isinstance(eo, str):
        for parse in (ast.literal_eval, json.loads):
            try:
                eo = parse(eo)
                break
            except (ValueError, SyntaxError):
                continue
    if isinstance(eo, dict) and "version" in eo:
        v = int(eo["version"])
        # a rate-limited (maxFilesPerTrigger) offset mid-version carries
        # fidx: that version is NOT fully consumed yet — callers like
        # drain_stream_to_head must not treat it as reached
        return v - 1 if eo.get("fidx") is not None else v
    return None


def drain_stream_to_head(
    query,
    repo_root: str,
    branch: str = "main",
    *,
    timeout_s: float = 120.0,
    poll_s: float = 0.2,
) -> int:
    """``Trigger.AvailableNow`` semantics for the lake stream source.

    Spark's Python DataSource API does not honor ``Trigger.AvailableNow``
    (it silently falls back to a single microbatch), so catch-up-then-stop
    needs a driver-side drain loop — the documented r7 gap. The contract
    matches AvailableNow's: pin the branch head version AT CALL TIME, let
    the already-started ``query`` process microbatches until its
    *committed* end offset reaches that version, then stop it. Commits
    landing after the call are deliberately not waited for — that is what
    makes this terminate under concurrent writers, where the naive
    ``processAllAvailable()`` (wait until latestOffset stops moving)
    never would.

    Returns the pinned version the stream was drained to. Raises the
    query's own exception if it fails mid-drain, and ``TimeoutError``
    after ``timeout_s`` (slow trigger intervals: raise the timeout, not
    the poll rate).
    """
    import importlib
    import time

    repo_mod = importlib.import_module(
        "manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo"
    )
    target = repo_mod.LakeRepo(repo_root).head(branch).version
    deadline = time.monotonic() + timeout_s
    while True:
        exc = query.exception()
        if exc is not None:
            raise exc
        v = _progress_end_version(query.lastProgress)
        if v is not None and v >= target:
            query.stop()
            return target
        if time.monotonic() > deadline:
            raise TimeoutError(
                f"drain_stream_to_head: stream did not reach version "
                f"{target} on branch {branch!r} within {timeout_s}s "
                f"(last committed: {v}); raise timeout_s if the trigger "
                f"interval is slow, or check the query's progress"
            )
        time.sleep(poll_s)



"""Delta-style SQL surface over ``LakeRepo`` snapshots.

The reference reaches time travel through Delta's reader options and
``DeltaTable`` API (``jobs/vdt4.py:39-40, 80-85``); Delta also exposes the
same capabilities in SQL (``SELECT ... FROM t VERSION AS OF 3``,
``DESCRIBE HISTORY t``). This module provides that SQL spelling on top of
the engine's commit DAG so a user migrating Delta SQL scripts keeps them
unchanged.

Mechanics: time-travel clauses are recognized lexically and each pinned
snapshot is registered as a temp view resolving through
``LakeRepo.read_table`` — the rewritten query then runs through plain
``spark.sql`` and Catalyst sees ordinary parquet scans (pruning/pushdown
intact). This is a clause rewriter, not a SQL parser, but it is careful
where lexical rewriters classically go wrong:

- **string literals are masked first** ('...' with doubled-'' or
  backslash escapes, and "..." double-quoted literals — Spark's default
  non-ANSI mode treats both quote styles as strings), so
  ``WHERE email = 'bob@v1'`` or a literal containing ``VERSION AS OF``
  is never rewritten or treated as a table reference;
- **identifier matching is case-insensitive** (``FROM Events`` resolves
  repo table ``events``), like Spark/Delta's default resolution;
- **temp views are scoped** to five reserved prefixes, one per rewrite
  kind: ``lake__t`` (branch head), ``lakeview__v`` (stored view),
  ``lakesnap__t__vN`` (pinned snapshot), ``lakechg__t__a_b``
  (TABLE_CHANGES) and ``lakefeed__t__a_b`` (TABLE_CHANGES_FEED). Table
  references in the query are rewritten to match — ``sql()`` never
  clobbers a user's own temp view named ``t``, and since every prefix is
  rejected as a table or view name, a generated view can't collide with
  a real one either.

Backtick-quoted identifiers are handled lexically too: a backticked repo
TABLE name resolves like a bare reference — but ONLY in table position
(directly after ``FROM`` or ``JOIN``), so a backticked *column* that
happens to share a repo table's name (``SELECT `events` FROM other``)
survives untouched; every other backticked identifier is masked before
rewriting so a name like ``order-events`` can never be corrupted by the
``events`` rewrite.

CDC: ``SELECT ... FROM TABLE_CHANGES(t, v1[, v2])`` (Delta's TVF)
expands to the per-commit row-level diff view — insert/delete rows
tagged ``_change_type`` + ``_commit_version``, an update appearing as a
delete+insert pair — composable with any surrounding SQL.

Branch management is SQL too (r5): ``CREATE BRANCH dev [FROM src]``,
``DROP BRANCH dev``, ``USE BRANCH dev`` (re-points this session),
``SHOW BRANCHES``, ``COMMIT [MESSAGE '...']`` (publishes staged
changes), ``MERGE BRANCH src INTO dest`` (three-way over the commit
DAG), ``DROP TABLE t`` — the lakectl verbs a reference user runs,
spelled as SQL statements.

Write-side DML completes the Delta SQL surface (r5): ``CREATE [OR
REPLACE] TABLE t AS SELECT``, ``INSERT INTO t SELECT|VALUES``,
``DELETE FROM t [WHERE]``, ``UPDATE t SET ... [WHERE]`` — each stages
through ``LakeRepo.write_table`` and auto-commits one version (the
``upsert_table`` precedent), returning a one-row (table, version,
rows_affected) summary. Inner SELECTs/conditions run through the full
rewriter, so time travel inside DML (``INSERT INTO t SELECT * FROM t
VERSION AS OF 0``) works. DELETE removes rows where the condition IS
TRUE — NULL-condition rows survive, ANSI semantics; UPDATE casts each
assignment back to the column's existing type so the schema can't
drift.

Dispatch: every non-SELECT statement is one row of the ordered
``_STATEMENTS`` table (matcher, handler) at the end of this module; the
first matching row handles the statement, and whatever no row claims
runs through the SELECT rewriter. A new verb is one row in that table.

Known lexical limits: a *bare* column whose name equals a repo *table*
name referenced in the same query would be rewritten too — the standard
hazard of rewriting identifiers without a parse tree (backtick-quote the
column to protect it); and a backticked table ref in a comma-separated
FROM list (``FROM a, `events```) is treated as opaque rather than
resolved (spell it with JOIN, or drop the redundant backticks).
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark.runtime import local_df
from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import (
    CLUSTER_PROP,
    DV_PREFIX,
    PARTITION_PROP,
    _check_cluster_disjoint,
    _check_name_unreserved,
    _validate_col_spec,
    ConstraintViolation,
    DirtyBranchError,
    LakeRepo,
)
from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning import stats as stats_mod
from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.log import Commit
from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import _IDENT
# masked-literal placeholder: \x00<index>\x00 never appears in real SQL.
# Covers ''-doubling AND backslash escapes inside '...', plus "..."
# double-quoted string literals (Spark's default non-ANSI mode; users of
# ANSI double-quoted *identifiers* should quote with backticks instead)
_LITERAL_RE = re.compile(r"'(?:[^'\\]|''|\\.)*'|\"(?:[^\"\\]|\\.)*\"")
# backtick-quoted identifiers: a backticked repo-TABLE name is normalized
# to its bare spelling first (simple identifiers — backticks are
# redundant), then every remaining backticked identifier is masked so the
# bare-name rewrite can never touch text inside it (`order-events` must
# not become `order-lake__events`)
_BACKTICK_RE = re.compile(r"`[^`]*`")
_MASK_RE = re.compile(r"\x00(\d+)\x00")


def _mask_literals(
    text: str, pattern: re.Pattern = _LITERAL_RE, literals: list[str] | None = None
) -> tuple[str, Callable[[str], str]]:
    """Replace each match of ``pattern`` (string literals by default) with
    a ``\\x00<index>\\x00`` placeholder. Returns the masked text and a
    ``restore`` that puts the originals back into any text derived from
    it. A second call given the first call's ``literals`` list numbers on
    from it, so one ``restore`` undoes both maskings."""
    literals = [] if literals is None else literals

    def mask(m: re.Match) -> str:
        literals.append(m.group(0))
        return f"\x00{len(literals) - 1}\x00"

    def restore(masked: str) -> str:
        return _MASK_RE.sub(lambda m: literals[int(m.group(1))], masked)

    return pattern.sub(mask, text), restore


# keywords that may directly follow a relation reference in FROM/JOIN
# position — anything else there is a user-supplied alias (used by the
# stored-view rewrite to decide whether to inject `AS <name>`)
_RELATION_FOLLOWERS = frozenset(
    "where on join inner left right full cross natural semi anti group "
    "order limit having union intersect except minus using lateral window "
    "sort cluster distribute offset pivot unpivot tablesample version "
    "timestamp for select values when then else end and or not".split()
)
_VERSION_RE = re.compile(
    rf"\b(?P<table>{_IDENT})\s+VERSION\s+AS\s+OF\s+(?P<ver>\d+)", re.IGNORECASE
)
_TIMESTAMP_RE = re.compile(
    rf"\b(?P<table>{_IDENT})\s+TIMESTAMP\s+AS\s+OF\s+\x00(?P<lit>\d+)\x00",
    re.IGNORECASE,
)
_AT_RE = re.compile(rf"\b(?P<table>{_IDENT})@v(?P<ver>\d+)\b", re.IGNORECASE)
_HISTORY_RE = re.compile(
    rf"^\s*DESCRIBE\s+HISTORY\s+(?P<table>{_IDENT})\s*;?\s*$", re.IGNORECASE
)
_SHOW_TABLES_RE = re.compile(r"^\s*SHOW\s+TABLES\s*;?\s*$", re.IGNORECASE)
_DETAIL_RE = re.compile(
    rf"^\s*DESCRIBE\s+DETAIL\s+(?P<table>{_IDENT})\s*;?\s*$", re.IGNORECASE
)
_RESTORE_RE = re.compile(
    rf"^\s*RESTORE\s+TABLE\s+(?P<table>{_IDENT})\s+TO\s+"
    r"(?:VERSION\s+AS\s+OF\s+(?P<ver>\d+)"
    r"|TIMESTAMP\s+AS\s+OF\s+'(?P<ts>[^']+)')\s*;?\s*$",
    re.IGNORECASE,
)
_VACUUM_RE = re.compile(
    r"^\s*VACUUM(?:\s+RETAIN\s+(?P<retain>\d+)\s+VERSIONS?)?"
    r"(?P<dry>\s+DRY\s+RUN)?\s*;?\s*$",
    re.IGNORECASE,
)
_OPTIMIZE_RE = re.compile(
    rf"^\s*OPTIMIZE\s+(?P<table>{_IDENT})"
    r"(?:\s+WHERE\s+(?P<where>.+?))?"
    rf"(?:\s+ZORDER\s+BY\s+\(\s*(?P<zs>{_IDENT}(?:\s*,\s*{_IDENT})*)\s*\)"
    rf"|\s+SORT\s+BY\s+\(\s*(?P<sorts>{_IDENT}(?:\s*,\s*{_IDENT})*)\s*\))?"
    r"(?:\s+INTO\s+(?P<nfiles>\d+)\s+FILES)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_REORG_PURGE_RE = re.compile(
    rf"^\s*REORG\s+TABLE\s+(?P<table>{_IDENT})\s+APPLY\s*\(\s*PURGE\s*\)"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_DESCRIBE_STATS_RE = re.compile(
    rf"^\s*DESCRIBE\s+STATS\s+(?P<table>{_IDENT})\s*;?\s*$", re.IGNORECASE
)
_ANALYZE_RE = re.compile(
    rf"^\s*ANALYZE\s+TABLE\s+(?P<table>{_IDENT})\s+COMPUTE\s+STATISTICS"
    r"(?:\s+(?P<noscan>NOSCAN))?(?:\s+FOR\s+(?:(?P<allcols>ALL\s+COLUMNS)|"
    r"COLUMNS\s+(?P<cols>[\w`]+(?:\s*,\s*[\w`]+)*)))?\s*;?\s*$",
    re.IGNORECASE,
)
_SET_TBLPROPS_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<table>{_IDENT})\s+SET\s+TBLPROPERTIES\s*"
    r"\(\s*(?P<pairs>.+?)\s*\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UNSET_TBLPROPS_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<table>{_IDENT})\s+UNSET\s+TBLPROPERTIES\s*"
    r"(?P<ifex>IF\s+EXISTS\s*)?\(\s*(?P<keys>.+?)\s*\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SHOW_TBLPROPS_RE = re.compile(
    rf"^\s*SHOW\s+TBLPROPERTIES\s+(?P<table>{_IDENT})"
    r"(?:\s*\(\s*'(?P<key>(?:[^']|'')+)'\s*\))?\s*;?\s*$",
    re.IGNORECASE,
)
# ''-doubled quote escapes inside keys/values, per Spark's string
# literal grammar (ADVICE r11: 'it''s' was rejected as malformed)
_PROP_PAIR_RE = re.compile(r"\s*'((?:[^']|'')+)'\s*=\s*'((?:[^']|'')*)'\s*(,|$)")
_PROP_KEY_RE = re.compile(r"\s*'((?:[^']|'')+)'\s*(,|$)")


def _unq(s: str) -> str:
    """Undo the '' escape of a parsed single-quoted literal."""
    return s.replace("''", "'")


def _parse_prop_pairs(text: str) -> dict[str, str]:
    """'k' = 'v' [, ...] — the whole list must parse (loud on stray
    text, dangling commas, unquoted tokens, duplicate keys — Spark's
    parser rejects all of these too)."""
    out: dict[str, str] = {}
    i = 0
    while i < len(text):
        m = _PROP_PAIR_RE.match(text, i)
        if not m:
            raise ValueError(
                f"TBLPROPERTIES: malformed pair list at {text[i:]!r} "
                f"(expected 'key' = 'value', comma-separated)"
            )
        key = _unq(m.group(1))
        if key in out:
            raise ValueError(f"TBLPROPERTIES: duplicate key {key!r}")
        out[key] = _unq(m.group(2))
        i = m.end()
        if m.group(3) == "," and i >= len(text):
            raise ValueError("TBLPROPERTIES: dangling trailing comma")
    if not out:
        raise ValueError("TBLPROPERTIES: empty property list")
    return out


def _parse_prop_keys(text: str) -> list[str]:
    out: list[str] = []
    i = 0
    while i < len(text):
        m = _PROP_KEY_RE.match(text, i)
        if not m:
            raise ValueError(
                f"TBLPROPERTIES: malformed key list at {text[i:]!r} "
                f"(expected 'key', comma-separated)"
            )
        key = _unq(m.group(1))
        if key in out:
            raise ValueError(f"TBLPROPERTIES: duplicate key {key!r}")
        out.append(key)
        i = m.end()
        if m.group(2) == "," and i >= len(text):
            raise ValueError("TBLPROPERTIES: dangling trailing comma")
    if not out:
        raise ValueError("TBLPROPERTIES: empty key list")
    return out
_ADD_CONSTRAINT_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<table>{_IDENT})\s+ADD\s+CONSTRAINT\s+"
    r"(?P<name>\w+)\s+CHECK\s*\(\s*(?P<expr>.+?)\s*\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_CONSTRAINT_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<table>{_IDENT})\s+DROP\s+CONSTRAINT\s+"
    r"(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_SQL_TYPE = r"\w+(?:\s*\(\s*\d+(?:\s*,\s*\d+)?\s*\))?"
_COPY_INTO_RE = re.compile(
    rf"^\s*COPY\s+INTO\s+(?P<table>{_IDENT})\s+FROM\s+"
    r"'(?P<src>[^']+)'\s+FILEFORMAT\s*=\s*(?P<fmt>PARQUET|CSV|JSON)\b"
    r"(?:\s+FILES\s*=\s*\(\s*(?P<files>[^)]*)\s*\))?"
    r"(?:\s+PATTERN\s*=\s*'(?P<pattern>[^']+)')?"
    r"(?:\s+FORMAT_OPTIONS\s*\(\s*(?P<fopts>[^)]*)\s*\))?"
    r"(?:\s+COPY_OPTIONS\s*\(\s*(?P<copts>[^)]*)\s*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_QUOTED_ITEM_RE = re.compile(r"'([^']*)'")
_OPT_PAIR_RE = re.compile(r"'([^']*)'\s*=\s*'([^']*)'")
_CREATE_LIKE_RE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+(?P<dst>{_IDENT})\s+LIKE\s+"
    rf"(?P<src>{_IDENT})\s*;?\s*$",
    re.IGNORECASE,
)
_CLONE_RE = re.compile(
    rf"^\s*CREATE\s+TABLE\s+(?P<dst>{_IDENT})\s+(?P<kind>SHALLOW|DEEP)\s+CLONE\s+"
    rf"(?P<src>{_IDENT})\s*;?\s*$",
    re.IGNORECASE,
)
_TRUNCATE_RE = re.compile(
    rf"^\s*TRUNCATE\s+TABLE\s+(?P<table>{_IDENT})\s*;?\s*$", re.IGNORECASE
)
_CREATE_VIEW_RE = re.compile(
    rf"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?VIEW\s+(?P<name>{_IDENT})\s*"
    r"(?:\(\s*(?P<cols>[^)]*?)\s*\)\s*)?AS\s+"
    r"(?P<select>SELECT\b.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_VIEW_RE = re.compile(
    rf"^\s*ALTER\s+VIEW\s+(?P<name>{_IDENT})\s+AS\s+"
    r"(?P<select>SELECT\b.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RENAME_TABLE_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<old>{_IDENT})\s+RENAME\s+TO\s+"
    rf"(?P<new>{_IDENT})\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_VIEW_RE = re.compile(
    rf"^\s*DROP\s+VIEW\s+(?P<name>{_IDENT})\s*;?\s*$", re.IGNORECASE
)
_SHOW_VIEWS_RE = re.compile(r"^\s*SHOW\s+VIEWS\s*;?\s*$", re.IGNORECASE)
_SHOW_CREATE_RE = re.compile(
    rf"^\s*SHOW\s+CREATE\s+TABLE\s+(?P<table>{_IDENT})\s*;?\s*$",
    re.IGNORECASE,
)
_COPY_TABLE_TO_RE = re.compile(
    rf"^\s*COPY\s+(?P<table>{_IDENT})\s+TO\s+'(?P<path>[^']+)'"
    r"(?:\s+FORMAT\s+(?P<fmt>CSV|PARQUET|ORC|JSON))?"
    r"(?P<header>\s+WITH\s+HEADER)?\s*;?\s*$",
    re.IGNORECASE,
)
_COPY_SELECT_OPEN_RE = re.compile(r"^\s*COPY\s*\(", re.IGNORECASE)
# no leading ^: this is applied via .match(query, pos), which anchors at
# pos — an explicit ^ would additionally demand pos == 0 and never match
_COPY_TAIL_RE = re.compile(
    r"\s+TO\s+'(?P<path>[^']+)'"
    r"(?:\s+FORMAT\s+(?P<fmt>CSV|PARQUET|ORC|JSON))?"
    r"(?P<header>\s+WITH\s+HEADER)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _parse_copy_select(query: str) -> tuple[str, re.Match] | None:
    """COPY (SELECT ...) TO '<path>' [...] — the select body ends at its
    BALANCED closing paren (single-quoted literals skipped, '' escapes
    honored), not at the last ``) TO '`` in the statement: a greedy
    ``(?P<select>.+)`` silently misparsed a select whose own string
    literal contained that sequence. Returns (select_sql, tail_match)
    or None if the statement isn't this shape."""
    m = _COPY_SELECT_OPEN_RE.match(query)
    if not m:
        return None
    i, n, depth = m.end(), len(query), 1
    start = i
    while i < n:
        ch = query[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if query[j] == "'":
                    if j + 1 < n and query[j + 1] == "'":
                        j += 2  # '' escape inside the literal
                        continue
                    break
                j += 1
            if j >= n:
                return None  # unterminated literal — not this statement
            i = j
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                tail = _COPY_TAIL_RE.match(query, i + 1)
                if tail is None:
                    return None
                return query[start:i].strip(), tail
        i += 1
    return None
_ADD_COLUMN_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<table>{_IDENT})\s+ADD\s+COLUMNS?\s*"
    rf"\(?\s*(?!CONSTRAINT\b)(?P<col>\w+)\s+(?P<type>{_SQL_TYPE})\s*\)?\s*;?\s*$",
    re.IGNORECASE,
)
_ADD_GEN_COLUMN_RE = re.compile(
    # no optional wrapping parens here: a lazy expr + optional trailing
    # `\)?` would eat the expression's own closing paren, truncating
    # e.g. (upper(name)) to `upper(name` — greedy expr + required final
    # paren keeps nested calls intact
    rf"^\s*ALTER\s+TABLE\s+(?P<table>{_IDENT})\s+ADD\s+COLUMNS?\s+"
    rf"(?!CONSTRAINT\b)(?P<col>\w+)\s+(?P<type>{_SQL_TYPE})\s+"
    r"GENERATED\s+ALWAYS\s+AS\s*\(\s*(?P<expr>.+)\s*\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ADD_IDENTITY_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<table>{_IDENT})\s+ADD\s+COLUMNS?\s+"
    rf"(?!CONSTRAINT\b)(?P<col>\w+)\s+(?P<type>{_SQL_TYPE})\s+"
    r"GENERATED\s+(?P<mode>ALWAYS|BY\s+DEFAULT)\s+AS\s+IDENTITY"
    # START WITH and INCREMENT BY are independently optional (Delta's
    # grammar): (START WITH s), (INCREMENT BY k), or both — never ()
    r"(?:\s*\(\s*(?:START\s+WITH\s+(?P<start>-?\d+)"
    r"(?:\s+INCREMENT\s+BY\s+(?P<step>-?\d+))?"
    r"|INCREMENT\s+BY\s+(?P<step2>-?\d+))\s*\))?\s*;?\s*$",
    re.IGNORECASE,
)
_WIDEN_COLUMN_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<table>{_IDENT})\s+ALTER\s+COLUMN\s+"
    rf"(?P<col>\w+)\s+(?:SET\s+DATA\s+)?TYPE\s+(?P<type>{_SQL_TYPE})"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
_SYNC_IDENTITY_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<table>{_IDENT})\s+SYNC\s+IDENTITY\s*;?\s*$",
    re.IGNORECASE,
)
_SET_DEFAULT_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<table>{_IDENT})\s+ALTER\s+COLUMN\s+"
    r"(?P<col>\w+)\s+SET\s+DEFAULT\s+(?P<expr>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_DEFAULT_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<table>{_IDENT})\s+ALTER\s+COLUMN\s+"
    r"(?P<col>\w+)\s+DROP\s+DEFAULT\s*;?\s*$",
    re.IGNORECASE,
)
_RENAME_COLUMN_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<table>{_IDENT})\s+RENAME\s+COLUMN\s+"
    r"(?P<old>\w+)\s+TO\s+(?P<new>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_COLUMN_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<table>{_IDENT})\s+DROP\s+COLUMNS?\s*"
    r"\(?\s*(?!CONSTRAINT\b)(?P<col>\w+)\s*\)?\s*;?\s*$",
    re.IGNORECASE,
)
_SHOW_CONSTRAINTS_RE = re.compile(
    rf"^\s*SHOW\s+CONSTRAINTS\s+(?:ON\s+)?(?P<table>{_IDENT})\s*;?\s*$",
    re.IGNORECASE,
)
_DESCRIBE_TABLE_RE = re.compile(
    rf"^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?(?P<table>{_IDENT})\s*;?\s*$",
    re.IGNORECASE,
)
_MERGE_INTO_RE = re.compile(
    rf"^\s*MERGE\s+(?P<evolve>WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO\s+"
    rf"(?P<table>{_IDENT})(?:\s+(?:AS\s+)?(?P<talias>(?!USING\b)\w+))?"
    r"\s+USING\s+(?P<body>.+?)"
    r"(?P<clauses>\s+WHEN\s+(?:NOT\s+)?MATCHED\b.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_MERGE_ON_RE = re.compile(
    r"^\s*(?:(?:AS\s+)?(?!ON\b)(?P<salias>\w+)\s+)?ON\s+(?P<cond>.+)$",
    re.IGNORECASE | re.DOTALL,
)
# MERGE clauses are split at top-level `WHEN [NOT] MATCHED` boundaries
# (string literals masked first) and each segment must then FULLY match
# exactly one anchored pattern — trailing garbage or an unsupported
# clause shape raises instead of silently changing semantics (both
# review-found failure modes of lazier spellings). The lookahead
# disarms most `CASE WHEN matched ...` expressions over a column
# literally named "matched": a boundary must be followed by AND, by
# BY SOURCE, or by THEN + a merge ACTION keyword, so `WHEN matched
# THEN 1` is not a boundary. Residual limitation (documented): `CASE
# WHEN matched AND ...` still splits — the segment then fails the
# anchored fullmatch and the statement is rejected LOUDLY with
# "unsupported clause" (never a silent semantic change); backtick the
# column or alias it to sidestep.
_CLAUSE_BOUNDARY_RE = re.compile(
    r"\bWHEN\s+(?:NOT\s+)?MATCHED\b"
    r"(?=\s+(?:BY\s+SOURCE\b|AND\b|THEN\s+(?:UPDATE|DELETE|INSERT)\b))",
    re.IGNORECASE,
)
_WHEN_MATCHED_UPDATE_RE = re.compile(
    r"WHEN\s+MATCHED\s+(?:AND\s+(?P<cond>.+?)\s+)?THEN\s+UPDATE\s+SET\s+"
    r"(?P<sets>.+)$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_MATCHED_DELETE_RE = re.compile(
    r"WHEN\s+MATCHED\s+(?:AND\s+(?P<cond>.+?)\s+)?THEN\s+DELETE\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_NOT_MATCHED_RE = re.compile(
    r"WHEN\s+NOT\s+MATCHED\s+(?:AND\s+(?P<cond>.+?)\s+)?THEN\s+INSERT\s+"
    r"(?:(?P<star>\*)|\(\s*(?P<cols>[^)]+?)\s*\)\s*VALUES\s*\("
    r"(?P<vals>.+)\))\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_NOT_MATCHED_BY_SOURCE_RE = re.compile(
    r"WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s+(?:AND\s+(?P<cond>.+?)\s+)?"
    r"THEN\s+DELETE\s*$",
    re.IGNORECASE | re.DOTALL,
)
_WHEN_NOT_MATCHED_BY_SOURCE_UPD_RE = re.compile(
    r"WHEN\s+NOT\s+MATCHED\s+BY\s+SOURCE\s+(?:AND\s+(?P<cond>.+?)\s+)?"
    r"THEN\s+UPDATE\s+SET\s+(?P<sets>.+)$",
    re.IGNORECASE | re.DOTALL,
)


def _split_merge_clauses(clauses: str) -> list[str]:
    """Split a MERGE clause tail into its top-level WHEN segments.
    Literals are masked so a string containing 'WHEN MATCHED' can't
    start a clause; segments come back with literals restored."""
    masked, restore = _mask_literals(clauses)
    starts = [m.start() for m in _CLAUSE_BOUNDARY_RE.finditer(masked)]
    if not starts or masked[: starts[0]].strip():
        raise ValueError(
            f"MERGE: unsupported clause text (no recognized WHEN "
            f"[NOT] MATCHED boundary) in {clauses!r}"
        )
    segs = []
    for a, b in zip(starts, starts[1:] + [len(masked)]):
        segs.append(restore(masked[a:b]).strip())
    return segs
_EQ_PAIR_RE = re.compile(
    r"^\s*(?P<la>\w+)\s*\.\s*(?P<lc>\w+|`[^`]+`)\s*=\s*"
    r"(?P<ra>\w+)\s*\.\s*(?P<rc>\w+|`[^`]+`)\s*$"
)
_MERGE_ASSIGN_RE = re.compile(
    r"^\s*(?P<col>(?:\w+\s*\.\s*)?(?:\w+|`[^`]+`))\s*=\s*(?P<expr>.+)$",
    re.DOTALL,
)
_CTAS_RE = re.compile(
    rf"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?TABLE\s+(?P<table>{_IDENT})\s+"
    r"(?:PARTITIONED\s+BY\s*\(\s*(?P<parts>[^()]+?)\s*\)\s+)?"
    r"(?:CLUSTER\s+BY\s*\(\s*(?P<clus>[^()]+?)\s*\)\s+)?AS\s+"
    r"(?P<select>SELECT\b.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_SCHEMA_RE = re.compile(
    rf"^\s*CREATE\s+(?P<replace>OR\s+REPLACE\s+)?TABLE\s+"
    rf"(?P<table>{_IDENT})\s*\(\s*(?P<cols>.+?)\s*\)"
    r"(?:\s*PARTITIONED\s+BY\s*\(\s*(?P<parts>[^()]+?)\s*\))?"
    r"(?:\s*CLUSTER\s+BY\s*\(\s*(?P<clus>[^()]+?)\s*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_CLUSTER_RE = re.compile(
    rf"^\s*ALTER\s+TABLE\s+(?P<table>{_IDENT})\s+CLUSTER\s+BY\s+"
    r"(?:\(\s*(?P<cols>[^()]+?)\s*\)|(?P<none>NONE))"
    r"\s*;?\s*$",
    re.IGNORECASE,
)
def _parse_coldef(part: str) -> tuple[str, str, str] | None:
    """(col, type, rest) from one CREATE TABLE column definition, or
    None. The type consumes a balanced ``<...>`` generic section
    (MAP/ARRAY/STRUCT nest arbitrarily — beyond a regex) and an
    optional ``(p[, s])`` precision suffix; ``rest`` carries the
    IDENTITY/DEFAULT/NOT NULL clauses."""
    m = re.match(r"\s*(\w+)\s+(\w+)", part)
    if not m:
        return None
    col = m.group(1)
    j = m.end()
    k = j
    while k < len(part) and part[k].isspace():
        k += 1
    if k < len(part) and part[k] == "<":
        depth = 0
        while k < len(part):
            if part[k] == "<":
                depth += 1
            elif part[k] == ">":
                depth -= 1
                if depth == 0:
                    k += 1
                    break
            k += 1
        if depth != 0:
            return None
        j = k
    k = j
    while k < len(part) and part[k].isspace():
        k += 1
    mp = re.match(r"\(\s*\d+(?:\s*,\s*\d+)?\s*\)", part[k:])
    if mp:
        j = k + mp.end()
    return col, part[m.start(2) : j].strip(), part[j:].strip()
_COLDEF_IDENTITY_RE = re.compile(
    r"^\s*GENERATED\s+(?P<mode>ALWAYS|BY\s+DEFAULT)\s+AS\s+IDENTITY"
    r"(?:\s*\(\s*(?:START\s+WITH\s+(?P<start>-?\d+)"
    r"(?:\s+INCREMENT\s+BY\s+(?P<step>-?\d+))?"
    r"|INCREMENT\s+BY\s+(?P<step2>-?\d+))\s*\))?(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_COLDEF_DEFAULT_RE = re.compile(
    # the expression ends before any FOLLOWING clause keyword, so a
    # duplicate DEFAULT (or a trailing GENERATED) surfaces in `rest`
    # for the duplicate/conflict checks instead of being silently
    # swallowed into the expression text (r12 review)
    r"^\s*DEFAULT\s+(?P<expr>.+?)"
    r"(?P<rest>\s+(?:NOT\s+NULL|DEFAULT\s.+|GENERATED\s.+)\s*)?$",
    re.IGNORECASE | re.DOTALL,
)
_COLDEF_NOT_NULL_RE = re.compile(
    r"^\s*NOT\s+NULL(?P<rest>.*)$", re.IGNORECASE | re.DOTALL
)
_INSERT_RE = re.compile(
    rf"^\s*INSERT\s+INTO\s+(?P<table>{_IDENT})\s*"
    r"(?:\(\s*(?P<cols>[^)]+?)\s*\)\s*)?"
    r"(?P<body>(?:SELECT|VALUES)\b.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_INSERT_REPLACE_RE = re.compile(
    rf"^\s*INSERT\s+INTO\s+(?P<table>{_IDENT})\s+REPLACE\s+WHERE\s+"
    r"(?P<cond>.+?)\s+(?P<body>(?:SELECT|VALUES)\b.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DELETE_RE = re.compile(
    rf"^\s*DELETE\s+FROM\s+(?P<table>{_IDENT})"
    r"(?:\s+WHERE\s+(?P<cond>.*?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE_RE = re.compile(
    rf"^\s*UPDATE\s+(?P<table>{_IDENT})\s+SET\s+(?P<sets>.*?)"
    r"(?:\s+WHERE\s+(?P<cond>.*?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ASSIGN_RE = re.compile(rf"^\s*(?P<col>{_IDENT})\s*=\s*(?P<expr>.+)$", re.DOTALL)
_CREATE_BRANCH_RE = re.compile(
    rf"^\s*CREATE\s+BRANCH\s+(?P<name>{_IDENT})(?:\s+FROM\s+(?P<src>{_IDENT}))?\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_BRANCH_RE = re.compile(
    rf"^\s*DROP\s+BRANCH\s+(?P<name>{_IDENT})\s*;?\s*$", re.IGNORECASE
)
_USE_BRANCH_RE = re.compile(
    rf"^\s*USE\s+BRANCH\s+(?P<name>{_IDENT})\s*;?\s*$", re.IGNORECASE
)
_SHOW_BRANCHES_RE = re.compile(r"^\s*SHOW\s+BRANCHES\s*;?\s*$", re.IGNORECASE)
_SHOW_PARTITIONS_RE = re.compile(
    rf"^\s*SHOW\s+PARTITIONS\s+(?P<table>{_IDENT})"
    # greedy .+ so a quoted value containing ')' still reaches the
    # quote-aware pair parser; the close paren anchors at statement end
    r"(?:\s+PARTITION\s*\(\s*(?P<spec>.+?)\s*\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_COMMIT_RE = re.compile(
    r"^\s*COMMIT(?:\s+MESSAGE\s+(?P<msg>'(?:[^'\\]|''|\\.)*'))?\s*;?\s*$",
    re.IGNORECASE,
)
_MERGE_BRANCH_RE = re.compile(
    rf"^\s*MERGE\s+BRANCH\s+(?P<src>{_IDENT})\s+INTO\s+(?P<dest>{_IDENT})\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_TABLE_RE = re.compile(
    rf"^\s*DROP\s+TABLE\s+(?P<table>{_IDENT})\s*;?\s*$", re.IGNORECASE
)
_CHANGES_RE = re.compile(
    rf"\bTABLE_CHANGES\s*\(\s*(?P<table>{_IDENT})\s*,\s*(?P<v1>\d+)"
    r"(?:\s*,\s*(?P<v2>\d+))?\s*\)",
    re.IGNORECASE,
)
_CHANGES_FEED_RE = re.compile(
    rf"\bTABLE_CHANGES_FEED\s*\(\s*(?P<table>{_IDENT})\s*,\s*(?P<v1>\d+)"
    r"(?:\s*,\s*(?P<v2>\d+))?\s*\)",
    re.IGNORECASE,
)


def _split_top_level(s: str) -> list[str]:
    """Split a SET list on top-level commas: literals masked first, paren
    depth tracked — ``a = f(x, y), b = 'p,q'`` is two assignments."""
    masked, restore = _mask_literals(s)
    parts, depth, cur = [], 0, []
    for ch in masked:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    parts.append("".join(cur))
    return [restore(p).strip() for p in parts]


def _split_coldefs(s: str) -> list[str]:
    """Split a CREATE TABLE column-definition list on top-level commas:
    like ``_split_top_level`` but ALSO angle-bracket aware, so complex
    types keep their internal commas — ``m MAP<STRING, INT>, a INT`` is
    two definitions (r12 review: the paren-only splitter cut
    ``MAP<STRING`` in half and surfaced a fragment the user never
    wrote). A ``<`` opens a bracket level only when the identifier
    before it is a complex-type keyword (``ARRAY``/``MAP``/``STRUCT``,
    glued or spaced), so a comparison in a DEFAULT expression
    (``DEFAULT 1<2`` or ``DEFAULT 1 < 2``) never unbalances the scan
    (r12 advice: the glued-word rule ate ``DEFAULT 1<2, b INT``)."""
    masked, restore = _mask_literals(s)
    parts, depth, angle, cur = [], 0, 0, []
    # '<' opens a generic-type bracket ONLY after a complex-type keyword
    # (ARRAY<...>, MAP<...>, STRUCT<...>); a '<' after anything else is a
    # comparison (e.g. DEFAULT 1<2) and must not swallow the next
    # top-level comma
    word: list[str] = []  # identifier being scanned
    last_word = ""  # most recent completed identifier (survives spaces)
    for ch in masked:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "<":
            opener = ("".join(word) or last_word).upper()
            if opener in ("ARRAY", "MAP", "STRUCT"):
                angle += 1
        elif ch == ">" and angle > 0:
            angle -= 1
        if ch == "," and depth == 0 and angle == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
        if ch.isalnum() or ch == "_":
            word.append(ch)
        else:
            if word:
                last_word = "".join(word)
                word = []
            if not ch.isspace():
                last_word = ""
    parts.append("".join(cur))
    return [restore(p).strip() for p in parts]


def _identity_clause(ent: dict) -> str:
    """The one spelling of an identity declaration, shared by DESCRIBE
    TABLE and SHOW CREATE TABLE so the two surfaces can never drift
    (r13 review)."""
    mode = "ALWAYS" if ent.get("always", True) else "BY DEFAULT"
    return (
        f"GENERATED {mode} AS IDENTITY (START WITH "
        f"{ent['start']} INCREMENT BY {ent['step']})"
    )


def _require_inside_landing_dir(path: str, src: str, root_real: str) -> None:
    """COPY INTO selection-contract enforcement for what the lexical
    guards can't see: a SYMLINK inside the landing dir can still point
    outside it (r13 review — os.path.relpath is lexical, so a
    relpath-based check never fires on symlinked escapes). Resolved
    paths must stay under ``root_real``, the caller's once-per-statement
    ``os.path.realpath`` of the FROM directory (re-resolving it per file
    would re-walk the same symlink chain thousands of times)."""
    real = os.path.realpath(path)
    if real != root_real and not real.startswith(
        root_real.rstrip(os.sep) + os.sep
    ):
        raise ValueError(
            f"COPY INTO: {path!r} resolves to {real!r}, outside the FROM "
            f"directory {src!r} — landing files (including symlink "
            "targets) must live under it"
        )


def _parse_partition_spec(
    parts_text: str | None, columns: list[str]
) -> list[str]:
    """Validate a ``PARTITIONED BY (c, ...)`` column list against the
    table's columns; returns the spec resolved to the declared column
    casing (Hive dir names must match the stored schema exactly).
    Delegates to the shared ``_validate_col_spec``."""
    if not parts_text:
        return []
    out = _validate_col_spec(
        "PARTITIONED BY",
        [p.strip().strip("`") for p in parts_text.split(",")],
        columns,
    )
    if out and len(out) == len(columns):
        raise ValueError(
            "PARTITIONED BY: cannot partition by every column (no data "
            "columns would remain in the files)"
        )
    return out


def _first_match_sel(conds: list[str | None]) -> str:
    """First-match-wins 1-based clause selector over ordered MERGE
    clause conditions (Delta's multi-clause rule: clauses of a kind are
    evaluated in order; the first whose condition passes acts on the
    row). Yields the 1-based index of the first TRUE condition (an
    unconditional clause always matches) or 0 when none does. Shared by
    the rewrite and DV routes so clause selection can never diverge.

    Both routes project it exactly ONCE per row as a lateral column
    alias ``__lg_cl`` and make every other expression (per-column
    projections, fate tags, filters) reference the ALIAS — the clause
    conditions are therefore evaluated once per row, so even a
    non-deterministic condition (``rand()``) cannot pick one winning
    clause for a row's fate and a different one for its values, and the
    generated SQL stays O(columns + clauses), not O(columns x
    clauses x |condition|)."""
    whens = " ".join(
        f"WHEN TRUE THEN {i + 1}"
        if c is None
        else f"WHEN ({c}) IS TRUE THEN {i + 1}"
        for i, c in enumerate(conds)
    )
    return f"CASE {whens} ELSE 0 END"


def _clause_proj_cols(clause_list, cols, types, ta) -> list[str]:
    """Per-column first-match-wins projection over the precomputed
    ``__lg_cl`` clause index: update clause i's assignment applies when
    the index is i+1, everything else rides the target value through
    (rows a DELETE clause claimed are filtered out downstream, so their
    projected values never surface). ONE definition shared by the
    rewrite and DV routes — like ``_first_match_sel`` — so the merge
    projection semantics can never diverge between them."""
    out = []
    for c in cols:
        branches = [
            f"WHEN {i + 1} THEN CAST(({asg[c]}) AS {types[c]})"
            for i, (_cond, action, asg) in enumerate(clause_list)
            if action == "update" and asg and c in asg
        ]
        if branches:
            out.append(
                "CASE (__lg_cl) " + " ".join(branches)
                + f" ELSE {ta}.`{c}` END AS `{c}`"
            )
        else:
            out.append(f"{ta}.`{c}` AS `{c}`")
    return out


def _insert_proj_cols(i_clauses, cols, types) -> list[str]:
    """Per-column projection for insert clauses over ``__lg_cl`` (the
    first NOT-MATCHED clause whose condition passed): shared by both
    routes."""
    out = []
    for c in cols:
        branches = " ".join(
            f"WHEN {i + 1} THEN CAST(({exprs[c]}) AS {types[c]})"
            for i, (_cond, exprs) in enumerate(i_clauses)
        )
        out.append(f"CASE (__lg_cl) {branches} END AS `{c}`")
    return out


def _fate_expr(clause_list, del_tag: str, upd_tag: str) -> str:
    """Row-fate tag from the precomputed ``__lg_cl`` index: 'pass' when
    no clause claimed the row, ``del_tag`` when a DELETE clause did,
    else ``upd_tag``."""
    del_idx = [
        str(i + 1)
        for i, (_c, action, _a) in enumerate(clause_list)
        if action == "delete"
    ]
    del_branch = (
        f"WHEN __lg_cl IN ({', '.join(del_idx)}) THEN '{del_tag}' "
        if del_idx
        else ""
    )
    return f"CASE WHEN __lg_cl = 0 THEN 'pass' {del_branch}ELSE '{upd_tag}' END"


class LakeSQL:
    """SQL front door: branch-head tables as views + Delta time-travel SQL.

    >>> lsql = LakeSQL(spark, repo, branch="main")
    >>> lsql.sql("SELECT count(*) FROM events VERSION AS OF 2")
    >>> lsql.sql("DESCRIBE HISTORY events")
    """

    def __init__(
        self,
        spark: SparkSession,
        repo: LakeRepo,
        branch: str = "main",
        dv_writes: bool = False,
    ):
        self.spark = spark
        self.repo = repo
        self.branch = branch
        #: Delta's ``enableDeletionVectors`` analogue: with ``dv_writes``
        #: on, conditioned DELETE/UPDATE statements route through the
        #: zero-rewrite deletion-vector paths (delete_where_dv /
        #: update_where_dv) and fall back to the rewriting spellings on
        #: anything those decline (dirty branch, subqueries in the
        #: condition) — same results, different write amplification.
        #: Per-table override: the Delta-named TBLPROPERTY
        #: ``delta.enableDeletionVectors`` ('true'/'false') wins over
        #: this session default when set (see ``_dv_enabled``).
        self.dv_writes = dv_writes

    def _dv_enabled(self, table: str) -> bool:
        """Whether DML on ``table`` routes through deletion vectors:
        the table's ``delta.enableDeletionVectors`` property when set
        (Delta's canonical switch), else the session ``dv_writes``
        default."""
        prop = self.repo.table_properties(table, self.branch).get(
            "delta.enableDeletionVectors"
        )
        if prop is not None:
            return prop.strip().lower() == "true"
        return self.dv_writes

    # -- history (DESCRIBE HISTORY parity) ---------------------------------
    def history(self, table: str | None = None) -> DataFrame:
        """Commit history as a DataFrame, newest first — Delta's
        ``DESCRIBE HISTORY`` schema essentials (version, timestamp,
        operation, …). With ``table``, only commits that changed it —
        resolved against every table name seen ACROSS the commit walk,
        so a table dropped from the current head keeps a queryable
        history (Delta behaves the same way)."""
        commits = self.repo.log(self.branch, limit=None)
        if table is not None:
            by_lower: dict[str, str] = {}
            for c in commits:  # newest first: head resolution wins ties
                for t in c.tables:
                    by_lower.setdefault(t.lower(), t)
            try:
                table = by_lower[table.lower()]
            except KeyError:
                raise KeyError(
                    f"table {table!r} never existed on branch "
                    f"{self.branch!r}; known across history: "
                    f"{sorted(by_lower.values())}"
                ) from None
        # a commit changed the table when it changed any part of its
        # footprint: the data entries, the deletion vectors (DV DELETE and
        # UPDATE touch only those), or a per-table metadata object
        # (TBLPROPERTIES, constraints, column and schema mappings)
        objects = [fn(table) for fn in self.repo._companion_path_fns()]
        rows = []
        prev = [None] * (2 + len(objects))  # before the table's first commit
        for c in reversed(commits):  # oldest → newest to detect per-table change
            if table is not None:
                cur = [c.tables.get(table), c.tables.get(DV_PREFIX + table)]
                cur += [c.objects.get(p) for p in objects]
                if cur == prev:
                    continue
                prev = cur
            rows.append(
                (
                    c.version,
                    c.id,
                    datetime.fromtimestamp(c.timestamp, tz=timezone.utc),
                    "MERGE" if len(c.parents) > 1 else ("WRITE" if c.parents else "CREATE"),
                    c.message,
                    c.branch,
                )
            )
        rows.reverse()
        return local_df(self.spark,
            rows,
            "version INT, commit_id STRING, timestamp TIMESTAMP, "
            "operation STRING, message STRING, branch STRING",
        )

    def show_tables(self) -> DataFrame:
        """``SHOW TABLES`` — tables at the branch head (Delta/Spark
        catalog spelling of ``LakeRepo.list_tables``)."""
        rows = [(t,) for t in self.repo.list_tables(self.branch)]
        return local_df(self.spark, rows, "tableName STRING")

    def detail(self, table: str) -> DataFrame:
        """``DESCRIBE DETAIL`` essentials (Delta's schema subset that
        makes sense here): storage format, file/byte counts of the head
        snapshot, and the last commit that changed the table."""
        import os as _os

        table = self._resolve_table(table)
        head = self.repo.head(self.branch)
        num_files = 0
        size_bytes = 0
        for rel in head.tables[table]:
            full = _os.path.join(self.repo.root, rel)
            if _os.path.isdir(full):
                for root, _dirs, files in _os.walk(full):
                    for f in files:
                        if f.endswith(".parquet"):
                            num_files += 1
                            size_bytes += _os.path.getsize(_os.path.join(root, f))
            elif _os.path.exists(full):
                num_files += 1
                size_bytes += _os.path.getsize(full)
        last = next(
            r for r in self.history(table).collect()
        )  # newest-first: first row is the last change
        row = (
            table,
            "parquet",
            self.branch,
            num_files,
            size_bytes,
            int(last.version),
            last.timestamp,
        )
        return local_df(self.spark,
            [row],
            "name STRING, format STRING, branch STRING, numFiles BIGINT, "
            "sizeInBytes BIGINT, version INT, lastModified TIMESTAMP",
        )

    def _optimize(
        self,
        table: str,
        zorder: tuple[str, ...] | None,
        sorts: list[str] | None,
        nfiles: int | None,
        where: str | None = None,
    ) -> DataFrame:
        """``OPTIMIZE t [WHERE cond] [ZORDER BY (a, ...) | SORT BY (a,
        ...)] [INTO n FILES]`` — the Delta maintenance statement, routed
        to ``LakeRepo.compact``. ZORDER interleaves 1..k keys on a Morton
        curve (Delta's arity; one key degenerates to a range cluster);
        SORT range-clusters, which is what makes the data-skipping
        manifests selective (disjoint per-file min/max); WHERE scopes the
        rewrite to the file entries that may hold matching rows (compact
        the hot partition, carry the cold ones by reference). Lands as a
        new commit; old files stay for time travel until VACUUM.

        When the statement names NO keys, the table's declared CLUSTER
        BY spec (r14, the liquid-clustering analogue) supplies them —
        plain ``OPTIMIZE t`` on a clustered table re-clusters, exactly
        Delta's behavior; an explicit ZORDER/SORT clause overrides the
        spec for this run."""
        name = self._resolve_table(table)
        if zorder is None and sorts is None:
            declared = self.repo.table_cluster_columns(name, self.branch)
            if declared:
                zorder = tuple(declared)
        c = self.repo.compact(
            self.spark,
            self.branch,
            name,
            target_files=nfiles,
            sort_by=sorts,
            zorder_by=zorder,
            message=f"SQL: OPTIMIZE {name}",
            where=where,
        )
        head = self.repo.head(self.branch)
        return local_df(self.spark,
            [(name, c.version, len(head.tables[name]))],
            "table STRING, version INT, file_groups INT",
        )

    def _copy_into(
        self,
        table: str,
        src: str,
        fmt: str,
        fopts: dict[str, str],
        copts: dict[str, str],
        files: list[str] | None = None,
        pattern: str | None = None,
    ) -> DataFrame:
        """``COPY INTO t FROM '<path|glob|dir>' FILEFORMAT = PARQUET|CSV|
        JSON [FILES = ('rel1', 'rel2', ...)] [PATTERN = '<glob>']
        [FORMAT_OPTIONS('k'='v', ...)] [COPY_OPTIONS('force'='true')]``
        — Databricks' idempotent bulk load, the standard landing-zone →
        lakehouse ingestion statement.

        ``FILES`` (r12, VERDICT r11 #6) names an explicit list of paths
        RELATIVE to the FROM directory — each must exist and carry no
        hidden/underscore components (a listed ``_temporary`` partial
        would otherwise be recorded as loaded forever); ``PATTERN`` is a
        glob matched relative to the FROM directory, with the same
        hidden-component skipping as the path-glob spelling. The two
        are mutually exclusive (Databricks' rule), and both compose
        with the idempotence registry exactly like the plain form:
        selection chooses the CANDIDATES, the loaded-set decides what
        is new. Files already
        loaded into the table are SKIPPED on re-run (exactly-once
        ingestion even when the loader itself retries): the loaded set
        rides a hidden versioned object (``_copyinto/<t>.json``), so it
        branches, merges, pushes, and time-travels with the table —
        re-running on an old branch sees that branch's loaded set.

        Strict postures: a previously loaded file whose size/mtime
        CHANGED raises (the landing-zone contract is immutable files;
        silently skipping would hide data, silently reloading would
        duplicate it) — ``'force'='true'`` reloads everything matched
        and re-records it. When the target exists, source columns align
        BY NAME (case-insensitive) and cast to the target's types;
        missing or extra columns raise. A first COPY INTO an unknown
        table creates it with the source schema. Format options pass
        straight to the Spark reader with Spark's own defaults (CSV
        header defaults FALSE, like Databricks COPY INTO — pass
        FORMAT_OPTIONS('header'='true') for headered files). DROP TABLE
        clears the registry (a successor table starts unloaded), and
        merges UNION two branches' registries (immutable landed files —
        only a same-path-different-bytes clash conflicts). Scale shape:
        one distributed read over only the NEW files + one append —
        cost proportional to the delta, never the table."""
        import glob as globmod
        import json

        try:
            name = self._resolve_table(table)
        except KeyError:
            name = table.strip("`").lower()
            # first COPY INTO an unknown name CREATES the table — the
            # only table-creating path besides CTAS/schema/clone, so it
            # enforces the same table/view disjointness (r13 review:
            # a view-named target would shadow the ingested rows) and
            # fails reserved names BEFORE the distributed file read
            self._reject_view_collision(name)
            _check_name_unreserved(name, "table")
        # enumerate concrete files: globs expand, directories walk.
        # Hidden/underscore names are skipped EVERYWHERE — files, walked
        # directories (a crashed writer's _temporary/ holds partial task
        # files a real Spark read would never see), and direct glob hits
        # (so '/land/*' never tries to parse _SUCCESS) — Spark's listing
        # convention.
        def _visible(n: str) -> bool:
            return not os.path.basename(n).startswith(("_", "."))

        # hidden components must be rejected EVERYWHERE below the
        # pattern's literal prefix, including ones a recursive glob
        # matched directly (src='/land/**/*.parquet' can hit
        # '_temporary/0/part.parquet' — a crashed writer's partial file
        # that a basename-only check would load and then permanently
        # record as correctly loaded). Components inside the literal
        # prefix are the user explicitly naming a location — admitted,
        # like Spark reading an explicitly named path.
        segs = src.split(os.sep)
        n_fixed = next(
            (
                k
                for k, s in enumerate(segs)
                if any(ch in s for ch in "*?[")
            ),
            len(segs),
        )
        fixed_prefix = os.sep.join(segs[:n_fixed])

        def _hit_visible(hit: str) -> bool:
            rel = os.path.relpath(hit, fixed_prefix) if fixed_prefix else hit
            return all(
                not part.startswith(("_", "."))
                for part in rel.split(os.sep)
                if part not in ("", ".", "..")
            )

        if files is not None and pattern is not None:
            raise ValueError(
                "COPY INTO: FILES and PATTERN are mutually exclusive "
                "(Databricks' rule) — name files OR give a glob"
            )
        if (files is not None or pattern is not None) and any(
            ch in src for ch in "*?["
        ):
            raise ValueError(
                "COPY INTO: with FILES/PATTERN the FROM path must be a "
                f"literal directory, not a glob ({src!r})"
            )
        paths: list[str] = []
        # resolved once per statement; every selection path checks its
        # files against it (FILES/PATTERN resolve src itself; the bare
        # spelling resolves the glob's literal prefix)
        src_real = os.path.realpath(src)
        if files is not None:
            if not files:
                raise ValueError("COPY INTO: FILES = () names no files")
            for rel in files:
                if os.path.isabs(rel):
                    raise ValueError(
                        f"COPY INTO: FILES entry {rel!r} is absolute — "
                        "entries are relative to the FROM directory and "
                        "may not reach outside it"
                    )
                bad = [
                    part
                    for part in rel.split(os.sep)
                    if part not in ("", ".") and part.startswith(("_", "."))
                ]
                if bad or ".." in rel.split(os.sep):
                    raise ValueError(
                        f"COPY INTO: FILES entry {rel!r} has hidden or "
                        f"relative components {bad or ['..']} — loading "
                        "one would record a non-data file as loaded "
                        "forever"
                    )
                full = os.path.join(src, rel)
                if not os.path.isfile(full):
                    raise FileNotFoundError(
                        f"COPY INTO: FILES entry {rel!r} not found under "
                        f"{src!r}"
                    )
                _require_inside_landing_dir(full, src, src_real)
                paths.append(full)
            paths.sort()
        elif pattern is not None:
            if os.path.isabs(pattern) or ".." in pattern.split(os.sep):
                raise ValueError(
                    f"COPY INTO: PATTERN {pattern!r} is absolute or "
                    "contains '..' — patterns match relative to the FROM "
                    "directory and may not reach outside it"
                )
            for hit in sorted(
                globmod.glob(os.path.join(src, pattern), recursive=True)
            ):
                rel_parts = os.path.relpath(hit, src).split(os.sep)
                if os.path.isfile(hit) and all(
                    not part.startswith(("_", "."))
                    for part in rel_parts
                    if part not in ("", ".")
                ):
                    _require_inside_landing_dir(hit, src, src_real)
                    paths.append(hit)
            if not paths:
                raise FileNotFoundError(
                    f"COPY INTO: PATTERN {pattern!r} matches no files "
                    f"under {src!r}"
                )
        else:
            for hit in sorted(globmod.glob(src, recursive=True)) or []:
                if os.path.isdir(hit):
                    if not _hit_visible(hit) and hit != src.rstrip("/"):
                        continue
                    for dp, dn, fns in os.walk(hit):
                        dn[:] = sorted(d for d in dn if _visible(d))
                        paths.extend(
                            os.path.join(dp, fn)
                            for fn in sorted(fns)
                            if _visible(fn)
                        )
                elif os.path.isfile(hit) and _hit_visible(hit):
                    paths.append(hit)
            if fixed_prefix and os.path.isdir(fixed_prefix):
                # the bare-FROM spelling enforces the same symlink
                # containment as FILES/PATTERN (r13 review): everything
                # enumerated must RESOLVE under the glob's literal
                # prefix, or an in-dir symlink smuggles an outside file
                # into the forever-loaded registry
                prefix_real = os.path.realpath(fixed_prefix)
                for p in paths:
                    _require_inside_landing_dir(p, fixed_prefix, prefix_real)
        if not paths:
            raise FileNotFoundError(f"COPY INTO: no files match {src!r}")
        copts = {k.lower(): v for k, v in copts.items()}
        unknown = set(copts) - {"force"}
        if unknown:
            raise ValueError(
                f"COPY INTO: unknown COPY_OPTIONS {sorted(unknown)} — "
                f"supported: 'force'"
            )
        force = copts.get("force", "").lower() == "true"
        reg_path = self.repo._copyinto_path(name)
        try:
            reg = json.loads(
                self.repo.get_object(reg_path, self.branch, include_staged=True)
            )
        except KeyError:
            reg = {"files": {}}
        loaded = reg["files"]
        new: list[str] = []
        seen_stmt: set[str] = set()
        skipped = 0
        for p in paths:
            # the registry is keyed by REALPATH (r13 re-review): an
            # in-dir symlink alias of an already-loaded file is the same
            # physical bytes and must skip, not duplicate — whatever
            # spelling enumerated it (and two aliases of one file in a
            # single statement load it once)
            rp = os.path.realpath(p)
            if rp in seen_stmt:
                continue
            st = os.stat(p)
            sig = [st.st_size, st.st_mtime_ns]
            prev = loaded.get(rp)
            if prev is not None and not force:
                if prev != sig:
                    raise ValueError(
                        f"COPY INTO {name!r}: previously loaded file {p!r} "
                        f"has CHANGED (size/mtime differ) — landing-zone "
                        f"files must be immutable; re-land under a new "
                        f"name, or COPY_OPTIONS('force'='true') to reload "
                        f"everything matched"
                    )
                skipped += 1
                continue
            seen_stmt.add(rp)
            loaded[rp] = sig
            new.append(p)
        if not new:
            return local_df(self.spark,
                [(0, 0, skipped)],
                "num_inserted_rows LONG, num_loaded_files INT, "
                "num_skipped_files INT",
            )
        reader = self.spark.read
        for k, v in fopts.items():
            reader = reader.option(k, v)
        if fmt.lower() == "parquet" and "mergeschema" not in {
            k.lower() for k in fopts
        }:
            # provided-vs-allocated for BY DEFAULT identity (and the
            # ALWAYS clash refusal) is decided from the READER schema —
            # without mergeSchema, a landing batch whose files disagree
            # about carrying a column could infer the narrower schema
            # and silently misclassify (r14 review)
            reader = reader.option("mergeSchema", True)
        df = reader.format(fmt).load(new)
        # staged-inclusive, case-robust existence probe: the BY-NAME
        # alignment below must fire for mixed-case and staged-only
        # targets too (r11 review)
        try:
            target = self.repo.read_table(
                self.spark, name, ref=self.branch, include_staged=True
            )
        except KeyError:
            target = None
        ids: dict = {}
        provided_byd: list = []
        if target is not None:
            meta = self.repo.column_metadata(name, self.branch)
            ids, defaults = meta["identity"], meta["defaults"]
            have = {c.lower(): c for c in df.columns}
            clash = sorted(
                c
                for c in set(have) & set(ids)
                if ids[c].get("always", True)
            )
            if clash:
                raise ValueError(
                    f"COPY INTO {name!r}: columns {clash} are GENERATED "
                    "ALWAYS AS IDENTITY — the engine allocates them; "
                    "remove them from the landed files"
                )
            # BY DEFAULT identity columns present in the files land
            # their file values as-is (Delta parity); absent ones are
            # allocated like ALWAYS columns
            provided_byd = sorted(
                c
                for c in set(have) & set(ids)
                if not ids[c].get("always", True)
            )
            ids = {c: e for c, e in ids.items() if c not in have}
            missing = [
                f.name
                for f in target.schema.fields
                if f.name.lower() not in have
                and f.name.lower() not in ids
                and f.name.lower() not in defaults
            ]
            extra = sorted(
                set(have) - {f.name.lower() for f in target.schema.fields}
            )
            if missing or extra:
                raise ValueError(
                    f"COPY INTO {name!r}: source columns must match the "
                    f"target BY NAME — missing {missing}, extra {extra} "
                    f"(columns with a DEFAULT or IDENTITY may be omitted)"
                )
            df = self._aligned_select(
                df,
                [
                    (have.get(f.name.lower()), f)
                    for f in target.schema.fields
                    if f.name.lower() not in ids
                ],
                defaults,
            )
        if not ids and not provided_byd:
            # plain append (no identity involvement): the landed batch
            # is read ONCE — straight into the write — and rows_affected
            # comes from the written group's manifest (r14; the old
            # persist+count pass read every landed byte a second time
            # solely for the report, a real double-read at ingest scale)
            with self._colmeta_rollback(name, extra_paths=(reg_path,)):
                rel = self.repo.write_table(self.branch, name, df, mode="append")
                rows = self._written_rows(rel, df)
                self.repo.put_object(self.branch, reg_path, json.dumps(reg))
                self.repo.commit(
                    self.branch,
                    f"SQL: COPY INTO {name} ({len(new)} files, {rows} rows)",
                )
            return local_df(self.spark,
                [(rows, len(new), skipped)],
                "num_inserted_rows LONG, num_loaded_files INT, "
                "num_skipped_files INT",
            )
        cached = df.persist()
        try:
            rows = cached.count()
            for c in provided_byd:
                # a NULL here means a file in the batch lacked the
                # column (schema-merged read) or carried explicit NULLs
                # — both would corrupt the identity column silently;
                # refuse loudly (per-file provided/allocated mixing has
                # no deterministic meaning)
                actual = next(
                    cc for cc in cached.columns if cc.lower() == c
                )
                if cached.where(F.col(actual).isNull()).limit(1).count():
                    raise ValueError(
                        f"COPY INTO {name!r}: BY DEFAULT identity column "
                        f"{actual!r} has NULL values in the landed batch "
                        "— every file must carry the column (or none), "
                        "and explicit NULLs are not allocatable"
                    )
            with self._colmeta_rollback(name, extra_paths=(reg_path,)):
                out = cached
                if ids:
                    out = self._fill_identity(
                        name, cached, list(target.schema.fields), ids, rows
                    )
                self.repo.write_table(self.branch, name, out, mode="append")
                self.repo.put_object(self.branch, reg_path, json.dumps(reg))
                self.repo.commit(
                    self.branch,
                    f"SQL: COPY INTO {name} ({len(new)} files, {rows} rows)",
                )
        finally:
            cached.unpersist(blocking=False)
        return local_df(self.spark,
            [(rows, len(new), skipped)],
            "num_inserted_rows LONG, num_loaded_files INT, "
            "num_skipped_files INT",
        )

    def describe_stats(self, table: str) -> DataFrame:
        """``DESCRIBE STATS t`` — the data-skipping manifests as a
        DataFrame: one row per (file, column) with min/max/null count.
        This is the metadata the pruned DELETE/UPDATE and
        ``read_table(prune_where=...)`` decide on; surfacing it makes
        skipping selectivity inspectable (a table whose per-file ranges
        all overlap won't prune — OPTIMIZE SORT BY fixes that)."""
        name = self._resolve_table(table)
        head = self.repo.head(self.branch)
        rows = []
        for rel in head.tables[name]:
            full = os.path.join(self.repo.root, rel)
            comps = rel.split(os.sep)
            # every entry resolves against its GROUP's manifest (whose
            # file keys carry partition segments): group dirs list all
            # files, part-file and partition-subdir references filter
            group_rel = os.sep.join(comps[:3]) if comps[0] == "data" else rel
            group_dir = os.path.join(self.repo.root, group_rel)
            sub = os.sep.join(comps[3:])
            man = stats_mod.load_group_stats(group_dir) or {"files": {}}
            for part, st in sorted(man["files"].items()):
                if sub:
                    if os.path.isfile(full):
                        if part != sub:
                            continue
                    elif not part.startswith(sub + os.sep):
                        continue
                for col, cs in sorted(st.get("cols", {}).items()):
                    rows.append(
                        (
                            os.path.join(group_rel, part),
                            col,
                            str(cs.get("min")),
                            str(cs.get("max")),
                            cs.get("nulls"),
                            st.get("rows"),
                        )
                    )
        return local_df(self.spark,
            rows,
            "file STRING, column STRING, min STRING, max STRING, "
            "null_count BIGINT, row_count BIGINT",
        )

    def _dv_cardinality(self, name: str) -> int | None:
        """Committed-DV row count for a table on this branch from the
        vector parquets' manifests: 0 when no vector exists, None when
        the manifests can't answer (callers then scan). The ONE
        definition of DV counting — _meta_rows and ANALYZE both ride
        it, so a fix can never land in only one place (r14 review)."""
        try:
            dv_entries = self.repo.current_files(self.branch, DV_PREFIX + name)
        except KeyError:
            return 0
        vals = stats_mod.metadata_aggregate(
            self.repo.root, dv_entries, [("count", "*")]
        )
        return None if vals is None else vals[0]

    def _meta_rows(
        self, name: str, entries: list[str] | None = None
    ) -> int | None:
        """Exact live row count of a table on this branch from group
        manifests minus committed DV cardinality — zero data-file reads
        (the ANALYZE zero-scan discipline). None when any manifest
        declines (legacy/stats-less group, unanswerable DV), which
        callers answer with a real scan."""
        if entries is None:
            try:
                entries = self.repo.current_files(self.branch, name)
            except KeyError:
                return None
        dv = self._dv_cardinality(name)
        if dv is None:
            return None
        vals = stats_mod.metadata_aggregate(
            self.repo.root, entries, [("count", "*")]
        )
        return None if vals is None else vals[0] - dv

    def analyze_table(
        self,
        table: str,
        columns: list[str] | None = None,
        all_columns: bool = False,
        noscan: bool = False,
    ) -> DataFrame:
        """``ANALYZE TABLE t COMPUTE STATISTICS [NOSCAN | FOR COLUMNS
        c, ... | FOR ALL COLUMNS]`` (VERDICT r11 #4 — the standard
        spelling over the stats that already exist).

        Answered from the data-skipping manifests whenever they can
        answer EXACTLY — zero data-file reads on clean lineages — with
        the `_metadata_agg` declines (missing manifests, string bounds,
        evolved lineages, live deletion vectors) falling back to a real
        scan, which is what ANALYZE means anyway; each column row
        reports which path produced it. The table form returns
        ``(statistic, value)`` rows (num_files, size_bytes, and — unless
        NOSCAN, matching Spark's size-only contract — row_count); the
        column forms return one row per column with min/max/null_count/
        row_count, the aggregation of what DESCRIBE STATS lists
        per-file — explicit FOR COLUMNS in the given order, FOR ALL
        COLUMNS sorted by name (deterministic across both the manifest
        and scan enumeration paths)."""
        name = self._resolve_table(table)
        entries = self.repo.current_files(self.branch, name)

        def file_footprint() -> tuple[int, int]:
            n, size = 0, 0
            for rel in entries:
                full = os.path.join(self.repo.root, rel)
                if os.path.isfile(full):
                    n += 1
                    size += os.path.getsize(full)
                else:
                    for dirpath, _dirs, fnames in os.walk(full):
                        for fn in sorted(fnames):
                            if fn.startswith((".", "_")):
                                continue
                            n += 1
                            size += os.path.getsize(
                                os.path.join(dirpath, fn)
                            )
            return n, size

        df = None  # lazy: only built when a scan fallback is needed

        def scan() -> DataFrame:
            nonlocal df
            if df is None:
                df = self.repo.read_table(self.spark, name, self.branch)
            return df

        if columns is None and not all_columns:
            n_files, size = file_footprint()
            rows = [("num_files", str(n_files)), ("size_bytes", str(size))]
            if not noscan:
                n_rows = self._meta_rows(name, entries)
                if n_rows is None:
                    n_rows = scan().count()
                rows.append(("row_count", str(n_rows)))
            return local_df(self.spark,
                rows, "statistic STRING, value STRING"
            )

        if noscan:
            raise ValueError(
                "ANALYZE TABLE: NOSCAN cannot combine with FOR COLUMNS "
                "(column statistics require stats manifests or a scan)"
            )
        # one manifest pass for the whole column loop (and the ALL
        # COLUMNS enumeration); None on evolved lineages / live DVs /
        # stats-less groups, which all take the scan path
        evolved = self.repo.table_schema_map(name, ref=self.branch) is not None
        per_file = (
            stats_mod.collect_per_file_stats(self.repo.root, entries)
            if not evolved and self._dv_cardinality(name) == 0
            else None
        )
        if all_columns:
            # the manifests' recorded name lists enumerate the schema
            # without touching a data file — but only when EVERY record
            # carries one (st["cols"] is no substitute: it drops nested
            # columns and stats-poisoned columns, which would silently
            # lose their output rows); legacy manifests decline to the
            # schema read. ALL COLUMNS output is sorted by name so both
            # paths return the same deterministic order.
            if per_file and all(st.get("names") for st in per_file):
                seen: dict[str, None] = {}
                for st in per_file:
                    for n in st["names"]:
                        seen.setdefault(n)
                cols = sorted(seen)
            else:
                cols = sorted(f.name for f in scan().schema.fields)
        else:
            cols = list(columns or [])
        out_rows = []
        scan_cols: list[str] = []
        for col in cols:
            vals = (
                stats_mod.metadata_aggregate(
                    self.repo.root,
                    entries,
                    [("min", col), ("max", col), ("count", col), ("count", "*")],
                    per_file=per_file,
                )
                if per_file is not None
                else None
            )
            if vals is None:
                scan_cols.append(col)
                continue
            mn, mx, nn, total = vals
            out_rows.append(
                (
                    col,
                    None if mn is None else str(mn),
                    None if mx is None else str(mx),
                    total - nn,
                    total,
                    "manifests",
                )
            )
        if scan_cols:
            aggs = [F.count(F.lit(1)).alias("_rows")]
            for i, col in enumerate(scan_cols):
                aggs.extend(
                    [
                        F.min(col).alias(f"_mn{i}"),
                        F.max(col).alias(f"_mx{i}"),
                        F.count(col).alias(f"_nn{i}"),
                    ]
                )
            r = scan().select(*aggs).collect()[0]
            for i, col in enumerate(scan_cols):
                mn, mx = r[f"_mn{i}"], r[f"_mx{i}"]
                out_rows.append(
                    (
                        col,
                        None if mn is None else str(mn),
                        None if mx is None else str(mx),
                        int(r["_rows"]) - int(r[f"_nn{i}"]),
                        int(r["_rows"]),
                        "scan",
                    )
                )
        order = {c: i for i, c in enumerate(cols)}
        out_rows.sort(key=lambda t: order[t[0]])
        return local_df(self.spark,
            out_rows,
            "column STRING, min STRING, max STRING, null_count BIGINT, "
            "row_count BIGINT, source STRING",
        )

    def _merge_into(
        self,
        table: str,
        talias: str | None,
        body: str,
        clauses: str,
        evolve: bool = False,
    ) -> DataFrame:
        """``MERGE INTO t [AS a] USING <table|(SELECT ...)> [AS b]
        ON a.k = b.k [AND ...]
        [WHEN MATCHED [AND cond] THEN UPDATE SET * | SET c = expr, ... | DELETE]...
        [WHEN NOT MATCHED [AND cond] THEN INSERT * | (cols) VALUES (exprs)]...
        [WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE | UPDATE SET ...]...``
        — SEVERAL clauses of each kind are legal (Delta's full 2.4
        grammar): they evaluate in statement order, the first clause
        whose condition passes acts on the row, and all but the last
        clause of a kind must carry a condition. Anything left
        unconsumed raises instead of silently changing semantics.

        The Delta MERGE surface a lakehouse actually runs: equality-
        conjunction ON, ordered update/delete clauses on match
        (matched rows claimed by no clause pass through untouched),
        ordered insert clauses on no match — ``INSERT *`` by name or
        explicit ``(cols) VALUES (exprs)`` with unnamed columns NULL —
        and the Delta-2.4 sync clauses deleting or updating target rows
        absent from the source (condition and SET expressions see
        target columns only, enforced BY SCOPE). Declarative plan: one
        LEFT [ANTI] JOIN per branch over the snapshot — with a small
        source the join broadcasts and the big target streams through
        narrow (same shape as ``upsert_table``); the clause selector is
        computed once per row as a lateral column alias and the tagged
        union is persisted and counted in ONE pass. Like Delta, raises
        when several source rows hit the same target row — checked only
        against source keys that actually match a target row, so
        duplicate never-matching keys (a legal multi-row insert)
        pass."""
        name = self._resolve_table(table)
        ta = talias or name
        # split body = "<src> [alias] ON <cond>": a parenthesized source is
        # scanned for its balanced close (its own JOIN ... ON must not be
        # mistaken for the merge condition)
        body = body.strip()
        if body.startswith("("):
            depth = 0
            end = -1
            for i, ch in enumerate(body):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        end = i
                        break
            if end < 0:
                raise ValueError(f"unbalanced parens in MERGE source: {body!r}")
            src_text, rest = body[: end + 1], body[end + 1 :]
            mo = _MERGE_ON_RE.match(rest)
            if not mo:
                raise ValueError(f"cannot parse MERGE USING ... ON from: {rest!r}")
            sdf = self.sql(src_text[1:-1])
            sa = mo.group("salias")
            if not sa:
                raise ValueError("a subquery MERGE source needs an alias")
        else:
            mi_ = re.match(rf"^({_IDENT})(.*)$", body, re.DOTALL)
            if not mi_:
                raise ValueError(f"cannot parse MERGE source: {body!r}")
            src_name = mi_.group(1).strip("`")
            mo = _MERGE_ON_RE.match(mi_.group(2))
            if not mo:
                raise ValueError(
                    f"cannot parse MERGE USING ... ON from: {mi_.group(2)!r}"
                )
            sdf = self.sql(f"SELECT * FROM {src_name}")
            sa = mo.group("salias") or src_name
        cond = mo.group("cond")
        # the lateral __lg_cl clause-index alias (and the DV route's
        # lineage columns) live in the reserved __lg_ namespace; a
        # source or target column there would SHADOW the alias at
        # resolution time (Spark resolves FROM columns before lateral
        # aliases, case-INSENSITIVELY — review-verified on 4.1.2) and
        # silently change clause selection — refuse up front. Target
        # tables are also guarded at write time; the check here covers
        # pre-guard repos.
        bad_src = [c for c in sdf.columns if c.lower().startswith("__lg_")]
        if bad_src:
            raise ValueError(
                f"MERGE source columns {bad_src} use the reserved "
                f"__lg_ prefix — rename them in the USING subquery"
            )
        # equality-conjunction ON, sides identified by alias
        t_keys: list[str] = []
        s_keys: list[str] = []
        for part in re.split(r"\bAND\b", cond, flags=re.IGNORECASE):
            pm = _EQ_PAIR_RE.match(part)
            if not pm:
                raise ValueError(
                    f"MERGE ON must be an equality conjunction of "
                    f"alias.col = alias.col terms; got {part.strip()!r}"
                )
            la, lc, ra, rc = (
                pm.group("la"),
                pm.group("lc").strip("`"),
                pm.group("ra"),
                pm.group("rc").strip("`"),
            )
            if la.lower() == ta.lower() and ra.lower() == sa.lower():
                t_keys.append(lc)
                s_keys.append(rc)
            elif la.lower() == sa.lower() and ra.lower() == ta.lower():
                t_keys.append(rc)
                s_keys.append(lc)
            else:
                raise ValueError(
                    f"MERGE ON term {part.strip()!r} must relate "
                    f"{ta!r} and {sa!r}"
                )
        # Clauses collect IN ORDER per kind (Delta r11 semantics: several
        # clauses of a kind are legal, evaluated in order — the FIRST
        # clause whose condition passes acts on the row; every clause
        # except the last of its kind must carry a condition, or the
        # unconditional earlier clause would shadow the rest).
        m_raw: list[tuple[str | None, str, re.Match]] = []   # matched
        i_raw: list[tuple[str | None, re.Match]] = []        # not matched
        bs_raw: list[tuple[str | None, str, re.Match]] = []  # by source
        for seg in _split_merge_clauses(clauses):
            for kind, rx in (
                ("bsd", _WHEN_NOT_MATCHED_BY_SOURCE_RE),
                ("bsu", _WHEN_NOT_MATCHED_BY_SOURCE_UPD_RE),
                ("mu", _WHEN_MATCHED_UPDATE_RE),
                ("md", _WHEN_MATCHED_DELETE_RE),
                ("mi", _WHEN_NOT_MATCHED_RE),
            ):
                m = rx.fullmatch(seg)
                if m:
                    cond = m.group("cond")
                    if kind in ("mu", "md"):
                        m_raw.append(
                            (cond, "update" if kind == "mu" else "delete", m)
                        )
                    elif kind == "mi":
                        i_raw.append((cond, m))
                    else:
                        bs_raw.append(
                            (cond, "update" if kind == "bsu" else "delete", m)
                        )
                    break
            else:
                raise ValueError(
                    f"MERGE: unsupported clause {seg!r} — supported: WHEN "
                    f"MATCHED [AND c] THEN UPDATE SET ...|DELETE, WHEN NOT "
                    f"MATCHED [AND c] THEN INSERT *|(cols) VALUES (...), "
                    f"WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET "
                    f"...|DELETE — several of a kind allowed, evaluated "
                    f"in order"
                )
        for label, entries in (
            ("WHEN MATCHED", [c for c, _a, _m in m_raw]),
            ("WHEN NOT MATCHED", [c for c, _m in i_raw]),
            ("WHEN NOT MATCHED BY SOURCE", [c for c, _a, _m in bs_raw]),
        ):
            for cond in entries[:-1]:
                if cond is None:
                    raise ValueError(
                        f"MERGE: with multiple {label} clauses, all but "
                        f"the last must have a condition (Delta's ordered-"
                        f"evaluation rule — an unconditional earlier "
                        f"clause would shadow the rest)"
                    )

        target = self.repo.read_table(
            self.spark, name, ref=self.branch, include_staged=True
        )
        # MERGE WITH SCHEMA EVOLUTION (Delta 3.x spelling of automerge):
        # source columns absent from the target JOIN the target schema —
        # the rewrite route overwrites the whole snapshot, so the
        # extended view (existing rows read the new columns as NULL)
        # makes every downstream scope — pass-through, SET/INSERT *
        # expansion, BY-SOURCE projections — uniform. SET * then updates
        # only source-named columns and INSERT * fills target-only
        # columns with NULL (Delta's automerge table); without
        # evolution, both keep the strict all-columns contract.
        new_fields = []
        if evolve:
            tlower = {f.name.lower() for f in target.schema.fields}
            candidates = [
                f for f in sdf.schema.fields if f.name.lower() not in tlower
            ]
            if len({f.name.lower() for f in candidates}) != len(candidates):
                raise ValueError(
                    "MERGE WITH SCHEMA EVOLUTION: source has new columns "
                    "differing only in case — the stored schema would be "
                    "ambiguous under Spark's case-insensitive resolution"
                )
            # Delta evolves only columns the merge actually REFERENCES:
            # every new column under a SET * / INSERT * star expansion,
            # plus any new column explicitly named as a SET target or in
            # an INSERT column list. A delete-only (or
            # old-columns-only) merge leaves the schema — and the DV
            # route eligibility — untouched even when the source
            # carries extra columns (r11 review).
            star_used = any(
                a == "update" and m.group("sets").strip() == "*"
                for _c, a, m in m_raw
            ) or any(m.group("star") for _c, m in i_raw)
            named: set[str] = set()
            if not star_used:
                for _c, a, m in m_raw + bs_raw:
                    if a != "update":
                        continue
                    for part in _split_top_level(m.group("sets")):
                        am = _MERGE_ASSIGN_RE.match(part)
                        if am:
                            col = am.group("col").strip("`")
                            qual = re.match(
                                rf"^{re.escape(ta)}\s*\.\s*(.+)$",
                                col,
                                re.IGNORECASE,
                            )
                            if qual:
                                col = qual.group(1).strip("`")
                            named.add(col.lower())
                for _c, m in i_raw:
                    if not m.group("star"):
                        named.update(
                            c.strip().strip("`").lower()
                            for c in _split_top_level(m.group("cols"))
                        )
            new_fields = [
                f
                for f in candidates
                if star_used or f.name.lower() in named
            ]
            if new_fields:
                target = target.select(
                    "*",
                    *[
                        F.lit(None).cast(f.dataType).alias(f.name)
                        for f in new_fields
                    ],
                )
        src_lower = {c.lower() for c in sdf.columns}
        resolved = {f.name.lower(): f.name for f in target.schema.fields}
        # IDENTITY columns (r12): never SET, never in an INSERT list —
        # inserted rows get engine-allocated values after the union;
        # DEFAULT values substitute for NULL on unnamed INSERT columns
        _cm = self.repo.column_metadata(name, self.branch)
        id_cols, col_defaults = _cm["identity"], _cm["defaults"]
        # BY DEFAULT identity columns (r14, Delta parity): explicitly
        # providable in INSERT clauses / from the source; never SET.
        # Each clause tracks which it provided — a mix of provided and
        # allocated across clauses would need per-clause allocation, so
        # it refuses loudly (provide in all clauses or none).
        id_always = {
            c for c, e in id_cols.items() if e.get("always", True)
        }
        i_provided: list[set] = []
        # targets written before the write-time __lg_ guard existed
        # would shadow the lateral clause-index alias too
        bad_t = [c for c in resolved.values() if c.lower().startswith("__lg_")]
        if bad_t:
            raise ValueError(
                f"MERGE target {name!r} columns {bad_t} use the reserved "
                f"__lg_ prefix (engine lineage/merge internals) — rename "
                f"them before merging"
            )

        def _parse_assigns(sets_text: str) -> dict[str, str]:
            out: dict[str, str] = {}
            for part in _split_top_level(sets_text):
                am = _MERGE_ASSIGN_RE.match(part)
                if not am:
                    raise ValueError(f"cannot parse SET assignment: {part!r}")
                col = am.group("col").strip("`")
                qual = re.match(
                    rf"^{re.escape(ta)}\s*\.\s*(.+)$", col, re.IGNORECASE
                )
                if qual:
                    col = qual.group(1).strip("`")
                if col.lower() not in resolved:
                    raise KeyError(f"MERGE {name!r}: no column {col!r}")
                if col.lower() in id_cols:
                    mode = (
                        "ALWAYS"
                        if id_cols[col.lower()].get("always", True)
                        else "BY DEFAULT"
                    )
                    raise ValueError(
                        f"MERGE {name!r}: column {col!r} is GENERATED "
                        f"{mode} AS IDENTITY — identity columns are "
                        "never assignable"
                    )
                out[resolved[col.lower()]] = am.group("expr").strip()
            return out

        # SET assignments and INSERT column lists parse up front (the
        # deletion-vector route needs them before any view exists); a
        # typo'd SET/INSERT column raises here regardless of which
        # execution path runs. Clause lists carry (cond, action,
        # col->expr) in statement order.
        m_clauses: list[tuple[str | None, str, dict[str, str] | None]] = []
        for cond, action, m in m_raw:
            if action == "update":
                sets_text = m.group("sets").strip()
                if sets_text == "*":
                    assigns = {
                        f.name: f"{sa}.`{f.name}`"
                        for f in target.schema.fields
                        # with evolution, SET * updates only the
                        # source-named columns (target-only columns keep
                        # their values); without it, the strict contract
                        # stands — a source lacking a target column is a
                        # loud analysis error. IDENTITY columns are
                        # excluded either way: matched rows keep their
                        # allocated values (they are never assignable)
                        if (not evolve or f.name.lower() in src_lower)
                        and f.name.lower() not in id_cols
                    }
                else:
                    assigns = _parse_assigns(sets_text)
                m_clauses.append((cond, "update", assigns))
            else:
                m_clauses.append((cond, "delete", None))
        bs_clauses: list[tuple[str | None, str, dict[str, str] | None]] = []
        for cond, action, m in bs_raw:
            if action == "update":
                sets_text = m.group("sets").strip()
                if sets_text == "*":
                    raise ValueError(
                        "MERGE BY SOURCE UPDATE: SET * needs a source row "
                        "— name target columns explicitly"
                    )
                bs_clauses.append((cond, "update", _parse_assigns(sets_text)))
            else:
                bs_clauses.append((cond, "delete", None))
        # insert exprs evaluate in SOURCE scope (the anti join of source
        # against target); unnamed target columns insert as NULL
        # (Delta's explicit-column INSERT rule)
        i_clauses: list[tuple[str | None, dict[str, str]]] = []
        for cond, m in i_raw:
            if m.group("star"):
                id_clash = sorted(id_always & src_lower)
                if id_clash:
                    # the other paths (INSERT lists, COPY INTO) refuse a
                    # user-provided identity column loudly; silently
                    # discarding the source's values here would renumber
                    # rows behind the user's back (r12 review)
                    raise ValueError(
                        f"MERGE INSERT *: source columns {id_clash} are "
                        "GENERATED ALWAYS AS IDENTITY on the target — "
                        "the engine allocates them; drop them from the "
                        "USING source"
                    )
                i_provided.append((set(id_cols) - id_always) & src_lower)
                if evolve:
                    # automerge: target-only columns insert their
                    # DEFAULT when declared (r12), else NULL; IDENTITY
                    # columns are engine-allocated after the union
                    # (except BY DEFAULT ones the source provides)
                    exprs = {
                        f.name: (
                            "NULL"
                            if f.name.lower() in id_cols
                            and f.name.lower() not in i_provided[-1]
                            else f"{sa}.`{f.name}`"
                            if f.name.lower() in src_lower
                            else col_defaults.get(f.name.lower(), "NULL")
                        )
                        for f in target.schema.fields
                    }
                else:
                    # case-insensitive, like Spark's own resolution (and
                    # the evolve branch above); IDENTITY columns are
                    # never expected from the source
                    missing = [
                        f.name
                        for f in target.schema.fields
                        if f.name.lower() not in src_lower
                        and f.name.lower() not in id_cols
                    ]
                    if missing:
                        raise ValueError(
                            f"MERGE INSERT *: source lacks target columns "
                            f"{missing}"
                        )
                    exprs = {
                        f.name: (
                            "NULL"
                            if f.name.lower() in id_cols
                            and f.name.lower() not in i_provided[-1]
                            else f"{sa}.`{f.name}`"
                        )
                        for f in target.schema.fields
                    }
            else:
                cols = [
                    c.strip() for c in _split_top_level(m.group("cols"))
                ]
                vals = _split_top_level(m.group("vals"))
                if len(cols) != len(vals):
                    raise ValueError(
                        f"MERGE INSERT: {len(cols)} columns but "
                        f"{len(vals)} VALUES expressions"
                    )
                named: dict[str, str] = {}
                for c, v in zip(cols, vals):
                    col = c.strip("`")
                    qual = re.match(
                        rf"^{re.escape(ta)}\s*\.\s*(.+)$", col, re.IGNORECASE
                    )
                    if qual:
                        col = qual.group(1).strip("`")
                    if col.lower() not in resolved:
                        raise KeyError(f"MERGE {name!r}: no column {col!r}")
                    if col.lower() in id_always:
                        raise ValueError(
                            f"MERGE INSERT: column {col!r} is GENERATED "
                            "ALWAYS AS IDENTITY — the engine allocates it"
                        )
                    rc = resolved[col.lower()]
                    if rc in named:
                        raise ValueError(
                            f"MERGE INSERT: duplicate column {rc!r}"
                        )
                    named[rc] = v
                # unnamed columns insert their DEFAULT when declared
                # (r12), else NULL; unprovided identity stays NULL here
                # and is allocated after the union
                i_provided.append(
                    {c.lower() for c in named} & (set(id_cols) - id_always)
                )
                exprs = {
                    f.name: named.get(
                        f.name,
                        "NULL"
                        if f.name.lower() in id_cols
                        else col_defaults.get(f.name.lower(), "NULL"),
                    )
                    for f in target.schema.fields
                }
            i_clauses.append((cond, exprs))
        # all-or-none per BY DEFAULT column across insert clauses
        ids_fill = dict(id_cols)
        for c in set(id_cols) - id_always:
            hits = [c in p for p in i_provided]
            if any(hits) and not all(hits):
                raise ValueError(
                    f"MERGE INSERT: BY DEFAULT identity column {c!r} is "
                    "provided by some insert clauses but not others — "
                    "provide it in every clause or in none"
                )
            elif any(hits):  # the raise above makes any() imply all()
                del ids_fill[c]
        # BY-SOURCE conditions and SET expressions are enforced
        # target-only BY SCOPE, not lexically: every place they evaluate
        # (the rewrite route's anti-join part, the DV route's anti-join
        # frame) excludes the source alias, so a source reference —
        # however quoted — is a loud analysis error on every route, and
        # an unqualified name shared with the source is never ambiguous
        # (review r10 #5: the lexical guard had both false negatives via
        # backticks and false positives via string literals)
        dv_texts: list[str | None] = []
        for cond, _action, asg in m_clauses + bs_clauses:
            dv_texts.append(cond)
            if asg:
                dv_texts.extend(asg.values())
        for cond, exprs in i_clauses:
            dv_texts.append(cond)
            dv_texts.extend(exprs.values())
        if (
            # an actually-evolving merge changes the STORED schema —
            # the rewrite route owns that (it overwrites the snapshot
            # with the extended schema); a WITH SCHEMA EVOLUTION whose
            # source adds no columns routes normally
            not new_fields
            and self._dv_enabled(name)
            # only the SET/INSERT expressions and the clause conditions
            # can smuggle a subquery — the ON condition is already
            # constrained to alias.col equality pairs and the USING
            # source was rewriter-resolved above
            and self._dv_routable(*dv_texts)
            # generated columns recompute on read; the rewrite path owns
            # that discipline — decline rather than risk storing them
            and not self.repo._generated_names(
                self.repo.table_schema_map(name, ref=self.branch)
            )
            # identity allocation happens on the rewrite route's staged
            # union (r12) — the DV route would insert NULLs (fully
            # provided BY DEFAULT inserts carry their values and may
            # route)
            and not (ids_fill and i_clauses)
        ):
            out = self._try_dv_dml(
                name,
                lambda: self._merge_dv_op(
                    name, ta, sa, sdf, t_keys, s_keys,
                    m_clauses=m_clauses, i_clauses=i_clauses,
                    bs_clauses=bs_clauses,
                ),
                "dv_merge", "MERGE INTO",
            )
            if out is not None:
                return out
        tview, sview = "lake__merge_t", "lake__merge_s"
        target.createOrReplaceTempView(tview)
        sdf.createOrReplaceTempView(sview)
        on_sql = " AND ".join(
            f"{ta}.`{tk}` = {sa}.`{sk}`" for tk, sk in zip(t_keys, s_keys)
        )
        marker_raw = f"{sa}.`{s_keys[0]}` IS NOT NULL"
        has_bs = bool(bs_clauses)
        tcols = [f.name for f in target.schema.fields]
        types = {
            f.name: f.dataType.simpleString() for f in target.schema.fields
        }
        out_cols = ", ".join(f"`{c}`" for c in tcols)
        passthrough = ", ".join(f"{ta}.`{c}` AS `{c}`" for c in tcols)
        parts: list[str] = []
        # Each part computes the clause selector ONCE per row as the
        # lateral column alias __lg_cl; projections and fate tags in the
        # same inner SELECT reference the alias, and the outer SELECT
        # keeps only the target columns + fate. The tagged union is
        # persisted and counted ONCE (one groupBy) instead of the three
        # eager COUNT jobs the r10 route ran — each of which re-ran the
        # join against the source.
        # PART 1a: the matched rows' fate. With a by-source clause in
        # play, this covers MATCHED rows only (WHERE marker) — unmatched
        # rows are handled uniformly in part 1b's anti join. Without one,
        # unmatched target rows ride through the same LEFT JOIN with
        # selector 0 ('pass').
        if m_clauses:
            # the guard stays UNconditioned (Delta errors on ambiguous
            # matches even when the clause conditions would filter one
            # of them out); it also bounds the LEFT JOIN's fan-out
            self._merge_dup_guard(tview, sview, t_keys, s_keys)
            msel = _first_match_sel([c for c, _a, _x in m_clauses])
            mcl = f"CASE WHEN {marker_raw} THEN ({msel}) ELSE 0 END"
            scope = f" WHERE {marker_raw}" if has_bs else ""
            inner = (
                f"SELECT ({mcl}) AS __lg_cl, "
                f"{', '.join(_clause_proj_cols(m_clauses, tcols, types, ta))} "
                f"FROM {tview} {ta} LEFT JOIN {sview} {sa} "
                f"ON {on_sql}{scope}"
            )
            parts.append(
                f"SELECT {out_cols}, "
                f"{_fate_expr(m_clauses, 'del', 'upd')} AS __lg_fate "
                f"FROM ({inner})"
            )
        elif has_bs:
            # no matched action: matched rows pass through a semi join
            # untouched — no LEFT JOIN, so duplicate source keys can't
            # fan target rows out and no dup guard is needed (Delta only
            # raises when multiple matches would MODIFY a row)
            parts.append(
                f"SELECT {passthrough}, 'pass' AS __lg_fate "
                f"FROM {tview} {ta} "
                f"LEFT SEMI JOIN {sview} {sa} ON {on_sql}"
            )
        else:
            # insert-only merge: the target passes through untouched
            parts.append(
                f"SELECT {passthrough}, 'pass' AS __lg_fate "
                f"FROM {tview} {ta}"
            )
        # PART 1b: the unmatched rows' fate, always in anti-join scope —
        # the source alias does not exist there, so BY-SOURCE conditions
        # and SET expressions resolve against TARGET columns only, by
        # construction, exactly as on the DV route: a source reference
        # is a loud analysis error everywhere, a shared unqualified name
        # is never ambiguous.
        if has_bs:
            bsel = _first_match_sel([c for c, _a, _x in bs_clauses])
            inner = (
                f"SELECT ({bsel}) AS __lg_cl, "
                f"{', '.join(_clause_proj_cols(bs_clauses, tcols, types, ta))} "
                f"FROM {tview} {ta} "
                f"LEFT ANTI JOIN {sview} {sa} ON {on_sql}"
            )
            parts.append(
                f"SELECT {out_cols}, "
                f"{_fate_expr(bs_clauses, 'bsdel', 'bsupd')} AS __lg_fate "
                f"FROM ({inner})"
            )
        # PART 2: inserts, in source-anti-target scope; the first insert
        # clause whose condition passes provides the row's expressions,
        # source rows matching no clause don't insert.
        if i_clauses:
            isel = _first_match_sel([c for c, _e in i_clauses])
            inner = (
                f"SELECT ({isel}) AS __lg_cl, "
                f"{', '.join(_insert_proj_cols(i_clauses, tcols, types))} "
                f"FROM {sview} {sa} "
                f"LEFT ANTI JOIN {tview} {ta} ON {on_sql}"
            )
            parts.append(
                f"SELECT {out_cols}, 'ins' AS __lg_fate "
                f"FROM ({inner}) WHERE __lg_cl > 0"
            )
        # ONE source-scan pass: the tagged union is persisted, counted
        # once, and the same cached frame feeds the write — the r10
        # route ran up to three eager COUNT jobs first, each re-running
        # the join (the _merge_dv_op persist discipline, applied here).
        staged = self.spark.sql(
            " UNION ALL ".join(f"({p})" for p in parts)
        ).persist()
        try:
            counts = {
                r["__lg_fate"]: r["n"]
                for r in staged.groupBy("__lg_fate")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            rows = sum(n for f, n in counts.items() if f != "pass")
            n_ins = int(counts.get("ins", 0))
            if ids_fill and n_ins:
                # allocate identity values for the inserted rows only
                # (r12): pass/update rows carry their existing values
                # through the union untouched; the insert part projected
                # NULL, replaced here by the numbered allocation — cost
                # ∝ inserted rows. The staged high-water bump rolls
                # back with a failed write/commit.
                keep = staged.where(
                    ~F.col("__lg_fate").isin("del", "bsdel", "ins")
                ).drop("__lg_fate")
                ins = staged.where(F.col("__lg_fate") == "ins").drop(
                    "__lg_fate"
                )
                with self._colmeta_rollback(name):
                    filled = self._fill_identity(
                        name,
                        ins.drop(*[resolved[c] for c in ids_fill]),
                        list(target.schema.fields),
                        ids_fill,
                        n_ins,
                    )
                    merged = keep.unionByName(filled)
                    self.repo.write_table(
                        self.branch, name, merged, mode="overwrite"
                    )
                    c = self.repo.commit(
                        self.branch, f"SQL: MERGE INTO {name}"
                    )
                return self._dml_result(name, c.version, int(rows))
            merged = staged.where(
                ~F.col("__lg_fate").isin("del", "bsdel")
            ).drop("__lg_fate")
            self.repo.write_table(self.branch, name, merged, mode="overwrite")
        finally:
            staged.unpersist(blocking=False)
        c = self.repo.commit(self.branch, f"SQL: MERGE INTO {name}")
        return self._dml_result(name, c.version, int(rows))

    _SIMPLE_SELECT_RE = re.compile(
        r"^\s*SELECT\b.*?\bFROM\s+(?P<table>[A-Za-z_]\w*)"
        r"(?:\s+(?:AS\s+)?(?!WHERE\b|GROUP\b|ORDER\b|HAVING\b|LIMIT\b)\w+)?"
        r"\s+WHERE\s+(?P<where>.*?)"
        r"(?:\s+(?:GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|QUALIFY|WINDOW)\b.*)?"
        r"\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    _META_AGG_RE = re.compile(
        rf"^\s*SELECT\s+(?P<aggs>[^;]+?)\s+FROM\s+(?P<table>{_IDENT})\s*;?\s*$",
        re.IGNORECASE,
    )
    _META_ITEM_RE = re.compile(
        r"^\s*(?P<fn>COUNT|MIN|MAX)\s*\(\s*(?P<arg>\*|[A-Za-z_]\w*)\s*\)"
        r"\s*(?:AS\s+(?P<alias>\w+))?\s*$",
        re.IGNORECASE,
    )

    def _metadata_agg(self, query: str) -> DataFrame | None:
        """Answer ``SELECT COUNT(*)/COUNT(c)/MIN(c)/MAX(c) FROM t`` from
        the stats manifests alone — ZERO data-file reads (the
        Delta/Iceberg metadata-query optimization). Strictly conservative:
        any doubt (missing manifests, stats-less or string-bounded
        columns, ALTER history mapping logical names away from the
        physical stats, a WHERE/GROUP BY, anything unparsed) returns
        None and the normal scan path runs. COUNT(col) uses exact footer
        null counts; MIN/MAX decline on string stats because parquet
        footers may truncate string bounds (safe to prune on, not to
        report). Sees the same staged-inclusive state as scans."""
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning import stats as stats_mod

        m = self._META_AGG_RE.match(query)
        if not m:
            return None
        if re.search(r"\b(WHERE|GROUP|ORDER|HAVING|LIMIT|JOIN|UNION)\b", query, re.I):
            return None
        try:
            table = self._resolve_table(m.group("table").strip("`"))
        except KeyError:
            return None
        smap = self.repo.table_schema_map(table, ref=self.branch)
        evolved = smap is not None
        try:
            dv_entries = self.repo.current_files(self.branch, DV_PREFIX + table)
        except KeyError:
            dv_entries = None
        items: list[tuple[str, str]] = []
        names: list[str] = []
        for part in m.group("aggs").split(","):
            im = self._META_ITEM_RE.match(part)
            if not im:
                return None
            fn, arg = im.group("fn").lower(), im.group("arg").strip()
            items.append((fn, arg))
            names.append(
                im.group("alias")
                or (f"{fn}(1)" if arg == "*" and fn == "count" else f"{fn}({arg})")
            )
        aliases: dict[str, list[str]] | None = None
        if evolved and any(fn != "count" or arg != "*" for fn, arg in items):
            # stats manifests speak PHYSICAL column names. COUNT(*)
            # needs only per-file row counts, which rename replay /
            # ADD-null / DROP cannot change. COUNT(col) (r11, VERDICT
            # r10 #6) resolves when the column's lineage is RENAME-ONLY:
            # its per-era physical names probe each file's recorded name
            # list — rows − nulls under whichever era name the file
            # carries; files predating the column contribute zero. Any
            # add/add_gen/drop in the lineage, and MIN/MAX (footer
            # bounds can't replay casts), still scan.
            if any(fn != "count" for fn, _arg in items):
                return None
            aliases = {}
            for _fn, arg in items:
                if arg == "*":
                    continue
                chain = self.repo._era_column_names(smap, arg)
                if chain is None:
                    return None
                aliases[arg] = chain
        dv_count = 0
        if dv_entries is not None:
            # a live deletion vector makes footer stats over-counts.
            # COUNT(*) stays pure metadata: the vector never holds
            # duplicate (file, pos) pairs (delete_where_dv excludes
            # already-deleted rows; the merge union dedups), so the
            # exact answer is footer rows − vector cardinality — and
            # the vector is itself a stats-covered table, so ITS count
            # comes from manifests too. MIN/MAX (the extremum may be a
            # deleted row) and COUNT(col) (deleted rows' null-ness is
            # unknowable from positions) legitimately need the scan.
            if any(fn != "count" or arg != "*" for fn, arg in items):
                return None
            dv_vals = stats_mod.metadata_aggregate(
                self.repo.root, dv_entries, [("count", "*")]
            )
            if dv_vals is None:
                return None
            dv_count = dv_vals[0]
        try:
            entries = self.repo.current_files(self.branch, table)
        except KeyError:
            return None
        values = stats_mod.metadata_aggregate(
            self.repo.root, entries, items, aliases=aliases
        )
        if values is None:
            return None
        if dv_count:
            values = [v - dv_count for v in values]
        # result types should match what the scan path would produce:
        # counts are BIGINT; MIN/MAX carry the column's own type, read
        # from ONE parquet footer (building the full batch reader here
        # would re-pay the O(files) listing the fast path exists to
        # avoid). If even that footer is unreachable the values still
        # stand (they come from manifests) — fall back to the JSON
        # value's natural type, widened (int→bigint, float→double).
        # counts carry their own BIGINT type — a COUNT-only query (the
        # only shape evolved tables reach, and common on plain ones)
        # must not pay even the single footer open this read costs
        by_name = (
            {}
            if all(fn == "count" for fn, _ in items)
            else self._one_footer_types(entries)
        )
        cols = []
        for (fn, arg), name, v in zip(items, names, values):
            if fn == "count":
                cols.append(F.lit(v).cast("bigint").alias(name))
                continue
            dtype = by_name.get(arg.lower())
            if dtype is None:
                if isinstance(v, bool) or v is None:
                    dtype = "boolean" if isinstance(v, bool) else None
                elif isinstance(v, int):
                    dtype = "bigint"
                elif isinstance(v, float):
                    dtype = "double"
                if dtype is None:
                    return None
            cols.append(F.lit(v).cast(dtype).alias(name))
        return self.spark.range(1).select(*cols)

    def _one_footer_types(self, entries: list[str]) -> dict[str, str]:
        """Column→Spark-DDL types from the first reachable parquet
        footer of a snapshot. Only called for non-evolved tables (one
        uniform physical schema — COUNT-only queries, the sole shape
        evolved tables reach, skip it), so one footer speaks for all
        files. Best-effort: {} on any failure (callers widen from
        values)."""
        import pyarrow.parquet as pq

        _ARROW_DDL = {
            "int8": "tinyint", "int16": "smallint", "int32": "int",
            "int64": "bigint", "float": "float", "double": "double",
            "bool": "boolean", "string": "string", "large_string": "string",
            "date32[day]": "date",
        }
        try:
            first = os.path.join(self.repo.root, entries[0])
            if os.path.isdir(first):
                parts = sorted(
                    os.path.join(dp, fn)
                    for dp, _d, fns in os.walk(first)
                    for fn in fns
                    if fn.endswith(".parquet")
                )
                first = parts[0]
            out = {}
            for f in pq.ParquetFile(first).schema_arrow:
                s = str(f.type)
                if s in _ARROW_DDL:
                    out[f.name.lower()] = _ARROW_DDL[s]
                elif s.startswith("timestamp"):
                    out[f.name.lower()] = (
                        "timestamp" if getattr(f.type, "tz", None) else "timestamp_ntz"
                    )
                elif s.startswith("decimal"):
                    out[f.name.lower()] = (
                        f"decimal({f.type.precision},{f.type.scale})"
                    )
            return out
        except (OSError, IndexError, ValueError):
            return {}

    def _auto_prune_where(self, query: str) -> dict[str, str]:
        """{table_lower: where_text} when the query is a simple
        single-table SELECT whose WHERE can safely file-prune that
        table's scan. Requirements: exactly one FROM and one WHERE in
        the whole text (no subquery reads the same view), the FROM names
        a bare repo table, and no JOIN/comma-list. The WHERE itself goes
        through the conservative stats evaluator, so anything it can't
        reason about simply doesn't skip files."""
        if len(re.findall(r"\bFROM\b", query, re.IGNORECASE)) != 1:
            return {}
        if len(re.findall(r"\bWHERE\b", query, re.IGNORECASE)) != 1:
            return {}
        if re.search(r"\bJOIN\b", query, re.IGNORECASE):
            return {}
        m = self._SIMPLE_SELECT_RE.match(query)
        if not m:
            return {}
        table = m.group("table").lower()
        known = {t.lower() for t in self.repo.list_tables(self.branch)}
        if table not in known:
            return {}
        return {table: m.group("where").strip()}

    # -- query rewrite ------------------------------------------------------
    def _resolve_table(self, name: str) -> str:
        """Case-insensitive repo-table resolution (Spark identifiers are
        case-insensitive by default); returns the stored name."""
        by_lower = {t.lower(): t for t in self.repo.list_tables(self.branch)}
        try:
            return by_lower[name.lower()]
        except KeyError:
            raise KeyError(
                f"table {name!r} not found on branch {self.branch!r}; "
                f"known: {sorted(by_lower.values())}"
            ) from None

    def _column_write_surface(
        self, name: str
    ) -> tuple[DataFrame, dict, dict, dict]:
        """(frame, column_metadata, {col_lower: generated_expr},
        constraints) — every write-time column annotation source, shared
        by DESCRIBE TABLE and SHOW CREATE TABLE so the two surfaces can
        never drift (r13 review)."""
        df = self.repo.read_table(
            self.spark, name, ref=self.branch, include_staged=True
        )
        meta = self.repo.column_metadata(name, self.branch)
        gen_exprs = {
            l: expr
            for l, (_disp, expr) in self.repo._generated_exprs(
                self.repo.table_schema_map(name, ref=self.branch)
            ).items()
        }
        cons = dict(self.repo.table_constraints(name, self.branch))
        return df, meta, gen_exprs, cons

    def _show_create(self, table: str) -> DataFrame:
        """``SHOW CREATE TABLE t`` — a REPLAYABLE script in this
        dialect's own spellings: the CREATE TABLE with inline
        IDENTITY/DEFAULT/NOT NULL and PARTITIONED BY, followed by the
        ALTER statements for generated columns, remaining CHECK
        constraints, and TBLPROPERTIES (the reserved partition key is
        expressed by PARTITIONED BY, not re-emitted). Running the
        emitted statements on a fresh branch reproduces the table's
        logical definition — the round-trip is pinned in tests. For a
        stored VIEW the statement is its CREATE VIEW text."""
        low = table.lower()
        if low in self.repo.list_view_names(self.branch):
            vdef = self.repo.view_def(low, self.branch)
            collist = (
                " (" + ", ".join(vdef["cols"]) + ")" if vdef.get("cols") else ""
            )
            return local_df(self.spark,
                [(f"CREATE VIEW {low}{collist} AS {vdef['sql']};",)],
                "createtab_stmt STRING",
            )
        name = self._resolve_table(table)
        stmts = self._create_table_script(name, name)
        return local_df(self.spark,
            [(";\n".join(stmts) + ";",)], "createtab_stmt STRING"
        )

    def _create_table_script(self, src: str, dst: str) -> list[str]:
        """The ordered DDL statements that reproduce ``src``'s logical
        definition under the name ``dst`` — the engine of both SHOW
        CREATE TABLE (dst == src) and CREATE TABLE ... LIKE (fresh
        dst), so the two can never drift."""
        name = dst
        df, meta, gen_exprs, cons = self._column_write_surface(src)
        all_props = self.repo.table_properties(src, self.branch)
        parts = [
            c for c in all_props.get(PARTITION_PROP, "").split(",") if c
        ]
        clus = [c for c in all_props.get(CLUSTER_PROP, "").split(",") if c]
        props = {
            k: v
            for k, v in all_props.items()
            if k not in (PARTITION_PROP, CLUSTER_PROP)
        }
        coldefs: list[str] = []
        alters: list[str] = []
        for f in df.schema.fields:
            if not re.fullmatch(r"\w+", f.name):
                raise ValueError(
                    f"table {src!r}: column {f.name!r} is not a plain "
                    "identifier — this dialect's DDL cannot express it, "
                    "so no replayable script exists (rename the column "
                    "first)"
                )
            l = f.name.lower()
            # simpleString verbatim (NOT uppercased): nested struct
            # field names are case-sensitive on read-back (r13 review)
            typ = f.dataType.simpleString()
            if l in gen_exprs or alters:
                # the CREATE grammar has no inline GENERATED spelling, so
                # from the FIRST generated column onward every column is
                # emitted as an ALTER (appends preserve the logical
                # order — r13 review: a trailing-ALTER-only emission
                # reordered stored columns declared after a generated
                # one); DEFAULT and IDENTITY have ALTER spellings, NOT
                # NULL stays expressed by its stored CHECK constraint
                if l in gen_exprs:
                    alters.append(
                        f"ALTER TABLE {name} ADD COLUMN {f.name} {typ} "
                        f"GENERATED ALWAYS AS ({gen_exprs[l]})"
                    )
                    continue
                ide = meta["identity"].get(l)
                if ide is not None:
                    alters.append(
                        f"ALTER TABLE {name} ADD COLUMN {f.name} {typ} "
                        f"{_identity_clause(ide)}"
                    )
                    continue
                alters.append(
                    f"ALTER TABLE {name} ADD COLUMN {f.name} {typ}"
                )
                if l in meta["defaults"]:
                    alters.append(
                        f"ALTER TABLE {name} ALTER COLUMN {f.name} SET "
                        f"DEFAULT {meta['defaults'][l]}"
                    )
                continue
            d = f"{f.name} {typ}"
            ide = meta["identity"].get(l)
            if ide is not None:
                d += " " + _identity_clause(ide)
            if l in meta["defaults"]:
                d += f" DEFAULT {meta['defaults'][l]}"
            if cons.get(f"{l}_not_null") == f"{f.name} IS NOT NULL":
                d += " NOT NULL"
                del cons[f"{l}_not_null"]
            coldefs.append(d)
        stmt = f"CREATE TABLE {name} (\n  " + ",\n  ".join(coldefs) + ")"
        if parts:
            stmt += f"\nPARTITIONED BY ({', '.join(parts)})"
        inline = {d.split(" ", 1)[0].lower() for d in coldefs}
        if clus and all(c.lower() in inline for c in clus):
            stmt += f"\nCLUSTER BY ({', '.join(clus)})"
        elif clus:
            # a cluster column only exists after an ALTER ADD COLUMN, so
            # the inline clause would fail existence validation on
            # replay — express clustering as its own trailing statement
            alters = alters + [
                f"ALTER TABLE {name} CLUSTER BY ({', '.join(clus)})"
            ]
        stmts = [stmt] + alters
        for cname, expr in sorted(cons.items()):
            stmts.append(
                f"ALTER TABLE {name} ADD CONSTRAINT {cname} CHECK ({expr})"
            )
        if props:
            pairs = ", ".join(
                "'{}'='{}'".format(k.replace("'", "''"), v.replace("'", "''"))
                for k, v in sorted(props.items())
            )
            stmts.append(f"ALTER TABLE {name} SET TBLPROPERTIES ({pairs})")
        return stmts

    def _create_like(self, dst: str, src: str) -> DataFrame:
        """``CREATE TABLE dst LIKE src`` — an EMPTY table with src's
        full logical definition (columns, order, IDENTITY restarting at
        its declared START, DEFAULT, NOT NULL, generated columns, CHECK
        constraints, PARTITIONED BY, TBLPROPERTIES), by replaying the
        same script SHOW CREATE TABLE emits — `_create_table_script`
        stays the ONE definition serializer.

        The replay runs on a throwaway branch and its net result (new
        table entry + every object the script created) is carried back
        as ONE staged unit with ONE commit (ADVICE r13: the old
        replay-on-this-branch committed per statement, so half-defined
        intermediate tables became permanent time-travel history, and a
        mid-script failure needed a best-effort rollback commit). A
        failure now just deletes the throwaway branch — this branch
        never moves."""
        import uuid as _uuid

        src_name = self._resolve_table(src)
        low = dst.lower()
        if low in {t.lower() for t in self.repo.list_tables(self.branch)}:
            raise ValueError(
                f"table {dst!r} already exists on {self.branch!r}"
            )
        self._reject_view_collision(dst)
        _check_name_unreserved(low, "table")
        self.repo._require_clean_for_alter(
            self.branch, f"CREATE TABLE {low} LIKE"
        )
        stmts = self._create_table_script(src_name, low)
        base = self.repo.head(self.branch)
        tmp = f"__like__{_uuid.uuid4().hex[:12]}"
        self.repo.create_branch(tmp, self.branch)
        try:
            tsql = type(self)(self.spark, self.repo, tmp)
            for s in stmts:
                tsql.sql(s)
            head_tmp = self.repo.head(tmp)
            # carry the replay's net effect: blobs are immutable and
            # repo-global, so re-staging them on this branch BY REFERENCE
            # is pure metadata (the deep-clone staged-unit pattern) — no
            # byte copy, no duplicate blob; delete_branch only drops the
            # ref file, so the blobs outlive the throwaway branch
            for path, blob in head_tmp.objects.items():
                if base.objects.get(path) != blob:
                    self.repo.restore_staged_object_entry(
                        self.branch, path, {"blob": blob, "op": "put"}
                    )
            for t, files in head_tmp.tables.items():
                if base.tables.get(t) != files:
                    self.repo.stage_table_files(self.branch, t, list(files))
            c = self.repo.commit(
                self.branch, f"SQL: CREATE TABLE {low} LIKE {src_name}"
            )
        except Exception:
            self.repo.reset(self.branch)  # clean on entry (alter gate)
            raise
        finally:
            self.repo.delete_branch(tmp)
        return self._dml_result(low, c.version, 0)

    @staticmethod
    def _parse_view_cols(raw: str | None, view: str) -> list[str] | None:
        """The explicit column list of ``CREATE VIEW v (a, b) AS ...`` —
        plain identifiers (optionally backticked), no duplicates, at
        least one name. Returns None when the clause is absent."""
        if raw is None:
            return None
        cols = [c.strip().strip("`").lower() for c in raw.split(",")]
        if not all(re.fullmatch(r"[A-Za-z_]\w*", c) for c in cols):
            raise ValueError(
                f"view {view!r}: column list must be plain identifiers, "
                f"got {raw!r}"
            )
        if len(set(cols)) != len(cols):
            raise ValueError(f"view {view!r}: duplicate column names in {raw!r}")
        return cols

    def _reject_view_collision(self, name: str) -> None:
        """Every table-creating path (CTAS, explicit schema, clones via
        the repo guards) must refuse a name held by a stored view —
        view expansion runs before table rewriting, so a same-named
        table would be silently shadowed forever (r13 review)."""
        if name.lower() in self.repo.list_view_names(self.branch):
            raise ValueError(
                f"cannot CREATE TABLE {name!r}: a view of that name "
                f"exists on {self.branch!r} (DROP VIEW it first)"
            )

    def _register_snapshot(self, table: str, version: int | None, ts: str | None) -> str:
        table = self._resolve_table(table)
        if ts is not None:
            version = self._version_at(ts)
        view = f"lakesnap__{table}__v{version}"
        df = self.repo.read_table(self.spark, table, ref=self.branch, version_as_of=version)
        df.createOrReplaceTempView(view)
        return view

    def _version_at(self, ts: str) -> int:
        """Latest commit version at-or-before a timestamp (Delta's
        TIMESTAMP AS OF semantics); full-history walk. Compared at
        MICROSECOND granularity — the precision ISO-8601 carries — so a
        timestamp copied back from a rendered commit time still matches
        its own commit. Each side converts through
        ``datetime.fromtimestamp`` (CPython's exact µs rounding — the
        SAME rounding every rendering uses); multiplying the raw float
        seconds by 1e6 instead carries ~0.1µs of float error at current
        epochs and disagreed with the rendering near .5µs boundaries
        (~12% of commits — the residual flake after the r11 review's
        first fix)."""
        t = datetime.fromisoformat(ts)
        if t.tzinfo is None:
            t = t.replace(tzinfo=timezone.utc)
        best = None
        for c in self.repo.log(self.branch, limit=None):
            ct = datetime.fromtimestamp(c.timestamp, tz=timezone.utc)
            if ct <= t and (best is None or c.version > best):
                best = c.version
        if best is None:
            raise KeyError(f"no commit at or before {ts} on {self.branch}")
        return best

    def _register_changes(self, table: str, v_start: int, v_end: int) -> str:
        """CDC: register a view of row-level changes in commit versions
        [v_start, v_end] — Delta's ``table_changes`` TVF. Each commit on
        the branch's first-parent line contributes its diff against its
        own first parent (``changes.row_changes``, the ``repo.diff``
        semantics), tagged with ``_change_type`` ('insert' | 'delete' —
        an update is a delete+insert pair, as in Delta without deletion
        vectors) and ``_commit_version``. Commits that did not touch
        the table, commits of other branches and ``data_change=false``
        rearrangements contribute nothing and cost no Spark work.

        This spelling is ROW-MINIMAL: a rewrite emits only the net
        change. It reads only the files each commit removed or added and
        the rows its deletion-vector change moved; rows a rewrite
        carried over cancel in one signed aggregation. The scale
        spelling is ``TABLE_CHANGES_FEED`` (``changes.table_changes``):
        the same file split with no aggregation — multiset-correct to
        fold, not row-minimal."""
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.changes import (
            SIGN,
            first_parent_range,
            row_changes,
        )

        name = self._resolve_table(table)
        change = F.when(F.col(SIGN) > 0, "insert").otherwise("delete")
        parts: list[DataFrame] = []
        for parent, c in first_parent_range(self.repo, self.branch, v_start, v_end):
            if c.meta.get("data_change") is False:
                continue
            delta = row_changes(self.repo, self.spark, name, parent, c)
            if delta is not None:
                parts.append(
                    delta.withColumn("_change_type", change)
                    .drop(SIGN)
                    .withColumn("_commit_version", F.lit(c.version))
                )
        if not parts:
            head = self.repo.read_table(self.spark, name, ref=self.branch)
            parts = [
                head.withColumn("_change_type", F.lit(""))
                .withColumn("_commit_version", F.lit(0))
                .limit(0)
            ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        view = f"lakechg__{name}__{v_start}_{v_end}"
        out.createOrReplaceTempView(view)
        return view

    def _register_changes_feed(self, table: str, v_start: int, v_end: int) -> str:
        """``TABLE_CHANGES_FEED(t, v1[, v2])`` — the scale spelling of the
        change TVF: ``versioning.changes.table_changes``. It reads the
        same changed files and vector positions as ``TABLE_CHANGES`` but
        skips the signed aggregation, so a rewrite emits every row of
        the rewritten files as a delete+insert pair (multiset-correct to
        fold, not row-minimal), and a commit that revokes vector
        positions raises."""
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.changes import table_changes

        name = self._resolve_table(table)
        out = table_changes(
            self.repo, self.spark, name, v_start, v_end, ref=self.branch
        )
        view = f"lakefeed__{name}__{v_start}_{v_end}"
        out.createOrReplaceTempView(view)
        return view

    # -- DML (Delta-style SQL writes; auto-commit like upsert_table) -------

    def _dml_result(self, table: str, version: int, rows: int) -> DataFrame:
        return local_df(self.spark,
            [(table, version, rows)], "table STRING, version INT, rows_affected BIGINT"
        )

    def _written_rows(self, rel: str, df: DataFrame) -> int:
        """rows_affected for a group ``write_table`` just wrote, summed
        from its footer-derived manifest — zero extra scan (the TRUNCATE
        metadata-count discipline, r14: INSERT/CTAS previously ran a full
        ``count()`` job solely for the report). Falls back to counting
        only when the best-effort manifest is absent."""
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.stats import read_group_manifest

        m = read_group_manifest(os.path.join(self.repo.root, rel))
        if m and isinstance(m.get("files"), dict):
            try:
                return sum(int(f["rows"]) for f in m["files"].values())
            except (KeyError, TypeError, ValueError):
                pass
        return df.count()

    @staticmethod
    def _parse_cluster_spec(
        clus_text: str | None, columns: list[str], parts: list[str]
    ) -> list[str]:
        """CLUSTER BY columns at creation time, validated against the
        frame being written — the shared ``_validate_col_spec`` plus
        the cluster/partition disjointness rule."""
        if not clus_text:
            return []
        cols = _validate_col_spec(
            "CLUSTER BY",
            [c.strip().strip("`") for c in clus_text.split(",")],
            columns,
        )
        _check_cluster_disjoint(cols, parts)
        return cols

    def _ctas(
        self,
        table: str,
        select: str,
        replace: bool,
        parts_text: str | None = None,
        clus_text: str | None = None,
    ) -> DataFrame:
        """CREATE [OR REPLACE] TABLE t [PARTITIONED BY (c, ...)]
        [CLUSTER BY (c, ...)] AS SELECT ... — the SELECT runs through
        the full rewriter (time travel and repo refs work), the result
        is staged as an overwrite and committed in one step. A
        PARTITIONED BY spec (r13) is stored as a reserved tblproperty
        and applies to this and EVERY future write of the table
        (INSERT/MERGE/COPY INTO/DML rewrites); a CLUSTER BY spec (r14,
        the liquid-clustering analogue) is consulted by OPTIMIZE when
        the statement names no keys."""
        existing = {t.lower() for t in self.repo.list_tables(self.branch)}
        if table.lower() in existing and not replace:
            raise ValueError(
                f"table {table!r} already exists on {self.branch!r}; "
                "use CREATE OR REPLACE TABLE"
            )
        self._reject_view_collision(table)
        name = self._resolve_table(table) if table.lower() in existing else table.lower()
        df = self.sql(select)
        parts = _parse_partition_spec(parts_text, df.columns)
        clus = self._parse_cluster_spec(clus_text, df.columns, parts)
        # snapshot staged state up front (cheap ref reads) so ANY failed
        # CTAS rolls back to exactly what it found — for REPLACE that
        # covers the constraint/mapping deletions, which must be staged
        # BEFORE the write (so the new data isn't validated against the
        # old table's constraints) but must not linger to be swept into
        # the next unrelated COMMIT if the write or commit fails
        cpath = self.repo._constraints_path(name)
        spath = self.repo._schema_map_path(name)
        ppath = self.repo._tblprops_path(name)
        mpath = self.repo._colmeta_path(name)
        rpath = self.repo._copyinto_path(name)
        obj_snap = self.repo.staged_object_entry(self.branch, cpath)
        smap_snap = self.repo.staged_object_entry(self.branch, spath)
        props_snap = self.repo.staged_object_entry(self.branch, ppath)
        meta_snap = self.repo.staged_object_entry(self.branch, mpath)
        reg_snap = self.repo.staged_object_entry(self.branch, rpath)
        tbl_snap = self.repo.staged_entry(self.branch, name)
        if replace and table.lower() in existing:
            # REPLACE defines a NEW table: the old one's CHECK
            # constraints, column mapping, TBLPROPERTIES, column
            # metadata AND the COPY INTO loaded-file registry must not
            # leak onto it (Delta semantics; r12 review — a stale
            # registry silently skipped re-ingesting landed files into
            # the replacement table)
            self.repo._drop_companion_objects(self.branch, name)
        try:
            if parts:
                # staged FIRST so write_table's spec lookup partitions
                # this very write; props_snap above rolls it back
                self.repo._stage_partition_spec(self.branch, name, parts)
            if clus:
                self.repo._stage_cluster_spec(self.branch, name, clus)
            rel = self.repo.write_table(self.branch, name, df, mode="overwrite")
            c = self.repo.commit(self.branch, f"SQL: CREATE TABLE {name} AS SELECT")
            rows = self._written_rows(rel, df)
        except Exception:
            self.repo.restore_staged_object_entry(self.branch, cpath, obj_snap)
            self.repo.restore_staged_object_entry(self.branch, spath, smap_snap)
            self.repo.restore_staged_object_entry(self.branch, ppath, props_snap)
            self.repo.restore_staged_object_entry(self.branch, mpath, meta_snap)
            self.repo.restore_staged_object_entry(self.branch, rpath, reg_snap)
            self.repo.restore_staged_entry(self.branch, name, tbl_snap)
            raise
        return self._dml_result(name, c.version, rows)

    def _create_table_schema(
        self,
        table: str,
        cols_text: str,
        replace: bool,
        parts_text: str | None = None,
        clus_text: str | None = None,
    ) -> DataFrame:
        """``CREATE [OR REPLACE] TABLE t (col TYPE [GENERATED ALWAYS AS
        IDENTITY [(START WITH s [INCREMENT BY k])] | DEFAULT expr] [NOT
        NULL], ...) [PARTITIONED BY (c, ...)]`` (r12; PARTITIONED BY
        r13) — the explicit-schema creation Delta users write, and
        Delta's CANONICAL home for IDENTITY declarations (Delta only
        allows identity at CREATE TABLE; the ALTER spelling remains this
        engine's extension for existing tables). Creates an EMPTY
        versioned table in one commit with identity/default
        registrations, NOT NULL (stored as the equivalent CHECK
        constraint, enforced by the existing write-path machinery), and
        the declared partition spec (honored by every future write)."""
        import json

        existing = {t.lower() for t in self.repo.list_tables(self.branch)}
        if table.lower() in existing and not replace:
            raise ValueError(
                f"table {table!r} already exists on {self.branch!r}; "
                "use CREATE OR REPLACE TABLE"
            )
        self._reject_view_collision(table)
        name = (
            self._resolve_table(table)
            if table.lower() in existing
            else table.lower()
        )
        defs: list[tuple[str, str]] = []
        identity: dict[str, dict] = {}
        defaults: dict[str, str] = {}
        not_null: list[str] = []
        seen: set[str] = set()
        for part in _split_coldefs(cols_text):
            parsed = _parse_coldef(part)
            if parsed is None:
                raise ValueError(
                    f"CREATE TABLE: cannot parse column definition "
                    f"{part.strip()!r}"
                )
            col, typ, rest = parsed
            if col.lower() in seen:
                raise ValueError(f"CREATE TABLE: duplicate column {col!r}")
            seen.add(col.lower())
            while rest:
                mi = _COLDEF_IDENTITY_RE.match(rest)
                if mi:
                    if col.lower() in identity:
                        raise ValueError(
                            f"CREATE TABLE: duplicate IDENTITY clause "
                            f"on column {col!r}"
                        )
                    identity[col.lower()] = self.repo.build_identity_entry(
                        col,
                        typ,
                        int(mi.group("start") or 1),
                        int(mi.group("step") or mi.group("step2") or 1),
                        always=mi.group("mode").upper() == "ALWAYS",
                    )
                    rest = (mi.group("rest") or "").strip()
                    continue
                md = _COLDEF_DEFAULT_RE.match(rest)
                if md:
                    if col.lower() in defaults:
                        raise ValueError(
                            f"CREATE TABLE: duplicate DEFAULT clause "
                            f"on column {col!r}"
                        )
                    defaults[col.lower()] = md.group("expr").strip()
                    rest = (md.group("rest") or "").strip()
                    continue
                mn = _COLDEF_NOT_NULL_RE.match(rest)
                if mn:
                    if col in not_null:
                        raise ValueError(
                            f"CREATE TABLE: duplicate NOT NULL clause "
                            f"on column {col!r}"
                        )
                    not_null.append(col)
                    rest = (mn.group("rest") or "").strip()
                    continue
                raise ValueError(
                    f"CREATE TABLE: unsupported clause {rest!r} on "
                    f"column {col!r} (supported: GENERATED ALWAYS AS "
                    f"IDENTITY, DEFAULT expr, NOT NULL)"
                )
            if col.lower() in identity and col.lower() in defaults:
                raise ValueError(
                    f"CREATE TABLE: column {col!r} cannot be both "
                    "IDENTITY and DEFAULT"
                )
            defs.append((col, typ))
        parts = _parse_partition_spec(parts_text, [c for c, _ in defs])
        for p in parts:
            if p.lower() in identity:
                raise ValueError(
                    f"PARTITIONED BY: column {p!r} is IDENTITY — "
                    "partitioning on an engine-allocated monotonic key "
                    "would create one directory per row"
                )
        clus = self._parse_cluster_spec(
            clus_text, [c for c, _ in defs], parts
        )
        ddl = ", ".join(f"`{c}` {t}" for c, t in defs)
        # schema validation (raises on garbage types) + the empty frame
        # (coalesced: no point writing an empty table with one task per
        # default-parallelism partition)
        empty = local_df(self.spark, [], ddl).repartition(1)
        types = {f.name.lower(): f.dataType for f in empty.schema.fields}
        for col_l, expr in defaults.items():
            # self-contained DEFAULT validation, as in alter_set_default
            self.spark.range(1).select().select(
                F.expr(expr).cast(types[col_l])
            )

        cpath = self.repo._constraints_path(name)
        mpath = self.repo._colmeta_path(name)
        with self._colmeta_rollback(
            name,
            extra_paths=(
                cpath,
                self.repo._schema_map_path(name),
                self.repo._tblprops_path(name),
                self.repo._copyinto_path(name),
            ),
        ):
            if replace and table.lower() in existing:
                # a REPLACE defines a NEW table: constraints, mapping,
                # properties, column metadata AND the COPY INTO loaded-
                # file registry must not leak (r12 review: a stale
                # registry silently skipped re-ingesting files into the
                # replacement table)
                self.repo._drop_companion_objects(self.branch, name)
            # the empty write stays FLAT on purpose (a 0-row partitionBy
            # write produces no schema-carrier file); the spec is staged
            # right after, so the first INSERT partitions
            self.repo.write_table(self.branch, name, empty, mode="overwrite")
            if parts:
                self.repo._stage_partition_spec(self.branch, name, parts)
            if clus:
                self.repo._stage_cluster_spec(self.branch, name, clus)
            if identity or defaults:
                self.repo.put_object(
                    self.branch,
                    mpath,
                    json.dumps(
                        {"defaults": defaults, "identity": identity}
                    ),
                )
            if not_null:
                cons = {
                    f"{c.lower()}_not_null": f"{c} IS NOT NULL"
                    for c in not_null
                }
                self.repo.put_object(self.branch, cpath, json.dumps(cons))
            c = self.repo.commit(
                self.branch, f"SQL: CREATE TABLE {name} (schema)"
            )
        return self._dml_result(name, c.version, 0)

    def _default_expr(
        self, defaults: dict[str, str], field
    ):
        """The fill expression for an omitted stored column: its
        DEFAULT when one is declared (r12, validated self-contained at
        ALTER time), else NULL — both cast to the column type."""
        e = defaults.get(field.name.lower())
        base = F.expr(e) if e is not None else F.lit(None)
        return base.cast(field.dataType).alias(field.name)

    def _aligned_select(
        self, src: DataFrame, plan: list, defaults: dict[str, str]
    ) -> DataFrame:
        """Positional cast+rename projection in ONE ``selectExpr`` call
        (r15, VERDICT r14 #2): the per-column ``F.col().cast().alias()``
        spelling costs ~4 py4j round-trips per column per statement; the
        parsed SQL strings build the identical Cast/Alias trees in one
        round trip. ``plan`` is ``[(src_col | None, target_field), ...]``
        — None means fill from the column's DEFAULT (else NULL). Falls
        back to the Column path when the DDL spelling cannot express a
        type (``simpleString`` does not quote struct-inner field names),
        so behavior is unchanged wherever the fast path cannot hold."""

        def q(name: str) -> str:
            return "`" + name.replace("`", "``") + "`"

        try:
            exprs = []
            for src_col, f in plan:
                ddl = f.dataType.simpleString()
                if src_col is not None:
                    exprs.append(f"CAST({q(src_col)} AS {ddl}) AS {q(f.name)}")
                else:
                    e = defaults.get(f.name.lower())
                    inner = f"({e})" if e is not None else "NULL"
                    exprs.append(f"CAST({inner} AS {ddl}) AS {q(f.name)}")
            return src.selectExpr(*exprs)
        except Exception:
            return src.select(
                *[
                    F.col(src_col).cast(f.dataType).alias(f.name)
                    if src_col is not None
                    else self._default_expr(defaults, f)
                    for src_col, f in plan
                ]
            )

    @contextmanager
    def _colmeta_rollback(self, name: str, extra_paths: tuple = ()):
        """All-or-nothing rollback for an identity-allocating write: if
        the wrapped write/commit fails, restore the staged colmeta
        object (the high-water-mark bump `_fill_identity` stages), the
        staged TABLE entry, and any extra staged objects (COPY INTO's
        registry) to their pre-entry snapshots. Restoring only the hwm
        would leave staged data files carrying allocated values the
        rolled-back mark will hand out again — duplicate identities on
        the retry (r12 review). Enter BEFORE `_fill_identity`, exit
        after the commit."""
        paths = (self.repo._colmeta_path(name),) + tuple(extra_paths)
        snaps = [
            (p, self.repo.staged_object_entry(self.branch, p)) for p in paths
        ]
        tbl_snap = self.repo.staged_entry(self.branch, name)
        try:
            yield
        except Exception:
            for p, s in snaps:
                self.repo.restore_staged_object_entry(self.branch, p, s)
            self.repo.restore_staged_entry(self.branch, name, tbl_snap)
            raise

    def _fill_identity(
        self, name: str, df: DataFrame, store_fields, ids: dict, n: int
    ) -> DataFrame:
        """Append the identity columns to a frame carrying the other
        stored columns (r12): reserve ``n`` values per identity column
        (one exact high-water-mark bump, staged into the caller's
        commit), number the batch with the scale-safe range-partition
        row numbering, and emit ``store_fields`` order. Numbering
        follows the total order of the non-identity columns, so the
        assignment is deterministic up to indistinguishable duplicate
        rows — cost ∝ the batch, never the table."""
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.windows import global_row_number_scalable

        from pyspark.sql.types import ArrayType, MapType, StructType

        # MAP-bearing columns are not orderable (Spark refuses a sort on
        # them, even nested inside arrays/structs) — drop them from the
        # assignment order; the numbering is then deterministic up to
        # rows identical in every orderable column (r13: identity INSERT
        # into a table with a MAP column crashed)
        def _orderable(dt) -> bool:
            if isinstance(dt, MapType):
                return False
            if isinstance(dt, ArrayType):
                return _orderable(dt.elementType)
            if isinstance(dt, StructType):
                return all(_orderable(f.dataType) for f in dt.fields)
            return True

        order_cols = [
            f.name
            for f in store_fields
            if f.name.lower() not in ids and _orderable(f.dataType)
        ]
        if not order_cols:
            raise ValueError(
                f"{name!r}: a table whose stored columns are all identity "
                "columns or unorderable (MAP) columns has no deterministic "
                "assignment order"
            )
        out = global_row_number_scalable(df, order_cols, out="__lg_idrow")
        by_lower = {f.name.lower(): f for f in store_fields}
        for col_l, ent in sorted(ids.items()):
            first = self.repo.allocate_identity(self.branch, name, col_l, n)
            f = by_lower[col_l]
            out = out.withColumn(
                f.name,
                (
                    F.lit(first)
                    + (F.col("__lg_idrow") - 1) * F.lit(ent["step"])
                ).cast(f.dataType),
            )
        return out.select(*[f.name for f in store_fields])

    def _aligned_insert_source(
        self, name: str, body: str, cols: str | None
    ) -> tuple[DataFrame, list, dict]:
        """Shared INSERT source preparation (INSERT INTO and REPLACE
        WHERE): evaluate the VALUES/SELECT body, align it positionally
        to the table's insertable columns with a cast to the target
        schema (Delta semantics); with an explicit column list the
        values align to the NAMED columns and every unnamed stored
        column takes its DEFAULT (else NULL). GENERATED columns are
        recomputed on read and IDENTITY columns are engine-allocated —
        neither is ever provided. Returns (aligned, store_fields, ids);
        when ``ids`` is non-empty the caller must run the aligned frame
        through ``_fill_identity`` under ``_colmeta_rollback``."""
        target = self.repo.read_table(self.spark, name, ref=self.branch, include_staged=True)
        if body.lstrip()[:6].upper() == "VALUES":
            src = self.spark.sql(f"SELECT * FROM {body}")
        else:
            src = self.sql(body)
        gen = self.repo._generated_names(
            self.repo.table_schema_map(name, ref=self.branch)
        )
        meta = self.repo.column_metadata(name, self.branch)
        ids, defaults = meta["identity"], meta["defaults"]
        store_fields = [
            f for f in target.schema.fields if f.name.lower() not in gen
        ]
        # GENERATED BY DEFAULT identity columns (Delta parity) are
        # insertable when EXPLICITLY NAMED in the column list — their
        # provided values land as-is (no allocation, no high-water bump;
        # SYNC IDENTITY realigns the mark). ALWAYS columns and unnamed
        # BY DEFAULT columns stay engine-allocated.
        byd = {c for c, e in ids.items() if not e.get("always", True)}
        fields = [
            f for f in store_fields if f.name.lower() not in ids
        ]
        ids_fill = dict(ids)
        if cols is not None:
            insertable = [
                f
                for f in store_fields
                if f.name.lower() not in ids or f.name.lower() in byd
            ]
            resolved = {f.name.lower(): f for f in insertable}
            named: list = []
            for c in _split_top_level(cols):
                key = c.strip().strip("`").lower()
                if key not in resolved:
                    raise KeyError(
                        f"INSERT {name!r}: no insertable column {c.strip()!r}"
                        + (
                            f" (GENERATED {sorted(gen)} are computed)"
                            if key in gen
                            else ""
                        )
                        + (
                            " (GENERATED ALWAYS AS IDENTITY — the engine "
                            "allocates it)"
                            if key in ids
                            else ""
                        )
                    )
                f = resolved[key]
                if f in named:
                    raise ValueError(f"INSERT: duplicate column {f.name!r}")
                named.append(f)
            if len(src.columns) != len(named):
                raise ValueError(
                    f"INSERT column list names {len(named)} columns but "
                    f"{len(src.columns)} values are provided for {name!r}"
                )
            # rename POSITIONALLY first (toDF): alignment must not care
            # that the source repeats a column name (SELECT a, a) — a
            # by-name mapping would hit an ambiguous-reference error
            src = src.toDF(*[f"__ins{i}" for i in range(len(src.columns))])
            by_field = dict(zip((f.name for f in named), src.columns))
            provided_byd = {f.name.lower() for f in named} & byd
            ids_fill = {c: e for c, e in ids.items() if c not in provided_byd}
            sel_fields = [
                f
                for f in insertable
                if f.name.lower() not in byd or f.name.lower() in provided_byd
            ]
            aligned = self._aligned_select(
                src,
                [(by_field.get(f.name), f) for f in sel_fields],
                defaults,
            )
        else:
            if len(src.columns) != len(fields):
                raise ValueError(
                    f"INSERT column count {len(src.columns)} != target arity "
                    f"{len(fields)} for {name!r}"
                    + (f" (GENERATED {sorted(gen)} are computed, not inserted)" if gen else "")
                    + (
                        f" (IDENTITY {sorted(ids)} are engine-allocated, "
                        "not inserted)"
                        if ids
                        else ""
                    )
                )
            src = src.toDF(*[f"__ins{i}" for i in range(len(src.columns))])
            aligned = self._aligned_select(
                src, list(zip(src.columns, fields)), defaults
            )
        return aligned, store_fields, ids_fill

    def _insert(
        self, table: str, body: str, cols: str | None = None
    ) -> DataFrame:
        """``INSERT INTO t [(c1, c2, ...)] SELECT ... | VALUES (...),
        ...`` — alignment semantics in ``_aligned_insert_source``;
        append-mode schema policy enforced by write_table."""
        name = self._resolve_table(table)
        aligned, store_fields, ids = self._aligned_insert_source(
            name, body, cols
        )
        if not ids:
            rel = self.repo.write_table(self.branch, name, aligned, mode="append")
            c = self.repo.commit(self.branch, f"SQL: INSERT INTO {name}")
            return self._dml_result(name, c.version, self._written_rows(rel, aligned))
        # identity path: PIN the frame before counting — the reserved
        # range must cover exactly the rows the write lands, and an
        # unpersisted nondeterministic source re-executing for the
        # write could land a different row count (r12 review); the
        # staged high-water bump rolls back if the write or commit
        # fails, keeping the branch clean
        cached = aligned.persist()
        try:
            rows = cached.count()
            with self._colmeta_rollback(name):
                filled = self._fill_identity(
                    name, cached, store_fields, ids, rows
                )
                self.repo.write_table(self.branch, name, filled, mode="append")
                c = self.repo.commit(self.branch, f"SQL: INSERT INTO {name}")
        finally:
            cached.unpersist(blocking=False)
        return self._dml_result(name, c.version, rows)

    def _insert_replace(self, table: str, cond: str, body: str) -> DataFrame:
        """``INSERT INTO t REPLACE WHERE cond SELECT ...`` — Delta's
        atomic partition/predicate-scoped overwrite: rows matching
        ``cond`` are deleted and the source rows land, in ONE commit.
        Delta's safety rule is enforced: every inserted row must itself
        satisfy ``cond`` (otherwise the statement's meaning depends on
        evaluation order) — violators reject the whole statement.

        Scale shape: the delete half rides the SAME file-pruning split
        as DELETE — entries whose manifests prove no row matches carry
        by reference (on a declared-partitioned table, a partition-
        aligned cond rewrites only the matching partition dirs); the
        insert half is one append. Both land in one staged unit, so a
        reader never sees the gap between delete and insert."""
        name = self._resolve_table(table)
        if not self._dv_routable(cond):
            # cond is bound with raw F.expr on DataFrames (violation
            # check + delete filters), where a subquery's table names
            # resolve against the SPARK SESSION CATALOG, not the repo
            # rewriter — a user temp view named like a repo table would
            # silently change which rows are replaced. Same refusal as
            # the DV DML route; Delta's replaceWhere likewise accepts
            # only plain data-column predicates.
            raise ValueError(
                f"INSERT INTO {name!r} REPLACE WHERE: the condition may "
                "not contain a subquery (SELECT) — it is evaluated "
                "outside the repo rewriter"
            )
        aligned, store_fields, ids = self._aligned_insert_source(
            name, body, None
        )
        cached = aligned.persist()
        try:
            n_ins = cached.count()
            viol = cached.filter(F.expr(f"({cond}) IS NOT TRUE")).count()
            if viol:
                raise ValueError(
                    f"INSERT INTO {name!r} REPLACE WHERE: {viol} source "
                    f"row(s) do NOT satisfy the condition ({cond}) — "
                    "Delta semantics require every inserted row to match "
                    "the replaced predicate"
                )
            split = self._prune_split(name, cond)
            # the statement stages in steps (delete overwrite/stage,
            # insert append, commit); a failure after the delete half is
            # staged (ConstraintViolation, identity overflow) would
            # leave a delete-only staged state that the branch's next
            # COMMIT silently sweeps in — silent data loss. Snapshot the
            # pre-statement staged entries and restore them on ANY
            # failure, the _delete pruned-path discipline. The __dv__
            # companion must ride along: the delete half's overwrite
            # stages a DV drop (write_table's obsolete-vector rule), and
            # restoring only the table entry would leave that orphaned
            # drop to resurrect DV-deleted rows (r14 review).
            snap = self.repo.staged_entry(self.branch, name)
            dv_snap = self.repo.staged_entry(self.branch, DV_PREFIX + name)
            try:
                if split is not None:
                    safe, cand, info = split
                    steps = self.repo.table_schema_map(name, ref=self.branch)
                    files = list(safe)
                    deleted = 0
                    if cand:
                        cand_df = self.repo._read_files(
                            self.spark, cand, merge_schema=bool(steps)
                        )
                        if steps:
                            cand_df = self.repo.apply_schema_map(cand_df, steps)
                        kept = cand_df.filter(F.expr(f"({cond}) IS NOT TRUE"))
                        kept_n = kept.count()
                        before = info.get("candidate_rows")
                        if before is None:
                            before = cand_df.count()
                        if kept_n > 0:
                            files.append(
                                self.repo.write_table(
                                    self.branch, name, kept, mode="overwrite"
                                )
                            )
                        deleted = before - kept_n
                    self.repo.stage_table_files(self.branch, name, files)
                else:
                    cur = self.repo.read_table(
                        self.spark, name, ref=self.branch, include_staged=True
                    )
                    kept = cur.filter(F.expr(f"({cond}) IS NOT TRUE"))
                    kept_n = kept.count()
                    deleted = cur.count() - kept_n
                    self.repo.write_table(
                        self.branch, name, kept, mode="overwrite"
                    )
                if ids:
                    with self._colmeta_rollback(name):
                        filled = self._fill_identity(
                            name, cached, store_fields, ids, n_ins
                        )
                        self.repo.write_table(
                            self.branch, name, filled, mode="append"
                        )
                        c = self.repo.commit(
                            self.branch,
                            f"SQL: INSERT INTO {name} REPLACE WHERE",
                        )
                else:
                    self.repo.write_table(
                        self.branch, name, cached, mode="append"
                    )
                    c = self.repo.commit(
                        self.branch, f"SQL: INSERT INTO {name} REPLACE WHERE"
                    )
            except Exception:
                self.repo.restore_staged_entry(self.branch, name, snap)
                self.repo.restore_staged_entry(
                    self.branch, DV_PREFIX + name, dv_snap
                )
                raise
        finally:
            cached.unpersist(blocking=False)
        return local_df(self.spark,
            [(name, c.version, int(deleted), int(n_ins))],
            "table STRING, version INT, num_deleted LONG, "
            "num_inserted LONG",
        )

    def _prune_split(self, name: str, cond: str | None):
        """(safe, candidate, info) file split for a DML condition, or
        None when file pruning can't help: no condition, predicate not
        fully parseable (a conservatively-recovered predicate still
        prunes reads safely, but DML must RE-EXECUTE the condition
        outside the SQL rewriter, so only fully-understood ones
        qualify), or no file proved safe (plain rewrite is equal work)."""
        if cond is None:
            return None
        try:
            # a live deletion vector disqualifies the pruned path: it
            # reads candidate files RAW and carries safe files by
            # reference while its overwrite drops the vector — both
            # would resurrect DV-deleted rows. The full-rewrite path
            # reads through read_table (vector applied) and its
            # overwrite MATERIALIZES the deletions — correct, and the
            # natural point where the vector retires.
            self.repo.current_files(self.branch, DV_PREFIX + name)
            return None
        except KeyError:
            pass
        pred = stats_mod.parse_predicate(cond)
        if pred is None or not stats_mod.fully_supported(pred):
            return None
        try:
            # include_staged=True: branch reads (and hence the full-rewrite
            # path's SELECT, whose views are staged-aware) see uncommitted
            # staged state, so the pruned path must start from the same
            # file list — otherwise a DELETE's result would depend on
            # whether its predicate parsed
            files = self.repo.current_files(self.branch, name, include_staged=True)
        except KeyError:
            return None
        res = stats_mod.prune_file_list(self.repo.root, files, cond)
        if res is None:
            return None
        safe, cand, info = res
        if not safe:
            return None
        return safe, cand, info

    def _delete(self, table: str, cond: str | None) -> DataFrame:
        """DELETE FROM t [WHERE cond] — rows where cond IS TRUE are
        removed (NULL-condition rows survive, ANSI DELETE semantics);
        the snapshot is rewritten and committed. The condition runs
        through the rewriter, so subqueries on repo tables work.

        With a simple condition (comparisons/BETWEEN/IN/IS NULL over
        AND/OR), footer min/max stats prune the rewrite to only the
        files that may hold matching rows; provably match-free files are
        carried into the new commit by reference — zero bytes rewritten
        for them, the Delta data-skipping cost model. Any failure in the
        pruned path falls back to the full rewrite."""
        name = self._resolve_table(table)
        if cond is not None and self._dv_enabled(name) and self._dv_routable(cond):
            out = self._try_dv_dml(
                name, lambda: self.repo.delete_where_dv(
                    self.spark, self.branch, name, cond
                ), "dv_delete", "DELETE FROM",
            )
            if out is not None:
                return out
        split = self._prune_split(name, cond)
        if split is not None:
            # snapshot the staged entry first: the pruned path mutates
            # staged state in two steps (write_table stages only the
            # rewritten candidate rows, stage_table_files then restores
            # the safe files) — a failure between them would make the
            # include_staged fallback read a snapshot missing every
            # safe-file row and commit silent loss
            snap = self.repo.staged_entry(self.branch, name)
            try:
                return self._delete_pruned(name, cond, *split)
            except ConstraintViolation:
                self.repo.restore_staged_entry(self.branch, name, snap)
                raise  # the full rewrite would fail identically — don't pay it
            except Exception:
                # fall back to the always-correct full rewrite — from the
                # SAME staged state the pruned attempt started from
                self.repo.restore_staged_entry(self.branch, name, snap)
        keep_where = f"({cond}) IS NOT TRUE" if cond else "FALSE"
        total = self.sql(f"SELECT * FROM {name}").count()
        kept = self.sql(f"SELECT * FROM {name} WHERE {keep_where}")
        rows = total - kept.count()
        self.repo.write_table(self.branch, name, kept, mode="overwrite")
        c = self.repo.commit(self.branch, f"SQL: DELETE FROM {name}")
        return self._dml_result(name, c.version, rows)

    @staticmethod
    def _dv_routable(*texts: str | None) -> bool:
        """A DV DML binds its texts on a RAW lineage read, where any
        subquery's table names resolve against the SPARK SESSION CATALOG
        instead of the repo rewriter — a user temp view named like a
        repo table would silently change which rows match (the rewriter
        scopes its own views under lake__ precisely to coexist with
        user views). Any embedded SELECT therefore disqualifies the DV
        route up front; plain column expressions can't reach foreign
        tables."""
        return not any(
            t is not None and re.search(r"\bSELECT\b", t, re.IGNORECASE)
            for t in texts
        )

    def _try_dv_dml(self, name: str, op, meta_key: str, stmt: str) -> DataFrame | None:
        """Run a deletion-vector DML; None means "fall back to the
        rewrite path". Declines on a dirty branch (the DV paths refuse
        it — the auto-commit must contain only the vector change; at
        that point nothing is staged, so the rewrite path proceeds from
        untouched state). A failure AFTER staging is reset — the branch
        was provably clean, so reset loses nothing — otherwise the
        half-staged vector would ride the fallback's commit.
        ConstraintViolation re-raises after the reset: the full rewrite
        would fail identically — don't pay it (the pruned paths'
        convention). A no-op match still lands a version over the
        unchanged file list, preserving the every-DML-commits invariant
        the rewrite paths guarantee."""
        before = self.repo.head(self.branch).version
        try:
            c = op()
        except DirtyBranchError:
            return None  # nothing staged yet; rewrite path handles dirty
        except ValueError:
            raise  # real user errors (bad SET targets) must surface
        except ConstraintViolation:
            self.repo.reset(self.branch)
            raise
        except Exception:
            self.repo.reset(self.branch)
            return None
        if c.version == before:
            # matched nothing: the vector stays unborn, but every DML
            # lands a version (same rule as _delete_pruned's no-op)
            self.repo.stage_table_files(
                self.branch, name, self.repo.current_files(self.branch, name)
            )
            c = self.repo.commit(self.branch, f"SQL: {stmt} {name}")
            return self._dml_result(name, c.version, 0)
        rows = int(c.meta.get(meta_key, {}).get("rows", 0))
        return self._dml_result(name, c.version, rows)

    def _merge_dup_guard(
        self, tview: str, sview: str, t_keys: list[str], s_keys: list[str]
    ) -> None:
        """Delta's multiple-match guard, shared by the rewrite and DV
        MERGE paths (one definition so the matching rule can never
        diverge between them): raise on duplicate source keys that
        actually HIT a target row — duplicate never-matching keys are
        legal (a multi-row insert sharing a new key)."""
        key_list = ", ".join(f"`{k}`" for k in s_keys)
        t_key_list = ", ".join(f"`{k}`" for k in t_keys)
        dup = self.spark.sql(
            f"SELECT 1 FROM (SELECT {key_list} FROM {sview} "
            f"GROUP BY {key_list} HAVING COUNT(*) > 1) d "
            f"LEFT SEMI JOIN (SELECT {t_key_list} FROM {tview}) t ON "
            + " AND ".join(
                f"d.`{sk}` = t.`{tk}`" for tk, sk in zip(t_keys, s_keys)
            )
        )
        if dup.take(1):
            raise ValueError(
                "MERGE source has multiple rows per join key that match "
                "a target row — ambiguous (Delta raises here too)"
            )

    def _merge_dv_op(
        self,
        name: str,
        ta: str,
        sa: str,
        sdf: DataFrame,
        t_keys: list[str],
        s_keys: list[str],
        m_clauses: list[tuple[str | None, str, dict[str, str] | None]],
        i_clauses: list[tuple[str | None, dict[str, str]]],
        bs_clauses: list[tuple[str | None, str, dict[str, str] | None]],
    ):
        """Deletion-vector MERGE executor (Delta's DV-enabled MERGE):
        WHEN-MATCHED rows become (file, pos) vector positions — plus,
        for UPDATE, their rewritten images — and NOT-MATCHED inserts
        append, ALL in one commit with ZERO existing-file rewrites. An
        upsert touching a handful of rows in a huge table costs a few
        vector rows + one small appended file instead of a full snapshot
        rewrite. CDC needs no new machinery: vector append + file
        append is the standard delete+insert change pair, identical in
        shape to ``update_where_dv``.

        Called through ``_try_dv_dml`` so the fallback discipline (clean
        branch required, reset on failure, ValueError surfaces, no-op
        still lands a version) is shared with DELETE/UPDATE routing.
        Returns the unchanged head for a no-op. Like the other DV DML
        paths, returns the DML commit itself — under
        ``dv_materialize_fraction`` a trailing data_change=false commit
        may follow (``repo.last_maintenance_commit``)."""
        repo, spark, branch = self.repo, self.spark, self.branch
        if repo._is_dirty(repo._read_ref(branch)):
            raise DirtyBranchError(
                f"MERGE INTO {name} (dv): uncommitted staged changes; "
                f"the rewrite path handles dirty branches"
            )
        smap = repo.table_schema_map(name, ref=branch)
        entries = repo.current_files(branch, name, include_staged=False)
        df = repo._read_files(
            spark, entries, merge_schema=bool(smap), with_lineage=True
        )
        dv0 = repo.head(branch).tables.get(DV_PREFIX + name)
        if dv0:
            df = repo._apply_dv(spark, df, dv0, keep_lineage=True)
        if smap:
            df = repo.apply_schema_map(df, smap)
        tview, sview = "lake__mdv_t", "lake__mdv_s"
        df.createOrReplaceTempView(tview)
        sdf.createOrReplaceTempView(sview)
        on_sql = " AND ".join(
            f"{ta}.`{tk}` = {sa}.`{sk}`" for tk, sk in zip(t_keys, s_keys)
        )
        stored = [c for c in df.columns if not c.startswith("__lg_")]
        types = {c: df.schema[c].dataType.simpleString() for c in stored}
        matched = None
        inserts = None
        bs = None
        n_matched = 0
        n_ins = 0
        n_bs = 0
        n_m_img = 0
        n_bs_img = 0
        m_upd = [
            i + 1
            for i, (_c, action, _a) in enumerate(m_clauses)
            if action == "update"
        ]
        bs_upd = [
            i + 1
            for i, (_c, action, _a) in enumerate(bs_clauses)
            if action == "update"
        ]
        try:
            if bs_clauses:
                # NOT MATCHED BY SOURCE DELETE/UPDATE: unmatched target
                # rows claimed by a clause go to the vector (UPDATE
                # clauses also append their rewritten images, computed
                # from TARGET columns only — the anti join has no source
                # alias in scope) — an anti-join can't fan out, so no
                # dup guard here. __lg_cl records the winning clause.
                bsel = _first_match_sel([c for c, _a, _x in bs_clauses])
                bs_cols = [
                    f"({bsel}) AS __lg_cl",
                    f"{ta}.`__lg_fp` AS __lg_fp",
                    f"{ta}.`__lg_ri` AS __lg_ri",
                    *_clause_proj_cols(bs_clauses, stored, types, ta),
                ]
                bs = spark.sql(
                    f"SELECT * FROM ("
                    f"SELECT {', '.join(bs_cols)} FROM {tview} {ta} "
                    f"LEFT ANTI JOIN {sview} {sa} ON {on_sql}"
                    f") WHERE __lg_cl > 0"
                ).persist()
                # per-clause counts in ONE job: the total feeds the
                # no-op gate; the update-clause share gates the image
                # append (all-DELETE claims must not append empty files)
                bs_by_cl = {
                    int(r["__lg_cl"]): int(r["n"])
                    for r in bs.groupBy("__lg_cl")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                n_bs = sum(bs_by_cl.values())
                n_bs_img = sum(bs_by_cl.get(i, 0) for i in bs_upd)
            if m_clauses:
                self._merge_dup_guard(tview, sview, t_keys, s_keys)
                msel = _first_match_sel([c for c, _a, _x in m_clauses])
                # persist: the matched frame feeds the no-op count, the
                # position write, and (UPDATE clauses) the image write.
                # Rows claimed by no clause keep their original images
                # untouched (selector 0, filtered in the outer SELECT —
                # the lateral __lg_cl alias is computed once per row).
                proj = [
                    f"({msel}) AS __lg_cl",
                    f"{ta}.`__lg_fp` AS __lg_fp",
                    f"{ta}.`__lg_ri` AS __lg_ri",
                    *_clause_proj_cols(m_clauses, stored, types, ta),
                ]
                matched = spark.sql(
                    f"SELECT * FROM ("
                    f"SELECT {', '.join(proj)} FROM {tview} {ta} "
                    f"JOIN {sview} {sa} ON {on_sql}"
                    f") WHERE __lg_cl > 0"
                ).persist()
                m_by_cl = {
                    int(r["__lg_cl"]): int(r["n"])
                    for r in matched.groupBy("__lg_cl")
                    .agg(F.count(F.lit(1)).alias("n"))
                    .collect()
                }
                n_matched = sum(m_by_cl.values())
                n_m_img = sum(m_by_cl.get(i, 0) for i in m_upd)
            if i_clauses:
                isel = _first_match_sel([c for c, _e in i_clauses])
                icols = [
                    f"({isel}) AS __lg_cl",
                    *_insert_proj_cols(i_clauses, stored, types),
                ]
                stored_sel = ", ".join(f"`{c}`" for c in stored)
                inserts = spark.sql(
                    f"SELECT {stored_sel} FROM ("
                    f"SELECT {', '.join(icols)} FROM {sview} {sa} "
                    f"LEFT ANTI JOIN {tview} {ta} ON {on_sql}"
                    f") WHERE __lg_cl > 0"
                ).persist()
                n_ins = inserts.count()
            if n_matched == 0 and n_ins == 0 and n_bs == 0:
                return repo.head(branch)  # no-op: caller lands the version
            if n_matched or n_bs:
                prefix = "file:" + repo.root + os.sep
                pos_src = None
                if n_matched:
                    pos_src = matched.select("__lg_fp", "__lg_ri")
                if n_bs:
                    bs_pos = bs.select("__lg_fp", "__lg_ri")
                    pos_src = (
                        bs_pos
                        if pos_src is None
                        else pos_src.unionByName(bs_pos)
                    )
                positions = pos_src.select(
                    F.expr(f"substring(__lg_fp, {len(prefix) + 1})").alias(
                        "file"
                    ),
                    F.col("__lg_ri").cast("long").alias("pos"),
                )
                repo.write_table(
                    branch, DV_PREFIX + name, positions,
                    mode="append", _internal=True,
                )
            appended = None
            if m_upd and n_m_img:
                appended = matched.where(
                    F.col("__lg_cl").isin(m_upd)
                ).drop("__lg_fp", "__lg_ri", "__lg_cl")
            if bs_upd and n_bs_img:
                bs_img = bs.where(F.col("__lg_cl").isin(bs_upd)).drop(
                    "__lg_fp", "__lg_ri", "__lg_cl"
                )
                appended = (
                    bs_img if appended is None
                    else appended.unionByName(bs_img)
                )
            if inserts is not None and n_ins:
                appended = (
                    inserts if appended is None
                    else appended.unionByName(inserts)
                )
            if appended is not None:
                try:
                    repo.write_table(branch, name, appended, mode="append")
                except Exception:
                    # never leave half a merge staged: a vector append
                    # without its images/inserts is a plain delete
                    repo.reset(branch)
                    raise
        finally:
            if matched is not None:
                matched.unpersist(blocking=False)
            if inserts is not None:
                inserts.unpersist(blocking=False)
            if bs is not None:
                bs.unpersist(blocking=False)
        c = repo.commit(
            branch,
            f"SQL: MERGE INTO {name}",
            meta={
                "dv_merge": {
                    "table": name, "rows": n_matched + n_ins + n_bs,
                }
            },
        )
        repo._maybe_materialize_dv(spark, branch, name)
        return c

    def _delete_pruned(
        self, name: str, cond: str, safe: list, cand: list, info: dict
    ) -> DataFrame:
        if not cand:
            # no file can hold a matching row: DELETE is a no-op on data;
            # commit the (unchanged) file list so every DML lands a version
            self.repo.stage_table_files(self.branch, name, safe)
            c = self.repo.commit(self.branch, f"SQL: DELETE FROM {name}")
            return self._dml_result(name, c.version, 0)
        # candidate files are read raw, so a column-mapped table needs the
        # same schema-step replay the branch views get from read_table
        steps = self.repo.table_schema_map(name, ref=self.branch)
        cand_df = self.repo._read_files(self.spark, cand, merge_schema=bool(steps))
        if steps:
            cand_df = self.repo.apply_schema_map(cand_df, steps)
        kept = cand_df.filter(F.expr(f"({cond}) IS NOT TRUE"))
        kept_n = kept.count()
        before = info.get("candidate_rows")
        if before is None:
            before = cand_df.count()
        files = list(safe)
        if kept_n > 0:
            files.append(
                self.repo.write_table(self.branch, name, kept, mode="overwrite")
            )
        self.repo.stage_table_files(self.branch, name, files)
        c = self.repo.commit(self.branch, f"SQL: DELETE FROM {name}")
        return self._dml_result(name, c.version, before - kept_n)

    def _update(self, table: str, sets: str, cond: str | None) -> DataFrame:
        """UPDATE t SET c = expr, ... [WHERE cond] — rewritten as one
        projection (CASE WHEN cond IS TRUE THEN expr ELSE c END, cast
        back to the column's type so the table schema never drifts).
        Generated column references are backticked, so a column named
        like a repo table survives the lexical table rewrite."""
        name = self._resolve_table(table)
        target = self.repo.read_table(self.spark, name, ref=self.branch, include_staged=True)
        id_cols = self.repo.identity_columns(name, self.branch)
        gen_cols = self.repo._generated_names(
            self.repo.table_schema_map(name, ref=self.branch)
        )
        resolved = {f.name.lower(): f.name for f in target.schema.fields}
        assigns: dict[str, str] = {}
        for part in _split_top_level(sets):
            m = _ASSIGN_RE.match(part)
            if not m:
                raise ValueError(f"cannot parse SET assignment: {part!r}")
            col = m.group("col")
            if col.lower() not in resolved:
                raise KeyError(f"UPDATE {name!r}: no column {col!r}")
            if col.lower() in gen_cols:
                raise ValueError(
                    f"UPDATE {name!r}: column {col!r} is GENERATED and "
                    "recomputed on read; update its source columns instead"
                )
            if col.lower() in id_cols:
                mode = (
                    "ALWAYS"
                    if id_cols[col.lower()].get("always", True)
                    else "BY DEFAULT"
                )
                raise ValueError(
                    f"UPDATE {name!r}: column {col!r} is GENERATED "
                    f"{mode} AS IDENTITY — identity columns are never "
                    "assignable"
                )
            assigns[resolved[col.lower()]] = m.group("expr").strip()
        if (
            cond is not None
            and self._dv_enabled(name)
            and self._dv_routable(cond, *assigns.values())
        ):
            # conditioned UPDATE → vector-append + image-append commit
            # (a condition-less UPDATE touches every row: the rewrite IS
            # the cheaper spelling there, so it keeps that path)
            out = self._try_dv_dml(
                name, lambda: self.repo.update_where_dv(
                    self.spark, self.branch, name, cond, assigns
                ), "dv_update", "UPDATE",
            )
            if out is not None:
                return out
        guard = f"({cond}) IS TRUE" if cond else "TRUE"
        proj = []
        for f in target.schema.fields:
            if f.name in assigns:
                proj.append(
                    f"CAST(CASE WHEN {guard} THEN ({assigns[f.name]}) "
                    f"ELSE `{f.name}` END AS {f.dataType.simpleString()}) AS `{f.name}`"
                )
            else:
                proj.append(f"`{f.name}`")
        split = self._prune_split(name, cond)
        if split is not None:
            # same staged-state snapshot discipline as _delete: the pruned
            # path's half-mutated staging must never leak into the fallback
            snap = self.repo.staged_entry(self.branch, name)
            try:
                return self._update_pruned(name, guard, proj, *split)
            except ConstraintViolation:
                self.repo.restore_staged_entry(self.branch, name, snap)
                raise  # the full rewrite would fail identically — don't pay it
            except Exception:
                # SET expressions the pruned path can't run → full rewrite,
                # from the same staged state the pruned attempt started from
                self.repo.restore_staged_entry(self.branch, name, snap)
        rows = self.sql(f"SELECT * FROM {name} WHERE {guard}").count()
        updated = self.sql(f"SELECT {', '.join(proj)} FROM {name}")
        self.repo.write_table(self.branch, name, updated, mode="overwrite")
        c = self.repo.commit(self.branch, f"SQL: UPDATE {name}")
        return self._dml_result(name, c.version, rows)

    def _update_pruned(
        self, name: str, guard: str, proj: list, safe: list, cand: list, info: dict
    ) -> DataFrame:
        """Rewrite only files whose stats overlap the UPDATE condition;
        files that provably hold no matching row carry by reference.
        Raises (→ caller falls back) when a SET expression needs the SQL
        rewriter (e.g. a subquery on a repo table)."""
        rows = 0
        files = list(safe)
        if cand:
            steps = self.repo.table_schema_map(name, ref=self.branch)
            cand_df = self.repo._read_files(self.spark, cand, merge_schema=bool(steps))
            if steps:
                cand_df = self.repo.apply_schema_map(cand_df, steps)
            rows = cand_df.filter(F.expr(guard)).count()
            updated = cand_df.selectExpr(*proj)
            files.append(
                self.repo.write_table(self.branch, name, updated, mode="overwrite")
            )
        self.repo.stage_table_files(self.branch, name, files)
        c = self.repo.commit(self.branch, f"SQL: UPDATE {name}")
        return self._dml_result(name, c.version, rows)

    def _commit_result(self, c: Commit) -> DataFrame:
        """The one-row result of a statement that published ``c``."""
        return local_df(
            self.spark,
            [(c.version, c.id, c.message)],
            "version INT, commit_id STRING, message STRING",
        )

    def sql(self, query: str) -> DataFrame:
        """Run one statement. The first ``_STATEMENTS`` row whose matcher
        accepts ``query`` handles it; a handler that returns ``None``
        declines and dispatch goes on down the table. A statement no row
        claims is a query for the SELECT rewriter (``_select``)."""
        for match, handler in _STATEMENTS:
            m = match(query)
            if m is None:
                continue
            out = handler(self, m)
            if isinstance(out, Commit):
                return self._commit_result(out)
            if out is not None:
                return out
        return self._select(query)

    # -- statement handlers: ``handler(self, match)`` rows of _STATEMENTS --
    def _table_of(self, m: re.Match) -> str:
        return self._resolve_table(m.group("table"))

    def _restore(self, m: re.Match) -> Commit:
        # Delta RESTORE parity: O(1) copy-on-write metadata commit;
        # TIMESTAMP AS OF resolves through the same at-or-before
        # walk the read path uses
        ver = (
            int(m.group("ver"))
            if m.group("ver") is not None
            else self._version_at(m.group("ts"))
        )
        return self.repo.restore_table(self.branch, self._table_of(m), ver)

    def _show_tblproperties(self, m: re.Match) -> DataFrame:
        props = self.repo.table_properties(self._table_of(m), self.branch)
        key = m.group("key")
        if key is not None:
            key = _unq(key)
        if key is not None and key not in props:
            # Spark-parity non-failing row (ADVICE r11: ported Delta
            # scripts probe optional properties and expect the probe
            # itself to succeed); the message text distinguishes the
            # absent case from a present-but-empty value
            table = m.group("table")
            rows = [(key, f"Table {table} does not have property: {key}")]
        else:
            rows = [(key, props[key])] if key is not None else sorted(props.items())
        return local_df(self.spark, rows, "key STRING, value STRING")

    def _copy_to(self, src_sql: str, m: re.Match) -> DataFrame:
        """Export verb (DuckDB/Snowflake COPY TO): any rewriter-visible
        query or branch table → external files via the io sinks."""
        from manage_versions_of_data_in_data_lake_using_lakefs_spark.sources.io import (
            write_csv,
            write_orc,
            write_parquet,
        )

        out = self.sql(src_sql).persist()
        try:
            # persist so the count and the write observe ONE
            # execution — an expensive (or nondeterministic) query
            # must not run twice nor report a count from a
            # different run than the written files
            rows = out.count()
            fmt = (m.group("fmt") or "parquet").lower()
            path = m.group("path")
            if fmt == "csv":
                write_csv(out, path, header=bool(m.group("header")))
            elif fmt == "orc":
                write_orc(out, path)
            elif fmt == "json":
                out.write.mode("overwrite").json(path)
            else:
                write_parquet(out, path)
        finally:
            out.unpersist(blocking=False)
        return local_df(
            self.spark, [(path, fmt, rows)], "path STRING, format STRING, rows_copied LONG"
        )

    def _clone(self, m: re.Match) -> Commit:
        src = self._resolve_table(m.group("src"))
        dst = m.group("dst").lower()
        if m.group("kind").upper() == "DEEP":
            return self.repo.deep_clone_table(self.spark, self.branch, src, dst)
        return self.repo.clone_table(self.branch, src, dst)

    def _truncate(self, m: re.Match) -> DataFrame:
        name = self._table_of(m)
        cur = self.repo.read_table(self.spark, name, self.branch, include_staged=True)
        # rows_affected comes from the group manifests minus the
        # committed DV cardinality (the ANALYZE zero-scan
        # discipline) — a full count() job over the about-to-vanish
        # table would be the one table-sized cost in a statement
        # users expect to be metadata-only. Scan fallback only when
        # a manifest declines (legacy/stats-less group). The empty
        # schema-carrier overwrite that follows is one 0-row task,
        # O(1) at any table size.
        n = self._meta_rows(name)
        if n is None:
            n = cur.count()
        empty = local_df(self.spark, [], cur.schema).repartition(1)
        self.repo.write_table(self.branch, name, empty, mode="overwrite")
        c = self.repo.commit(self.branch, f"SQL: TRUNCATE TABLE {name}")
        return self._dml_result(name, c.version, n)

    def _put_view(self, m: re.Match) -> Commit:
        """CREATE [OR REPLACE] VIEW and ALTER VIEW (whose pattern has no
        ``replace`` group)."""
        is_alter = "replace" not in m.groupdict()
        select = m.group("select")
        if is_alter and m.group("name").lower() not in (
            self.repo.list_view_names(self.branch)
        ):
            # existence is one metadata lookup — check it BEFORE
            # analyzing the SELECT, so a missing view reports
            # "no view", not the SELECT's own resolution error
            # (r14 review)
            raise KeyError(f"no view {m.group('name')!r} on {self.branch!r}")
        cols = self._parse_view_cols(m.groupdict().get("cols"), m.group("name"))
        # analyze NOW against current branch state (Spark validates
        # view text at creation) — a bad reference raises here, not
        # at first read; the DataFrame itself is discarded (except
        # its arity, which gates the explicit column list). The
        # view's own name rides the expansion stack during the
        # check, so a REPLACE that would close a reference cycle
        # (a -> b -> a) is refused at creation, not at first query.
        stack: set = self.__dict__.setdefault("_view_stack", set())
        low = m.group("name").lower()
        stack.add(low)
        try:
            vdf = self.sql(select)
        finally:
            stack.discard(low)
        if cols is not None and len(cols) != len(vdf.columns):
            raise ValueError(
                f"view {low!r}: column list has {len(cols)} names but "
                f"the SELECT produces {len(vdf.columns)} columns"
            )
        return self.repo.put_view(
            self.branch,
            m.group("name"),
            select,
            replace=not is_alter and bool(m.group("replace")),
            cols=cols,
            alter=is_alter,
        )

    def _show_views(self, m: re.Match) -> DataFrame:
        rows = []
        for n in self.repo.list_view_names(self.branch):
            d = self.repo.view_def(n, self.branch)
            rows.append((n, d["sql"], ", ".join(d.get("cols") or []) or None))
        return local_df(
            self.spark, rows, "view_name STRING, view_text STRING, view_cols STRING"
        )

    def _describe_table(self, m: re.Match) -> DataFrame | None:
        """DESCRIBE [TABLE] t — Spark's column listing over the
        branch-head snapshot. A name that is no repo table is declined
        (``None``), so it reaches the SELECT rewriter and fails loudly
        in Spark. The `extra` column annotates the write-time surface
        (r12): IDENTITY allocator spec, DEFAULT expression, GENERATED
        expression, and NOT NULL-shaped CHECK constraints."""
        if m.group("table").lower() not in {
            t.lower() for t in self.repo.list_tables(self.branch)
        }:
            return None
        df, meta, gen_exprs, cons = self._column_write_surface(self._table_of(m))
        rows = []
        for f in df.schema.fields:
            low = f.name.lower()
            notes = []
            ide = meta["identity"].get(low)
            if ide is not None:
                notes.append(_identity_clause(ide))
            if low in gen_exprs:
                notes.append(f"GENERATED ALWAYS AS ({gen_exprs[low]})")
            if low in meta["defaults"]:
                notes.append(f"DEFAULT {meta['defaults'][low]}")
            if cons.get(f"{low}_not_null") == f"{f.name} IS NOT NULL":
                notes.append("NOT NULL")
            rows.append((f.name, f.dataType.simpleString(), f.nullable, "; ".join(notes)))
        return local_df(
            self.spark,
            rows,
            "col_name STRING, data_type STRING, nullable BOOLEAN, extra STRING",
        )

    def _vacuum(self, m: re.Match) -> DataFrame:
        removed = self.repo.vacuum(
            dry_run=bool(m.group("dry")),
            retain_versions=int(m.group("retain")) if m.group("retain") else None,
        )
        return local_df(self.spark, [(p,) for p in removed], "path STRING")

    def _create_branch(self, m: re.Match) -> DataFrame:
        c = self.repo.create_branch(m.group("name"), m.group("src") or self.branch)
        return local_df(
            self.spark, [(m.group("name"), c.id)], "branch STRING, head_commit STRING"
        )

    def _drop_branch(self, m: re.Match) -> DataFrame:
        self.repo.delete_branch(m.group("name"))
        return local_df(self.spark, [(m.group("name"),)], "dropped STRING")

    def _use_branch(self, m: re.Match) -> DataFrame:
        name = m.group("name")
        if name not in self.repo.branches():
            raise KeyError(f"no branch {name!r}; known: {self.repo.branches()}")
        self.branch = name
        return local_df(self.spark, [(name,)], "branch STRING")

    def _show_branches(self, m: re.Match) -> DataFrame:
        rows = [
            (b, self.repo.head(b).id, self.repo.head(b).version)
            for b in self.repo.branches()
        ]
        return local_df(self.spark, rows, "branch STRING, head_commit STRING, version INT")

    def _show_partitions(self, m: re.Match) -> DataFrame:
        name = self._table_of(m)
        spec = None
        if m.group("spec"):
            spec = {}
            # _split_top_level, not str.split: a quoted value may
            # contain ',' (or ')') — PARTITION (q = 'a,b') is ONE
            # pair (r14 review)
            for pair in _split_top_level(m.group("spec")):
                k, eq, v = pair.partition("=")
                k, v = k.strip().strip("`"), v.strip()
                if not eq or not k or not v:
                    raise ValueError(
                        f"SHOW PARTITIONS: malformed PARTITION spec "
                        f"at {pair.strip()!r} (expected k = v, "
                        "comma-separated)"
                    )
                if len(v) >= 2 and v[0] == v[-1] and v[0] in "'\"":
                    v = v[1:-1]
                spec[k] = v
        parts = self.repo.show_partitions(name, self.branch, spec=spec)
        return local_df(self.spark, [(p,) for p in parts], "partition STRING")

    def _commit_statement(self, m: re.Match) -> Commit:
        lit = m.group("msg")
        msg = (
            lit[1:-1].replace("''", "'").replace("\\'", "'")
            if lit
            else "SQL: COMMIT"
        )
        return self.repo.commit(self.branch, msg)

    def _merge_branch(self, m: re.Match) -> DataFrame:
        c = self.repo.merge(self.spark, m.group("src"), m.group("dest"))
        return local_df(
            self.spark,
            [(m.group("dest"), c.version, c.id)],
            "branch STRING, version INT, commit_id STRING",
        )

    def _drop_table(self, m: re.Match) -> DataFrame:
        name = self._table_of(m)
        self.repo.remove_table(self.branch, name)
        c = self.repo.commit(self.branch, f"SQL: DROP TABLE {name}")
        return self._dml_result(name, c.version, 0)

    def _select(self, query: str) -> DataFrame:
        """A query: metadata-only aggregates first, else the clause
        rewriter (module docstring) over plain ``spark.sql``."""
        meta = self._metadata_agg(query)
        if meta is not None:
            return meta

        # 1) mask string literals: nothing inside quotes is a table
        #    reference or a time-travel clause
        literals: list[str] = []
        masked, restore = _mask_literals(query, literals=literals)

        # 1b) backticked identifiers: normalize `t` → t for repo tables
        #     AND stored views ONLY in table position (directly after
        #     FROM/JOIN) so they resolve like bare refs, then mask every
        #     remaining backticked identifier — a backticked COLUMN
        #     named like a repo table, and any non-table identifier,
        #     must survive the bare-name rewrite untouched
        stored_views = self.repo.list_view_names(self.branch)
        for t in [*self.repo.list_tables(self.branch), *stored_views]:
            masked = re.sub(
                rf"(\b(?:FROM|JOIN)\s+)`{re.escape(t)}`",
                lambda m, t=t: m.group(1) + t,
                masked,
                flags=re.IGNORECASE,
            )
        masked, _ = _mask_literals(masked, _BACKTICK_RE, literals)

        # 2) time-travel clause rewrites FIRST: each pinned snapshot
        #    becomes a scoped `lakesnap__<t>__vN` view; the substituted view
        #    names contain no word-boundary match for the bare table name
        #    (underscores are word chars), so step 3 can't re-rewrite them
        def sub_version(m: re.Match) -> str:
            return self._register_snapshot(m.group("table"), int(m.group("ver")), None)

        def sub_ts(m: re.Match) -> str:
            lit = literals[int(m.group("lit"))]
            return self._register_snapshot(m.group("table"), None, lit[1:-1].replace("''", "'"))

        rewritten = _VERSION_RE.sub(sub_version, masked)
        rewritten = _TIMESTAMP_RE.sub(sub_ts, rewritten)
        rewritten = _AT_RE.sub(sub_version, rewritten)
        rewritten = _CHANGES_FEED_RE.sub(
            lambda m: self._register_changes_feed(
                m.group("table"),
                int(m.group("v1")),
                int(m.group("v2"))
                if m.group("v2")
                else self.repo.head(self.branch).version,
            ),
            rewritten,
        )
        rewritten = _CHANGES_RE.sub(
            lambda m: self._register_changes(
                m.group("table"),
                int(m.group("v1")),
                int(m.group("v2"))
                if m.group("v2")
                else self.repo.head(self.branch).version,
            ),
            rewritten,
        )

        # 3) remaining bare repo-table references resolve to scoped
        #    branch-head views `lake__<t>` — registered under the prefix
        #    so sql() never clobbers a user's own temp view named <t>.
        #    For a simple single-table SELECT the view is additionally
        #    file-pruned by the query's own WHERE (automatic data
        #    skipping): correct because the WHERE applies directly to the
        #    scan, and the evaluator over-approximates. Joins are
        #    excluded (an IS NULL predicate on an outer join's
        #    null-producing side would make skipped files ADD rows), as
        #    is any query where the table appears more than once (a
        #    pruned view would also feed the self-referencing subquery).
        # 2b) stored views expand by name: the view's SELECT text runs
        #     through a full nested sql() call (its own table refs, time
        #     travel, and nested views all resolve against the CURRENT
        #     branch state — standard view semantics), lands as a scoped
        #     temp view, and the bare name is rewritten to it. The
        #     scoped name has no word-boundary match for the view name
        #     (underscores are word chars), so the table loop below
        #     can't touch it. Every rewrite kind registers under its OWN
        #     reserved prefix (table heads lake__, views lakeview__,
        #     snapshots lakesnap__, changes lakechg__/lakefeed__), and
        #     all five prefixes are rejected at object creation
        #     (`_check_name_unreserved`), so no legal table or view name
        #     can produce a registration that collides with another
        #     kind's (r13 re-review). View TEXT is fetched
        #     lazily, only for views the query actually names. A
        #     self-referential chain raises loudly.
        stack: set = self.__dict__.setdefault("_view_stack", set())
        for v in stored_views:
            # table position ONLY (after FROM/JOIN). A bare column or
            # alias that happens to share a stored view's name must not
            # be rewritten — SELECT high FROM t stays t's column even
            # when a view `high` exists (ADVICE r13). Qualified refs
            # (v.col) are NEVER rewritten; instead, when the user left
            # the relation un-aliased we alias the scoped view back to
            # the original name (FROM lakeview__high AS `high`) so the
            # user's qualifiers resolve through the alias — and when the
            # user DID alias it (FROM high h / FROM events high), their
            # alias wins and nothing outside FROM/JOIN position is
            # touched. The cost: a view in a NON-FIRST comma-join
            # position (FROM a, v) no longer expands — that now fails
            # loudly as TABLE_OR_VIEW_NOT_FOUND (use JOIN), never
            # silently as the wrong relation; FROM v, a still expands
            # (v directly follows FROM).
            vpat = re.compile(
                rf"(\b(?:FROM|JOIN)\s+){re.escape(v)}\b", re.IGNORECASE
            )
            if not vpat.search(rewritten):
                continue
            if v in stack:
                raise ValueError(
                    f"view {v!r} participates in a self-referential "
                    "expansion cycle"
                )
            stack.add(v)
            try:
                vdef = self.repo.view_def(v, self.branch)
                vdf = self.sql(vdef["sql"])
                if vdef.get("cols"):
                    # explicit column list = positional rename of the
                    # SELECT's output (arity was validated at creation)
                    vdf = vdf.toDF(*vdef["cols"])
                vdf.createOrReplaceTempView(f"lakeview__{v}")
            finally:
                stack.discard(v)

            def _sub_view(m: re.Match, v: str = v) -> str:
                # lookahead for a user-supplied alias: `AS x`, a bare
                # identifier that is not a relation-follower keyword, or
                # a backtick-masked token (step 1b turned `x` into
                # \x00N\x00 — r14 review: the mask must read as an
                # alias, not as "no alias")
                nxt = re.match(
                    r"\s+(?:(AS)\s+)?(?:`?([A-Za-z_]\w*)|(\x00\d+\x00))",
                    m.string[m.end() :],
                    re.IGNORECASE,
                )
                if nxt and (
                    nxt.group(1)
                    or nxt.group(3)
                    or nxt.group(2).lower() not in _RELATION_FOLLOWERS
                ):
                    # user-supplied alias covers all qualified refs
                    return m.group(1) + f"lakeview__{v}"
                if nxt and nxt.group(2).lower() == "tablesample":
                    # Spark's grammar puts the sample clause BEFORE the
                    # alias, so injecting here would not parse — bare
                    # rename; qualified refs through the original name
                    # fail loudly (alias the view to keep them)
                    return m.group(1) + f"lakeview__{v}"
                return m.group(1) + f"lakeview__{v} AS `{v}`"

            rewritten = vpat.sub(_sub_view, rewritten)

        auto_prune = self._auto_prune_where(query)
        for t in self.repo.list_tables(self.branch):
            pat = re.compile(rf"\b{re.escape(t)}\b", re.IGNORECASE)
            if pat.search(rewritten):
                # include_staged: a branch read sees its own uncommitted
                # staged state (lakeFS semantics — and what makes every
                # DML path, pruned or full, see the same table state)
                self.repo.read_table(
                    self.spark,
                    t,
                    ref=self.branch,
                    include_staged=True,
                    prune_where=auto_prune.get(t.lower()),
                ).createOrReplaceTempView(f"lake__{t}")
                rewritten = pat.sub(f"lake__{t}", rewritten)

        # 4) restore the untouched literals
        return self.spark.sql(restore(rewritten))


#: ``LakeSQL.sql()``'s statement table, in precedence order: the first
#: row whose matcher returns non-``None`` runs ``handler(lsql, match)``.
#: A handler returns a DataFrame, a ``Commit`` (wrapped by
#: ``_commit_result``), or ``None`` to decline. Where spellings share a
#: prefix the specific form sits first: COPY (SELECT …) TO before COPY t
#: TO, CREATE … LIKE/CLONE before CTAS and the column-list CREATE, ADD
#: COLUMN … IDENTITY and … GENERATED before the plain ADD COLUMN, INSERT
#: … REPLACE WHERE before INSERT.
_STATEMENTS = (
    (_HISTORY_RE.match, lambda s, m: s.history(m.group("table"))),
    (_SHOW_TABLES_RE.match, lambda s, m: s.show_tables()),
    (_DETAIL_RE.match, lambda s, m: s.detail(m.group("table"))),
    (_RESTORE_RE.match, LakeSQL._restore),
    (_OPTIMIZE_RE.match, lambda s, m: s._optimize(
        m.group("table"),
        tuple(c.strip(" `") for c in m.group("zs").split(",")) if m.group("zs") else None,
        [c.strip(" `") for c in m.group("sorts").split(",")] if m.group("sorts") else None,
        int(m.group("nfiles")) if m.group("nfiles") else None,
        where=m.group("where"))),
    # Delta's REORG TABLE ... APPLY (PURGE): materialize deletion
    # vectors into rewritten files (data_change=false commit)
    (_REORG_PURGE_RE.match, lambda s, m: s.repo.purge_deletion_vectors(
        s.spark, s.branch, s._table_of(m))),
    (_DESCRIBE_STATS_RE.match, lambda s, m: s.describe_stats(m.group("table"))),
    (_ANALYZE_RE.match, lambda s, m: s.analyze_table(
        m.group("table"),
        columns=(
            [c.strip().strip("`") for c in m.group("cols").split(",")]
            if m.group("cols") else None
        ),
        all_columns=bool(m.group("allcols")),
        noscan=bool(m.group("noscan")))),
    (_SET_TBLPROPS_RE.match, lambda s, m: s.repo.set_table_properties(
        s.branch, s._table_of(m), _parse_prop_pairs(m.group("pairs")))),
    (_UNSET_TBLPROPS_RE.match, lambda s, m: s.repo.unset_table_properties(
        s.branch, s._table_of(m), _parse_prop_keys(m.group("keys")),
        if_exists=bool(m.group("ifex")))),
    (_SHOW_TBLPROPS_RE.match, LakeSQL._show_tblproperties),
    (_ADD_CONSTRAINT_RE.match, lambda s, m: s.repo.add_constraint(
        s.spark, s.branch, s._table_of(m), m.group("name"), m.group("expr"))),
    (_DROP_CONSTRAINT_RE.match, lambda s, m: s.repo.drop_constraint(
        s.branch, s._table_of(m), m.group("name"))),
    (_parse_copy_select, lambda s, sel: s._copy_to(*sel)),
    (_COPY_TABLE_TO_RE.match, lambda s, m: s._copy_to(f"SELECT * FROM {m.group('table')}", m)),
    (_COPY_INTO_RE.match, lambda s, m: s._copy_into(
        m.group("table"),
        m.group("src"),
        m.group("fmt").lower(),
        dict(_OPT_PAIR_RE.findall(m.group("fopts") or "")),
        dict(_OPT_PAIR_RE.findall(m.group("copts") or "")),
        files=(
            _QUOTED_ITEM_RE.findall(m.group("files"))
            if m.group("files") is not None else None
        ),
        pattern=m.group("pattern"))),
    (_CREATE_LIKE_RE.match, lambda s, m: s._create_like(m.group("dst"), m.group("src"))),
    (_CLONE_RE.match, LakeSQL._clone),
    (_TRUNCATE_RE.match, LakeSQL._truncate),
    (_CREATE_VIEW_RE.match, LakeSQL._put_view),
    (_ALTER_VIEW_RE.match, LakeSQL._put_view),
    (_RENAME_TABLE_RE.match, lambda s, m: s.repo.rename_table(
        s.branch, s._resolve_table(m.group("old")), m.group("new").lower())),
    (_DROP_VIEW_RE.match, lambda s, m: s.repo.drop_view(s.branch, m.group("name"))),
    (_SHOW_VIEWS_RE.match, LakeSQL._show_views),
    (_SHOW_CREATE_RE.match, lambda s, m: s._show_create(m.group("table"))),
    (_ADD_IDENTITY_RE.match, lambda s, m: s.repo.alter_add_identity_column(
        s.spark, s.branch, s._table_of(m), m.group("col"), m.group("type"),
        start=int(m.group("start") or 1),
        step=int(m.group("step") or m.group("step2") or 1),
        always=m.group("mode").upper() == "ALWAYS")),
    (_ALTER_CLUSTER_RE.match, lambda s, m: s.repo.alter_cluster_by(
        s.spark, s.branch, s._table_of(m),
        None if m.group("none") else [c.strip(" `") for c in m.group("cols").split(",")])),
    (_WIDEN_COLUMN_RE.match, lambda s, m: s.repo.alter_widen_column(
        s.spark, s.branch, s._table_of(m), m.group("col"), m.group("type"))),
    (_SYNC_IDENTITY_RE.match, lambda s, m: s.repo.sync_identity(
        s.spark, s.branch, s._table_of(m))),
    (_SET_DEFAULT_RE.match, lambda s, m: s.repo.alter_set_default(
        s.spark, s.branch, s._table_of(m), m.group("col"), m.group("expr"))),
    (_DROP_DEFAULT_RE.match, lambda s, m: s.repo.alter_drop_default(
        s.branch, s._table_of(m), m.group("col"))),
    (_ADD_GEN_COLUMN_RE.match, lambda s, m: s.repo.alter_add_generated_column(
        s.spark, s.branch, s._table_of(m), m.group("col"), m.group("type"), m.group("expr"))),
    (_ADD_COLUMN_RE.match, lambda s, m: s.repo.alter_add_column(
        s.spark, s.branch, s._table_of(m), m.group("col"), m.group("type"))),
    (_RENAME_COLUMN_RE.match, lambda s, m: s.repo.alter_rename_column(
        s.spark, s.branch, s._table_of(m), m.group("old"), m.group("new"))),
    (_DROP_COLUMN_RE.match, lambda s, m: s.repo.alter_drop_column(
        s.spark, s.branch, s._table_of(m), m.group("col"))),
    (_SHOW_CONSTRAINTS_RE.match, lambda s, m: local_df(
        s.spark,
        sorted(s.repo.table_constraints(s._table_of(m), s.branch).items()),
        "name STRING, check_expr STRING")),
    (_DESCRIBE_TABLE_RE.match, LakeSQL._describe_table),
    (_VACUUM_RE.match, LakeSQL._vacuum),
    (_CREATE_BRANCH_RE.match, LakeSQL._create_branch),
    (_DROP_BRANCH_RE.match, LakeSQL._drop_branch),
    (_USE_BRANCH_RE.match, LakeSQL._use_branch),
    (_SHOW_BRANCHES_RE.match, LakeSQL._show_branches),
    (_SHOW_PARTITIONS_RE.match, LakeSQL._show_partitions),
    (_COMMIT_RE.match, LakeSQL._commit_statement),
    (_MERGE_BRANCH_RE.match, LakeSQL._merge_branch),
    (_DROP_TABLE_RE.match, LakeSQL._drop_table),
    (_CTAS_RE.match, lambda s, m: s._ctas(
        m.group("table"), m.group("select"), bool(m.group("replace")),
        m.group("parts"), m.group("clus"))),
    (_CREATE_SCHEMA_RE.match, lambda s, m: s._create_table_schema(
        m.group("table"), m.group("cols"), bool(m.group("replace")),
        m.group("parts"), m.group("clus"))),
    (_INSERT_REPLACE_RE.match, lambda s, m: s._insert_replace(
        m.group("table"), m.group("cond"), m.group("body"))),
    (_INSERT_RE.match, lambda s, m: s._insert(m.group("table"), m.group("body"), m.group("cols"))),
    (_MERGE_INTO_RE.match, lambda s, m: s._merge_into(
        m.group("table"), m.group("talias"), m.group("body"), m.group("clauses"),
        evolve=m.group("evolve") is not None)),
    (_DELETE_RE.match, lambda s, m: s._delete(m.group("table"), m.group("cond"))),
    (_UPDATE_RE.match, lambda s, m: s._update(m.group("table"), m.group("sets"), m.group("cond"))),
)

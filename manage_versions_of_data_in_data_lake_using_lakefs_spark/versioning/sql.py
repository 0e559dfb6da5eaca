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
intact). For queries this is a clause rewriter, not a SQL parser, but
it is careful where lexical rewriters classically go wrong:

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

MERGE, DELETE, UPDATE, ``INSERT ... REPLACE WHERE`` and the CREATE
TABLE column list are not rewritten lexically: their row claims them by
keyword and ``_parse`` reads them with Spark's own SQL parser into
plain values that both DML routes (deletion vector and copy-on-write)
consume. Expression text is sliced from the statement, so the user's
spelling reaches the rewriter unchanged. The other verbs (RESTORE,
OPTIMIZE, COPY, CLONE, the branch verbs, ...) are not Spark grammar and
keep their regex rows.

Known lexical limits: a *bare* column whose name equals a repo *table*
name referenced in the same query would be rewritten too — the standard
hazard of rewriting identifiers without a parse tree (backtick-quote the
column to protect it); and a backticked table ref in a comma-separated
FROM list (``FROM a, `events```) is treated as opaque rather than
resolved (spell it with JOIN, or drop the redundant backticks). In
parsed DML, a comment between a ``(`` and the left operand it opens
(``( /* c */ k) IN (1)``) leaves that ``(`` out of the condition's
text, which then fails to parse.
"""

from __future__ import annotations

import os
import re
from collections.abc import Callable
from contextlib import contextmanager, nullcontext
from datetime import datetime, timezone
from functools import partial, reduce
from typing import NamedTuple

from pyspark.errors import ParseException
from pyspark.logger import PySparkLogger
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
# what may hold an unbalanced parenthesis inside parsed expression text
_OPAQUE_RE = re.compile(
    rf"{_LITERAL_RE.pattern}|{_BACKTICK_RE.pattern}|--[^\n]*|/\*.*?\*/", re.S
)
# a TRUE or FALSE left operand, possibly parenthesized, ending the text
_BOOL_BEFORE_RE = re.compile(r"\b(?:true|false)[\s)]*$", re.I)
# the keyword that opens a FROM-first or a TABLE query, ending the text
_QUERY_LEAD_RE = re.compile(r"\b(?:FROM|TABLE)\s*$", re.I)
_MASK_RE = re.compile(r"\x00(\d+)\x00")
# the lineage keys of a row in a lineage read (``LakeRepo.read_table``)
_LINEAGE = ("__lg_fp", "__lg_ri")


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
# MERGE, DELETE, UPDATE and INSERT ... REPLACE WHERE are claimed by their
# keyword prefix alone: from there on the grammar is Spark's (``_parse``)
_MERGE_INTO_RE = re.compile(
    r"^\s*MERGE\s+(?:WITH\s+SCHEMA\s+EVOLUTION\s+)?INTO\b", re.IGNORECASE
)
_INSERT_REPLACE_RE = re.compile(
    rf"^\s*INSERT\s+INTO\s+{_IDENT}\s+REPLACE\s+WHERE\b", re.IGNORECASE
)
_DELETE_RE = re.compile(r"^\s*DELETE\s+FROM\b", re.IGNORECASE)
_UPDATE_RE = re.compile(r"^\s*UPDATE\b", re.IGNORECASE)


class _Merge(NamedTuple):
    """A parsed ``MERGE INTO``, as both DML routes consume it. ``source``
    is a table name, or the USING subquery's text when ``source_query``.
    ``on`` holds each ``alias.col = alias.col`` term as two name-part
    tuples. ``matched``, ``inserts`` and ``by_source`` hold each kind's
    clauses in statement order as ``(cond, action, assigns)``: action
    update, delete or insert; ``assigns`` the ``(name parts, expr text)``
    pairs, or None for ``*``. ``subquery``: a clause expression holds
    a subquery."""

    table: str
    talias: str | None
    source: str
    source_query: bool
    salias: str | None
    on: list
    matched: list
    inserts: list
    by_source: list
    evolve: bool
    subquery: bool


class _Dml(NamedTuple):
    """A parsed DELETE, UPDATE or ``INSERT ... REPLACE WHERE``: the
    condition text (None when absent), UPDATE's ``(name parts, expr
    text)`` assignments, the REPLACE WHERE query text, and whether any
    of these expressions holds a subquery."""

    table: str
    cond: str | None
    assigns: list
    body: str | None
    subquery: bool


class _Column(NamedTuple):
    """One parsed CREATE TABLE column: ``identity`` is ``(start, step,
    always)`` when declared."""

    name: str
    type: str
    not_null: bool
    default: str | None
    identity: tuple | None


_MERGE_CLAUSES = (
    "supported: UPDATE SET c = expr, ... | UPDATE SET * | DELETE on a "
    "match; INSERT * | INSERT (cols) VALUES (exprs) on a source row no "
    "target row matches; UPDATE SET c = expr, ... | DELETE on a target "
    "row no source row matches (no SET * there: it needs a source row) "
    "— each with an optional AND condition, several of a kind allowed, "
    "evaluated in order"
)


def _engine_error(text: str, e: ParseException) -> ValueError | None:
    """The engine's error for a ParseException of ``text``, or None to
    let Spark's stand: MERGE and CREATE TABLE keep the messages they had
    before Spark parsed them."""
    cond = e.getCondition() or ""
    msg = str(e).strip().splitlines()[0]
    if cond.startswith("NON_LAST_") and cond.endswith("_OMIT_CONDITION"):
        return ValueError(
            "MERGE: all but the last clause of a kind must have a "
            "condition (Delta's ordered-evaluation rule — an "
            f"unconditional earlier clause would shadow the rest): {msg}"
        )
    if cond == "CREATE_TABLE_COLUMN_DESCRIPTOR_DUPLICATE":
        p = e.getMessageParameters()
        return ValueError(
            f"CREATE TABLE: duplicate {p['optionName']} clause on column "
            f"{p['columnName']!r}"
        )
    verb = text.split(None, 1)[0].upper()
    if verb == "MERGE" and cond == "_LEGACY_ERROR_TEMP_0006":
        return ValueError(
            "MERGE INSERT: VALUES must give one expression for each of the "
            "named columns but gives a different number"
        )
    if verb == "MERGE":
        return ValueError(f"MERGE: unsupported clause ({msg}) — {_MERGE_CLAUSES}")
    if verb == "CREATE":
        return ValueError(f"CREATE TABLE: {msg}")
    return None


def _parse(spark: SparkSession, query: str):
    """Parse a MERGE, DELETE, UPDATE, ``INSERT ... REPLACE WHERE`` or
    column-list CREATE TABLE statement with Spark's own SQL parser and
    return plain values: ``_Merge``, ``_Dml`` or a list of ``_Column``.
    The parser is reached through the JVM session, so these statements
    need classic Spark, not Spark Connect. No Spark job runs.

    ``t@vN`` is spelled ``t VERSION AS OF N`` first (literals and
    backticked names masked): Spark's grammar has no ``@v``. Expression
    text is the statement sliced between the smallest start and the
    largest stop of the subtree's origins, never a rendering of the
    tree, so the SELECT rewriter and ``F.expr`` see the user's own
    spelling. Only subtrees whose text is needed are walked."""
    literals: list[str] = []
    masked, restore = _mask_literals(query, literals=literals)
    masked, _ = _mask_literals(masked, _BACKTICK_RE, literals)
    text = restore(_AT_RE.sub(r"\g<table> VERSION AS OF \g<ver>", masked))
    # PySpark logs every ParseException it converts as a JSON record of
    # the JVM stack; the exception raised here carries the message
    log = PySparkLogger.getLogger("SQLQueryContextLogger")
    quiet, log.disabled = log.disabled, True
    try:
        plan = spark._jsparkSession.sessionState().sqlParser().parsePlan(text)
    except ParseException as e:
        err = _engine_error(text, e)
        if err is None:
            raise
        raise err from e
    finally:
        log.disabled = quiet
    # the plan's own expressions only: a MERGE source or REPLACE WHERE
    # body is a child plan, whose subqueries do not count
    subquery = not plan.subqueries().isEmpty()

    def seq(s) -> list:
        return [s.apply(i) for i in range(s.size())]

    def start(node) -> int | None:
        # TRUE and FALSE parse to shared Literal singletons: their origin
        # is whatever was current when Spark first built them
        if node.nodeName() == "Literal" and node.sql() in ("true", "false"):
            return None
        return node.origin().startIndex().get()

    def span(e, is_query: bool = False) -> str:
        if e.nodeName() == "Exists":
            # built under its parent's origin (the whole statement for a
            # WHERE), not one of its own: its text is its subquery's
            return f"EXISTS ({span(e.plan(), True)})"
        lo = start(e)
        if lo is None:
            return e.sql()
        hi = e.origin().stopIndex().get()
        # a predicate's own origin starts at its keyword (NOT, IN, IS,
        # LIKE, BETWEEN), and so does a NOT wrapped round it: its left
        # operand lies down the leftmost children, a TRUE or FALSE one
        # written just before the keyword. A query hint's origin is its
        # /*+ */ comment alone, inside the query below it...
        node = e
        while not (kids := node.children()).isEmpty():
            node = kids.head()
            first = start(node)
            if first is None:
                if m := _BOOL_BEFORE_RE.search(text, 0, lo):
                    lo = m.start()
                break
            if first > lo:
                break
            lo = first
            if is_query:
                hi = max(hi, node.origin().stopIndex().get())
        # ...the FROM of a FROM-first query and the TABLE of ``TABLE t``
        # are in no origin...
        if is_query and (m := _QUERY_LEAD_RE.search(text, 0, lo)):
            lo = m.start()
        # ...and a parenthesized operand's origin leaves out its "(",
        # which is the text just before it
        seg, _ = _mask_literals(text[lo : hi + 1], _OPAQUE_RE)
        for _ in range(seg.count(")") - seg.count("(")):
            before = text[:lo].rstrip()
            if not before.endswith("("):
                break
            lo = len(before) - 1
        return text[lo : hi + 1]

    def relation(p) -> tuple[str, str | None]:
        alias = None
        if p.nodeName() == "SubqueryAlias":
            alias, p = p.alias(), p.child()
        return ".".join(seq(p.multipartIdentifier())), alias

    def assigns(action) -> list:
        return [
            (tuple(seq(a.key().nameParts())), span(a.value()))
            for a in seq(action.assignments())
        ]

    kind = plan.nodeName()
    if kind == "CreateTable":
        if not plan.tableSpec().constraints().isEmpty():
            raise ValueError(
                "CREATE TABLE: unsupported clause (a PRIMARY KEY, UNIQUE, "
                "FOREIGN KEY or CHECK constraint; supported: GENERATED "
                "... AS IDENTITY, DEFAULT expr, NOT NULL)"
            )
        cols = []
        for c in seq(plan.columns()):
            for clause, opt in (
                ("COMMENT '{}'", c.comment()),
                ("GENERATED ALWAYS AS ({})", c.generationExpression()),
            ):
                if opt.isDefined():
                    raise ValueError(
                        f"CREATE TABLE: unsupported clause "
                        f"{clause.format(opt.get())!r} on column {c.name()!r} "
                        "(supported: GENERATED ... AS IDENTITY, DEFAULT "
                        "expr, NOT NULL)"
                    )
            d, i = c.defaultValue(), c.identityColumnSpec()
            i = i.get() if i.isDefined() else None
            cols.append(_Column(
                c.name(), c.dataType().sql(), not c.nullable(),
                d.get().originalSQL() if d.isDefined() else None,
                None if i is None else (
                    i.getStart(), i.getStep(), not i.isAllowExplicitInsert()
                ),
            ))
        return cols
    if kind == "MergeIntoTable":
        table, talias = relation(plan.targetTable())
        src = plan.sourceTable()
        salias = None
        if src.nodeName() == "SubqueryAlias":
            salias, src = src.alias(), src.child()
        query_src = src.nodeName() != "UnresolvedRelation"

        def terms(e) -> list:
            if e.nodeName() == "And":
                return terms(e.left()) + terms(e.right())
            sides = [e.left(), e.right()] if e.nodeName() == "EqualTo" else []
            parts = [
                tuple(seq(s.nameParts()))
                for s in sides
                if s.nodeName() == "UnresolvedAttribute"
            ]
            if len(parts) != 2 or any(len(p) != 2 for p in parts):
                raise ValueError(
                    "MERGE ON must be an equality conjunction of "
                    f"alias.col = alias.col terms; got {span(e)!r}"
                )
            return [tuple(parts)]

        def clause(a) -> tuple:
            action = a.nodeName()  # UpdateAction, InsertStarAction, ...
            cond = a.condition()
            return (
                span(cond.get()) if cond.isDefined() else None,
                action.replace("Star", "")[: -len("Action")].lower(),
                assigns(a) if action in ("UpdateAction", "InsertAction") else None,
            )

        clauses = [
            [clause(a) for a in seq(actions)]
            for actions in (
                plan.matchedActions(),
                plan.notMatchedActions(),
                plan.notMatchedBySourceActions(),
            )
        ]
        return _Merge(
            table, talias,
            span(src, True) if query_src else relation(src)[0], query_src, salias,
            terms(plan.mergeCondition()), *clauses,
            plan.withSchemaEvolution(), subquery,
        )
    if kind == "OverwriteByExpression":
        return _Dml(
            relation(plan.table())[0], span(plan.deleteExpr()), [],
            span(plan.query(), True), subquery,
        )
    if kind == "DeleteFromTable":
        cond = span(plan.condition())  # "true" without a WHERE
        return _Dml(
            relation(plan.table())[0], None if cond == "true" else cond, [],
            None, subquery,
        )
    if kind == "UpdateTable":
        cond = plan.condition()
        return _Dml(
            relation(plan.table())[0],
            span(cond.get()) if cond.isDefined() else None,
            assigns(plan), None, subquery,
        )
    raise ValueError(f"cannot run a parsed {kind} statement")


def _target_col(parts: tuple, alias: str) -> str:
    """The column a SET or INSERT target names: ``c``, or ``alias.c``
    qualified by the statement's target. Any other qualified name comes
    back dotted, which matches no column."""
    if len(parts) == 2 and parts[0].lower() == alias.lower():
        return parts[1]
    return ".".join(parts)
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
_INSERT_RE = re.compile(
    rf"^\s*INSERT\s+INTO\s+(?P<table>{_IDENT})\s*"
    r"(?:\(\s*(?P<cols>[^)]+?)\s*\)\s*)?"
    r"(?P<body>(?:SELECT|VALUES)\b.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
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
    unconditional clause always matches) or 0 when none does.

    ``_merge_classified`` projects it exactly ONCE per row as a lateral
    column alias ``__lg_cl`` and makes every other expression (per-column
    projections, filters, counts) reference the ALIAS — the clause
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
    projected values never surface)."""
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
    first NOT-MATCHED clause whose condition passed)."""
    out = []
    for c in cols:
        branches = " ".join(
            f"WHEN {i + 1} THEN CAST(({exprs[c]}) AS {types[c]})"
            for i, (_cond, exprs) in enumerate(i_clauses)
        )
        out.append(f"CASE (__lg_cl) {branches} END AS `{c}`")
    return out


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

    def _merge_into(self, stmt: _Merge) -> DataFrame:
        """``MERGE INTO t [AS a] USING <table|(SELECT ...)> [AS b]
        ON a.k = b.k [AND ...]
        [WHEN MATCHED [AND cond] THEN UPDATE SET * | SET c = expr, ... | DELETE]...
        [WHEN NOT MATCHED [AND cond] THEN INSERT * | (cols) VALUES (exprs)]...
        [WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE | UPDATE SET ...]...``
        — SEVERAL clauses of each kind are legal (Delta's full 2.4
        grammar): they evaluate in statement order, the first clause
        whose condition passes acts on the row, and all but the last
        clause of a kind must carry a condition. ``stmt`` is the
        statement as ``_parse`` read it with Spark's parser.

        The Delta MERGE surface a lakehouse actually runs: equality-
        conjunction ON, ordered update/delete clauses on match
        (matched rows claimed by no clause pass through untouched),
        ordered insert clauses on no match — ``INSERT *`` by name or
        explicit ``(cols) VALUES (exprs)`` with unnamed columns NULL —
        and the Delta-2.4 sync clauses deleting or updating target rows
        absent from the source (condition and SET expressions see
        target columns only, enforced BY SCOPE).

        One classification (``_merge_classified``) finds, over a lineage
        read of the target, the positions of the rows that leave the
        table and the images that join it, and raises Delta's
        multiple-match error before any write. Two publishes consume
        it, as Delta's MERGE does: a deletion-vector table appends the
        positions to its vector (``repo._dv_publish``); otherwise the
        part files the positions name are rewritten without those rows
        and every other file is carried by reference
        (``repo._cow_publish``)."""
        name = self._resolve_table(stmt.table)
        ta = stmt.talias or name
        if stmt.source_query:
            if not stmt.salias:
                raise ValueError("a subquery MERGE source needs an alias")
            sdf = self.sql(stmt.source)
        else:
            sdf = self.sql(f"SELECT * FROM {stmt.source}")
        sa = stmt.salias or stmt.source
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
        for (la, lc), (ra, rc) in stmt.on:
            sides = {la.lower(): lc, ra.lower(): rc}
            if set(sides) != {ta.lower(), sa.lower()}:
                raise ValueError(
                    f"MERGE ON term {la}.{lc} = {ra}.{rc} must relate "
                    f"{ta!r} and {sa!r}"
                )
            t_keys.append(sides[ta.lower()])
            s_keys.append(sides[sa.lower()])
        # Clauses come IN ORDER per kind (Delta r11 semantics: several
        # clauses of a kind are legal, evaluated in order — the FIRST
        # clause whose condition passes acts on the row; Spark's parser
        # already refused an unconditional clause before the last).
        evolve = stmt.evolve
        target = self.repo.read_table(
            self.spark, name, ref=self.branch, include_staged=True, lineage=True
        )
        fields = [f for f in target.schema.fields if f.name not in _LINEAGE]
        # MERGE WITH SCHEMA EVOLUTION (Delta 3.x spelling of automerge):
        # source columns absent from the target JOIN the target schema —
        # the copy-on-write route rewrites every file, so the
        # extended view (existing rows read the new columns as NULL)
        # makes every downstream scope — pass-through, SET/INSERT *
        # expansion, BY-SOURCE projections — uniform. SET * then updates
        # only source-named columns and INSERT * fills target-only
        # columns with NULL (Delta's automerge table); without
        # evolution, both keep the strict all-columns contract.
        new_fields = []
        if evolve:
            tlower = {f.name.lower() for f in fields}
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
            clauses = stmt.matched + stmt.by_source + stmt.inserts
            star_used = any(a != "delete" and asg is None for _c, a, asg in clauses)
            named = {
                _target_col(parts, ta).lower()
                for _c, _a, asg in clauses
                for parts, _e in asg or ()
            }
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
                fields += new_fields
        src_lower = {c.lower() for c in sdf.columns}
        resolved = {f.name.lower(): f.name for f in fields}
        # IDENTITY columns (r12): never SET, never in an INSERT list —
        # inserted rows get engine-allocated values once counted;
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

        def _assigns(action: str, asg: list | None) -> dict[str, str] | None:
            if action == "delete":
                return None
            if asg is None:
                return {
                    f.name: f"{sa}.`{f.name}`"
                    for f in fields
                    # with evolution, SET * updates only the source-named
                    # columns (target-only columns keep their values);
                    # without it, the strict contract stands — a source
                    # lacking a target column is a loud analysis error.
                    # IDENTITY columns are excluded either way: matched
                    # rows keep their allocated values (they are never
                    # assignable)
                    if (not evolve or f.name.lower() in src_lower)
                    and f.name.lower() not in id_cols
                }
            out: dict[str, str] = {}
            for parts, expr in asg:
                col = _target_col(parts, ta)
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
                out[resolved[col.lower()]] = expr
            return out

        # SET assignments and INSERT column lists parse up front (the
        # deletion-vector route needs them before any view exists); a
        # typo'd SET/INSERT column raises here regardless of which
        # execution path runs. Clause lists carry (cond, action,
        # col->expr) in statement order.
        m_clauses = [(c, a, _assigns(a, asg)) for c, a, asg in stmt.matched]
        bs_clauses = [(c, a, _assigns(a, asg)) for c, a, asg in stmt.by_source]
        # insert exprs evaluate in SOURCE scope (the anti join of source
        # against target); unnamed target columns insert as NULL
        # (Delta's explicit-column INSERT rule)
        i_clauses: list[tuple[str | None, dict[str, str]]] = []
        for cond, _action, asg in stmt.inserts:
            if asg is None:
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
                # case-insensitive, like Spark's own resolution; IDENTITY
                # columns are never expected from the source
                missing = [
                    f.name
                    for f in fields
                    if f.name.lower() not in src_lower
                    and f.name.lower() not in id_cols
                ]
                if missing and not evolve:
                    raise ValueError(
                        f"MERGE INSERT *: source lacks target columns "
                        f"{missing}"
                    )
                # automerge: target-only columns insert their DEFAULT
                # when declared (r12), else NULL; IDENTITY columns are
                # engine-allocated once counted (except BY DEFAULT
                # ones the source provides)
                exprs = {
                    f.name: (
                        "NULL"
                        if f.name.lower() in id_cols
                        and f.name.lower() not in i_provided[-1]
                        else f"{sa}.`{f.name}`"
                        if f.name.lower() in src_lower
                        else col_defaults.get(f.name.lower(), "NULL")
                    )
                    for f in fields
                }
            else:
                named: dict[str, str] = {}
                for parts, v in asg:
                    col = _target_col(parts, ta)
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
                # and is allocated once the inserts are counted
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
                    for f in fields
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
        # the DV route takes a statement only where it stores what the
        # copy-on-write route would: an evolving schema, generated
        # columns and identity allocation are the rewrite's, and a clause
        # subquery keeps the statement off the DV route (``_delete``'s
        # rule)
        msg = f"SQL: MERGE INTO {name}"
        classify = partial(
            self._merge_classified, name, sdf, ta, sa, t_keys, s_keys,
            m_clauses, i_clauses, bs_clauses, stmt.subquery,
        )
        if (
            not new_fields
            and self._dv_enabled(name)
            and not stmt.subquery
            and not self.repo._generated_names(
                self.repo.table_schema_map(name, ref=self.branch)
            )
            and not (ids_fill and i_clauses)
        ):
            def dv_merge():
                df, _ = self.repo._dv_read(self.spark, self.branch, name, msg)
                with classify(df) as (positions, images, _files, rows):
                    if not rows:
                        return self.repo.head(self.branch)  # no-op
                    return self.repo._dv_publish(
                        self.spark, self.branch, name, positions, images, msg,
                        {"dv_merge": {"table": name, "rows": rows}},
                    )

            out = self._try_dv_dml(name, dv_merge, "dv_merge", "MERGE INTO")
            if out is not None:
                return out
        # the staged identity high-water bump rolls back with a failed
        # publish; an evolving schema rewrites every file
        with (
            self._colmeta_rollback(name) if ids_fill and i_clauses else nullcontext(),
            classify(target, ids_fill, want_files=True) as (positions, images, files, rows),
        ):
            c = self.repo._cow_publish(
                self.spark, self.branch, name, target, positions, images,
                None if new_fields else files, msg,
            )
        return self._dml_result(name, c.version, rows)

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
        # Spark's parser reads the column list (the newline ends a
        # trailing comment); PARTITIONED BY and CLUSTER BY stay this
        # statement's own, since Spark refuses the pair
        for col in _parse(self.spark, f"CREATE TABLE t ({cols_text}\n)"):
            low = col.name.lower()
            if low in seen:
                raise ValueError(f"CREATE TABLE: duplicate column {col.name!r}")
            seen.add(low)
            if col.identity and col.default is not None:
                raise ValueError(
                    f"CREATE TABLE: column {col.name!r} cannot be both "
                    "IDENTITY and DEFAULT"
                )
            if col.identity:
                start, step, always = col.identity
                identity[low] = self.repo.build_identity_entry(
                    col.name, col.type, start, step, always=always
                )
            if col.default is not None:
                defaults[low] = col.default
            if col.not_null:
                not_null.append(col.name)
            defs.append((col.name, col.type))
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

    def _insert_replace(self, stmt: _Dml) -> DataFrame:
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
        name, cond, body = self._resolve_table(stmt.table), stmt.cond, stmt.body
        if stmt.subquery:
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
                    deleted = self._rewrite_pruned(name, split, cond)
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

    def _delete(self, stmt: _Dml) -> DataFrame:
        """DELETE FROM t [WHERE cond] — rows where cond IS TRUE are
        removed (NULL-condition rows survive, ANSI DELETE semantics);
        the snapshot is rewritten and committed. The condition runs
        through the rewriter, so subqueries on repo tables work.

        With a simple condition (comparisons/BETWEEN/IN/IS NULL over
        AND/OR), footer min/max stats prune the rewrite to only the
        files that may hold matching rows; provably match-free files are
        carried into the new commit by reference — zero bytes rewritten
        for them, the Delta data-skipping cost model. Any failure in the
        pruned path falls back to the full rewrite.

        A DV DELETE binds its condition on a RAW lineage read, where a
        subquery's table names resolve against the SPARK SESSION CATALOG
        instead of the repo rewriter — a user temp view named like a
        repo table would silently change which rows match (the rewriter
        scopes its own views under lake__ precisely to coexist with user
        views). A parsed subquery therefore keeps DELETE, UPDATE and
        MERGE off the DV route; plain column expressions can't reach
        foreign tables."""
        name, cond = self._resolve_table(stmt.table), stmt.cond
        if cond is not None and self._dv_enabled(name) and not stmt.subquery:
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
                rows = self._rewrite_pruned(name, split, cond)
                c = self.repo.commit(self.branch, f"SQL: DELETE FROM {name}")
                return self._dml_result(name, c.version, rows)
            except ConstraintViolation:
                self.repo.restore_staged_entry(self.branch, name, snap)
                raise  # the full rewrite would fail identically — don't pay it
            except Exception:
                # fall back to the always-correct full rewrite — from the
                # SAME staged state the pruned attempt started from
                self.repo.restore_staged_entry(self.branch, name, snap)
        match = f"({cond}) IS TRUE" if cond else "TRUE"
        rows = self.sql(f"SELECT * FROM {name} WHERE {match}").count()
        kept = self.sql(f"SELECT * FROM {name} WHERE NOT ({match})")
        self.repo.write_table(self.branch, name, kept, mode="overwrite")
        c = self.repo.commit(self.branch, f"SQL: DELETE FROM {name}")
        return self._dml_result(name, c.version, rows)

    def _try_dv_dml(self, name: str, op, meta_key: str, stmt: str) -> DataFrame | None:
        """Run a deletion-vector DML; None means "fall back to the
        rewrite path". Declines on a dirty branch (``repo._dv_read``,
        which every DV writer starts from, refuses it before anything is
        staged — the auto-commit must contain only the vector change —
        so the rewrite path proceeds from untouched state). A failure
        AFTER staging is reset (``repo._dv_publish`` resets its own
        staging; this reset backs it up for the rest) — the branch
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
            # lands a version (as a pruned DELETE that matches no file)
            self.repo.stage_table_files(
                self.branch, name, self.repo.current_files(self.branch, name)
            )
            c = self.repo.commit(self.branch, f"SQL: {stmt} {name}")
            return self._dml_result(name, c.version, 0)
        rows = int(c.meta.get(meta_key, {}).get("rows", 0))
        return self._dml_result(name, c.version, rows)

    @contextmanager
    def _merge_classified(
        self, name, sdf, ta, sa, t_keys, s_keys, m_clauses, i_clauses,
        bs_clauses, subquery, target, ids_fill=None, want_files=False,
    ):
        """MERGE's one classification, which both routes publish. Over
        ``target``, a lineage read (``__lg_fp``, ``__lg_ri``), it builds
        the matched, not-matched-by-source and insert frames, each
        projecting the winning clause once per row as ``__lg_cl``, and
        yields ``(positions, images, files, rows)``: the lineage keys of
        the target rows a clause claimed, the rows that join the table
        (updated images, then inserts, their ``ids_fill`` identity
        columns allocated), the part files the positions name (as
        ``repo._dv_rows`` spells them; None unless ``want_files``) and
        the rows affected. A statement whose clauses hold a subquery is
        classified through the SELECT rewriter, so the subquery reads
        repo tables.

        Delta's multiple-match rule is unconditioned: a target row that
        more than one source row joins raises, whether or not a clause
        claims it, in the job that counts the clauses and before any
        write. The not-matched-by-source frame is an anti join, with no
        source alias in scope: its conditions and SET values see target
        columns only, by construction, and cannot fan out."""
        spark = self.spark
        run = self._select if subquery else spark.sql
        # the rewriter registers repo table t as lake__t, and no table
        # name starts with a reserved prefix, so these names are safe
        # from a subquery's registrations
        tview, sview = "lake__lake__mdv_t", "lake__lake__mdv_s"
        target.createOrReplaceTempView(tview)
        sdf.createOrReplaceTempView(sview)
        on_sql = " AND ".join(
            f"{ta}.`{tk}` = {sa}.`{sk}`" for tk, sk in zip(t_keys, s_keys)
        )
        stored = [c for c in target.columns if c not in _LINEAGE]
        types = {c: target.schema[c].dataType.simpleString() for c in stored}
        cl = F.col("__lg_cl")
        frames, tagged = [], []

        def file_col(c):  # the input of the ``files`` aggregate
            return [c.alias("file")] if want_files else []

        try:
            for kind, clauses, join in (
                (0, m_clauses, "JOIN"), (1, bs_clauses, "LEFT ANTI JOIN")
            ):
                if not clauses:
                    continue
                sel = _first_match_sel([c for c, _a, _x in clauses])
                f = run(
                    f"SELECT * FROM (SELECT ({sel}) AS __lg_cl, "
                    f"{ta}.`__lg_fp` AS __lg_fp, {ta}.`__lg_ri` AS __lg_ri, "
                    f"{', '.join(_clause_proj_cols(clauses, stored, types, ta))} "
                    f"FROM {tview} {ta} {join} {sview} {sa} ON {on_sql})"
                    + (" WHERE __lg_cl > 0" if kind else "")
                )
                if not kind:
                    # the matched frame keeps unclaimed rows for the
                    # multiple-match count, by their lineage keys alone
                    f = f.select(cl, *_LINEAGE, *[
                        F.when(cl > 0, F.col(f"`{c}`")).alias(c) for c in stored
                    ])
                f = f.persist()
                upd = cl.isin([i + 1 for i, (_c, a, _x) in enumerate(clauses) if a == "update"])
                frames.append((kind, f, upd))
                tagged.append(f.select(
                    F.lit(kind).alias("k"), (cl > 0).alias("claimed"),
                    upd.alias("image"), *_LINEAGE,
                    *file_col(self.repo._dv_file(spark)),
                ))
            if i_clauses:
                sel = _first_match_sel([c for c, _e in i_clauses])
                ins = run(
                    f"SELECT {', '.join(f'`{c}`' for c in stored)} FROM ("
                    f"SELECT ({sel}) AS __lg_cl, "
                    f"{', '.join(_insert_proj_cols(i_clauses, stored, types))} "
                    f"FROM {sview} {sa} LEFT ANTI JOIN {tview} {ta} ON {on_sql}"
                    f") WHERE __lg_cl > 0"
                ).persist()
                frames.append((2, ins, None))
                none = F.lit(None).cast("string")
                tagged.append(ins.select(
                    F.lit(2).alias("k"), F.lit(True).alias("claimed"),
                    F.lit(True).alias("image"), none.alias("__lg_fp"),
                    F.lit(None).cast("long").alias("__lg_ri"),
                    *file_col(none),
                ))
            k, claimed, image = F.col("k"), F.col("claimed"), F.col("image")
            # every frame counted in one job (a MERGE has a clause)
            counted = reduce(DataFrame.unionByName, tagged).agg(
                *[F.count_if((k == i) & claimed).alias(f"n{i}") for i in range(3)],
                *[F.count_if((k == i) & image).alias(f"image{i}") for i in range(3)],
                *([F.collect_set(F.when(claimed, F.col("file"))).alias("files")]
                  if want_files else []),
                (F.count_if(k == 0) > F.count_distinct(
                    F.when(k == 0, F.col("__lg_fp")), F.col("__lg_ri")
                )).alias("dup"),
            ).first()
            if counted.dup:
                raise ValueError(
                    "MERGE source has multiple rows per join key that "
                    "match a target row — ambiguous (Delta raises here too)"
                )
            positions, images = [], []
            for kind, f, upd in frames:
                n = counted[f"n{kind}"]
                if upd is not None:
                    if n:
                        positions.append(f.where(cl > 0).select(*_LINEAGE))
                    if counted[f"image{kind}"]:
                        images.append(f.where(upd).select(*stored))
                elif n:
                    if ids_fill:
                        by_lower = {c.lower(): c for c in stored}
                        f = self._fill_identity(
                            name, f.drop(*[by_lower[c] for c in ids_fill]),
                            [target.schema[c] for c in stored], ids_fill, n,
                        )
                    images.append(f)
            yield (
                reduce(DataFrame.unionByName, positions) if positions else None,
                reduce(DataFrame.unionByName, images) if images else None,
                sorted(counted.files) if want_files else None,
                sum(counted[f"n{i}"] for i in range(3)),
            )
        finally:
            for _k, f, _u in frames:
                f.unpersist(blocking=False)

    def _rewrite_pruned(
        self, name: str, split: tuple, cond: str, proj: list | None = None
    ) -> int:
        """The copy-on-write pruned rewrite shared by DELETE, UPDATE and
        the delete half of INSERT ... REPLACE WHERE: read the candidate
        files of ``split`` (``_prune_split``'s safe, candidate, info)
        through the schema map, rewrite them, and stage the safe files
        plus the rewritten ones. Without ``proj`` the rows where
        ``cond`` is TRUE are dropped; with it every candidate row is
        re-projected (UPDATE's CASE projection). Returns the affected
        rows; the caller commits. Raises (→ the caller's fallback) when
        an expression needs the SQL rewriter (e.g. a subquery on a repo
        table)."""
        safe, cand, info = split
        files = list(safe)
        rows = 0
        if cand:
            # candidate files are read raw, so a column-mapped table needs
            # the same schema-step replay the branch views get from
            # read_table
            steps = self.repo.table_schema_map(name, ref=self.branch)
            cand_df = self.repo._read_files(self.spark, cand, merge_schema=bool(steps))
            if steps:
                cand_df = self.repo.apply_schema_map(cand_df, steps)
            if proj is None:
                kept = cand_df.filter(F.expr(f"({cond}) IS NOT TRUE"))
                kept_n = kept.count()
                before = info.get("candidate_rows")
                if before is None:
                    before = cand_df.count()
                rows, out = before - kept_n, (kept if kept_n else None)
            else:
                rows = cand_df.filter(F.expr(f"({cond}) IS TRUE")).count()
                out = cand_df.selectExpr(*proj)
            if out is not None:
                files.append(
                    self.repo.write_table(self.branch, name, out, mode="overwrite")
                )
        self.repo.stage_table_files(self.branch, name, files)
        return rows

    def _update(self, stmt: _Dml) -> DataFrame:
        """UPDATE t SET c = expr, ... [WHERE cond] — rewritten as one
        projection (CASE WHEN cond IS TRUE THEN expr ELSE c END, cast
        back to the column's type so the table schema never drifts).
        Generated column references are backticked, so a column named
        like a repo table survives the lexical table rewrite."""
        name, cond = self._resolve_table(stmt.table), stmt.cond
        target = self.repo.read_table(self.spark, name, ref=self.branch, include_staged=True)
        id_cols = self.repo.identity_columns(name, self.branch)
        gen_cols = self.repo._generated_names(
            self.repo.table_schema_map(name, ref=self.branch)
        )
        resolved = {f.name.lower(): f.name for f in target.schema.fields}
        assigns: dict[str, str] = {}
        for parts, expr in stmt.assigns:
            col = _target_col(parts, name)
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
            assigns[resolved[col.lower()]] = expr
        if cond is not None and self._dv_enabled(name) and not stmt.subquery:
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
                rows = self._rewrite_pruned(name, split, cond, proj)
                c = self.repo.commit(self.branch, f"SQL: UPDATE {name}")
                return self._dml_result(name, c.version, rows)
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
    (_INSERT_REPLACE_RE.match, lambda s, m: s._insert_replace(_parse(s.spark, m.string))),
    (_INSERT_RE.match, lambda s, m: s._insert(m.group("table"), m.group("body"), m.group("cols"))),
    (_MERGE_INTO_RE.match, lambda s, m: s._merge_into(_parse(s.spark, m.string))),
    (_DELETE_RE.match, lambda s, m: s._delete(_parse(s.spark, m.string))),
    (_UPDATE_RE.match, lambda s, m: s._update(_parse(s.spark, m.string))),
)

"""Property-based fuzz of the ``LakeSQL`` lexical rewriter (hypothesis).

The round-4 backtick bug was found by review, not by a test — this suite
makes the rewriter's whole lexical surface (identifier case, whitespace,
backticks, string-literal escapes, time-travel clauses, decoy literals
containing SQL keywords/table names) a *differential* property:

    lsql.sql(Q over repo tables)  ==  spark.sql(Q over equivalently
                                      pinned plain temp views)

Only the table reference differs between the two query texts, so every
other lexical feature (escape parsing, literal content, keyword case) is
evaluated by the SAME Spark parser on both sides — the test never has to
model escape semantics itself, it only asserts the rewriter touched
nothing but the table reference.
"""

from __future__ import annotations

import tempfile

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning import LakeRepo, LakeSQL

# chaos/fuzz/property suite: excluded from the fast per-batch sweep (r13)
pytestmark = pytest.mark.slow


@pytest.fixture(scope="module")
def fuzz_env(spark):
    """One read-only repo shared by every hypothesis example: table
    ``events`` at two committed versions (5 then 10 rows), plus oracle
    temp views pinned to each snapshot."""
    tmp = tempfile.mkdtemp(prefix="lakesql_fuzz_")
    repo = LakeRepo.init(tmp + "/lake")
    df5 = spark.range(5).selectExpr("id", "CAST(id * 10 AS STRING) AS val")
    repo.write_table("main", "events", df5)
    c1 = repo.commit("main", "v1")
    df10 = spark.range(10).selectExpr("id", "CAST(id * 10 AS STRING) AS val")
    repo.write_table("main", "events", df10)
    repo.commit("main", "v2")

    # oracle views: same snapshots through the plain API, no rewriting
    repo.read_table(spark, "events", ref="main").createOrReplaceTempView(
        "oracle_events_head"
    )
    repo.read_table(
        spark, "events", ref="main", version_as_of=c1.version
    ).createOrReplaceTempView("oracle_events_v1")
    lsql = LakeSQL(spark, repo)
    return spark, lsql, c1.version


# lexical ingredients ------------------------------------------------------

_WS = st.sampled_from([" ", "  ", "\n ", " \t "])
_TABLE_SPELLING = st.sampled_from(["events", "EVENTS", "Events", "`events`", "`Events`"])
# decoy literal VALUES that must ride through the rewrite untouched; the
# escaped SQL spelling is produced per escape style below
_LIT_VALUE = st.sampled_from(
    [
        "VERSION AS OF 1",
        "FROM events",
        "events",
        "it's fine",
        "no-op",
        "join EVENTS @v1",
    ]
)
_ESCAPE_STYLE = st.sampled_from(["double", "backslash"])


def _sql_literal(value: str, style: str) -> str:
    if style == "double":
        return "'" + value.replace("'", "''") + "'"
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


@st.composite
def _query_parts(draw):
    ws = draw(_WS)
    spelling = draw(_TABLE_SPELLING)
    travel = draw(st.sampled_from(["head", "version", "at"]))
    lit = _sql_literal(draw(_LIT_VALUE), draw(_ESCAPE_STYLE))
    limit = draw(st.integers(min_value=0, max_value=12))
    kw_from = draw(st.sampled_from(["FROM", "from", "From"]))
    return ws, spelling, travel, lit, limit, kw_from


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(parts=_query_parts())
def test_rewriter_differential(fuzz_env, parts):
    spark, lsql, v1 = fuzz_env
    ws, spelling, travel, lit, limit, kw_from = parts

    if travel == "head":
        tref, oracle_view = spelling, "oracle_events_head"
    elif travel == "version":
        # time-travel clause spelled on a BARE ref (the clause regexes
        # are bare-identifier based; backticked spelling normalizes to
        # bare only in table position, which FROM/JOIN position is)
        tref, oracle_view = f"{spelling}{ws}VERSION AS OF {v1}", "oracle_events_v1"
    else:
        bare = spelling.strip("`")
        tref, oracle_view = f"{bare}@v{v1}", "oracle_events_v1"

    tail = f"SELECT{ws}id,{ws}val,{ws}{lit}{ws}AS{ws}lit{ws}{kw_from}{ws}"
    guard = f"{ws}WHERE{ws}id{ws}<{ws}{limit}"
    got = lsql.sql(tail + tref + guard).collect()
    exp = spark.sql(tail + oracle_view + guard).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, exp))


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    col_spelling=st.sampled_from(["`events`", "`EVENTS`"]),
    ws=_WS,
)
def test_backticked_column_named_like_table_survives(fuzz_env, col_spelling, ws):
    """ADVICE r4: a backticked COLUMN sharing a repo table's name must
    NOT be rewritten to the lake__ view (backticks only normalize in
    table position). ``other`` is a plain temp view carrying a column
    literally named ``events``."""
    spark, lsql, _ = fuzz_env
    spark.range(3).selectExpr("id AS k", "id + 100 AS `events`").createOrReplaceTempView(
        "fuzz_other"
    )
    got = lsql.sql(
        f"SELECT{ws}{col_spelling}{ws}AS{ws}e{ws}FROM{ws}fuzz_other"
    ).collect()
    assert sorted(r.e for r in got) == [100, 101, 102]


def test_literal_containing_backticked_table(fuzz_env):
    """A string literal containing a backticked table name is masked
    before backtick normalization ever sees it."""
    spark, lsql, _ = fuzz_env
    r = lsql.sql("SELECT '`events` FROM events' AS s, count(*) AS n FROM events").collect()
    assert r[0].s == "`events` FROM events"
    assert r[0].n == 10


# DML SET-list splitter (r5) ----------------------------------------------

_EXPR_ATOMS = st.sampled_from(
    [
        "1",
        "id + 1",
        "concat('a,b', val)",
        "'x,y'",
        "'it''s, fine'",
        "greatest(id, 2, 3)",
        "CASE WHEN id > 1 THEN 'a,b' ELSE val END",
        "substr(val, 1, 2)",
        "array(1, 2)[0]",
    ]
)


@given(exprs=st.lists(_EXPR_ATOMS, min_size=1, max_size=5))
@settings(deadline=None, max_examples=60)
def test_split_top_level_roundtrips_assignments(exprs):
    """Joining N assignments with commas and re-splitting yields exactly
    the N assignments — commas inside literals (including ''-escaped),
    function calls, CASE, and array indexing never split."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import _split_top_level

    assigns = [f"c{i} = {e}" for i, e in enumerate(exprs)]
    out = _split_top_level(", ".join(assigns))
    assert out == assigns


# stored-view rewriter (r13) ------------------------------------------------


@pytest.fixture(scope="module")
def view_env(spark):
    """A repo with a stored VIEW over events, plus an oracle temp view
    pinned to the same rows through the plain API (no rewriting)."""
    tmp = tempfile.mkdtemp(prefix="lakesql_viewfuzz_")
    repo = LakeRepo.init(tmp + "/lake")
    df = spark.range(10).selectExpr("id", "CAST(id * 10 AS STRING) AS val")
    repo.write_table("main", "events", df)
    repo.commit("main", "v1")
    lsql = LakeSQL(spark, repo)
    lsql.sql("CREATE VIEW recent AS SELECT id, val FROM events WHERE id >= 5")
    repo.read_table(spark, "events", ref="main").where(
        "id >= 5"
    ).createOrReplaceTempView("oracle_recent")
    return spark, lsql


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ws=_WS,
    spelling=st.sampled_from(
        ["recent", "RECENT", "Recent", "`recent`", "`Recent`"]
    ),
    lit=st.builds(_sql_literal, _LIT_VALUE, _ESCAPE_STYLE),
    limit=st.integers(min_value=0, max_value=12),
    kw_from=st.sampled_from(["FROM", "from", "From"]),
)
def test_view_rewriter_differential(view_env, ws, spelling, lit, limit, kw_from):
    """A stored view behaves exactly like an equivalently pinned plain
    temp view under every lexical spelling (case, whitespace, backticks,
    decoy literals) — the view-expansion rewrite touches nothing but
    the view reference."""
    spark, lsql = view_env
    q = (
        f"SELECT{ws}id,{ws}val,{ws}{lit}{ws}AS{ws}lit{ws}{kw_from}{ws}"
        f"{{v}}{ws}WHERE{ws}id{ws}<{ws}{limit}"
    )
    got = lsql.sql(q.format(v=spelling)).collect()
    exp = spark.sql(q.format(v="oracle_recent")).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, exp))


def test_view_name_in_literal_survives(view_env):
    spark, lsql = view_env
    r = lsql.sql(
        "SELECT 'recent FROM recent' AS s, count(*) AS n FROM recent"
    ).collect()
    assert r[0].s == "recent FROM recent" and r[0].n == 5


# CREATE TABLE column-definition list (r13) ---------------------------------

_COLTYPES = st.sampled_from(
    [
        "INT",
        "STRING",
        "DECIMAL(10, 2)",
        "MAP<STRING, INT>",
        "ARRAY<INT>",
        "STRUCT<a: INT, b: STRING>",
        "ARRAY<STRUCT<x: INT, y: ARRAY<INT>>>",
        "MAP<STRING, ARRAY<INT>>",
    ]
)
_COLDEF_TAILS = st.sampled_from(
    [
        "",
        " NOT NULL",
        " DEFAULT 7",
        " DEFAULT 1<2",
        " DEFAULT 1 < 2",
        " DEFAULT (2 > 1)",
        " DEFAULT 'a,b'",
        " DEFAULT concat('x', 'y')",
        " DEFAULT 'MAP<'",
    ]
)


@given(defs=st.lists(st.tuples(_COLTYPES, _COLDEF_TAILS), min_size=1, max_size=6))
@settings(deadline=None, max_examples=80)
def test_create_table_column_list_roundtrips(spark, defs):
    """Joining N column definitions with commas and parsing the CREATE
    TABLE yields exactly the N columns — commas inside generic types
    (nested MAP/ARRAY/STRUCT), DECIMAL precision, and literals never
    split a definition, and a DEFAULT expression holding a comparison
    (glued or spaced) comes back as written (ADVICE r12)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import _parse

    parts = [f"c{i} {t}{tail}" for i, (t, tail) in enumerate(defs)]
    cols = _parse(spark, f"CREATE TABLE t ({', '.join(parts)})")
    assert [c.name for c in cols] == [f"c{i}" for i in range(len(defs))]
    for c, (t, tail) in zip(cols, defs):
        assert c.type.replace(" ", "") == t.replace(" ", "")
        assert c.not_null == (tail == " NOT NULL")
        assert c.default == (tail[len(" DEFAULT ") :] if "DEFAULT" in tail else None)

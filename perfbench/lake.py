"""The ``lake_session`` workload: a scripted ``LakeSQL`` session and its
DuckDB replay.

The base repo holds ``lineitem`` (deletion vectors on) and ``orders``
(copy-on-write). Every pass starts from an identical copy of that base
and runs the same statement blocks in a seed-shuffled order; the DML key
ranges are drawn from the seed too. ``Replay`` applies the same script to
plain DuckDB tables and gives the expected result of every read.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

import duckdb
import pandas as pd

#: statement kinds, as named by the ``sql.<kind>_s`` / ``sql.<kind>_jobs`` metrics
KINDS = (
    "insert", "update", "delete", "merge_into", "select_head", "select_asof",
    "select_pruned", "meta_count", "history", "table_changes", "branch",
    "merge_branch", "optimize", "restore",
)
READ_KINDS = frozenset({"select_head", "select_asof", "select_pruned", "meta_count", "history", "table_changes"})
KEY_SPAN = 150_000  # l_orderkey / o_orderkey lie in [0, KEY_SPAN)
ORDERS_COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
#: whole-table fingerprints, compared between the engine and the replay
#: after the warmup pass: per group, the row count, sums of every integer
#: column and of cross products (exact in both engines), float and
#: timestamp extremes
FINGERPRINTS = {
    "lineitem": (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_orderkey) AS ok, SUM(l_partkey) AS pk, "
        "SUM(l_suppkey) AS sk, SUM(l_linenumber) AS ln, SUM(l_quantity) AS qty, "
        "SUM(l_orderkey * l_quantity) AS ok_qty, SUM(l_partkey * l_linenumber) AS pk_ln, "
        "MIN(l_extendedprice) AS price_lo, MAX(l_extendedprice) AS price_hi, "
        "MIN(l_discount + l_tax) AS dt_lo, MAX(l_discount + l_tax) AS dt_hi, "
        "MIN(l_shipdate) AS ship_lo, MAX(l_shipdate) AS ship_hi "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"
    ),
    "orders": (
        "SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, SUM(o_orderkey) AS ok, SUM(o_custkey) AS ck, "
        "SUM(o_orderkey * o_custkey) AS ok_ck, MIN(o_totalprice) AS price_lo, MAX(o_totalprice) AS price_hi, "
        "MIN(o_orderdate) AS date_lo, MAX(o_orderdate) AS date_hi "
        "FROM orders GROUP BY o_orderstatus, o_orderpriority"
    ),
}


@dataclass
class Stmt:
    kind: str
    sql: str  # LakeSQL text; ``{version}`` is filled in when the statement runs
    duck: list[str] = field(default_factory=list)  # DuckDB replay statements
    writes: str | None = None  # table whose rows or files the statement changes
    branch: str = "main"

    @property
    def read(self) -> bool:
        return self.kind in READ_KINDS

    @property
    def op(self) -> str:
        """A name unique within a pass."""
        return self.kind if self.branch == "main" else f"{self.kind}@{self.branch}"


def seed_base(spark, data_dir: str, root: str, span) -> dict:
    """Create the base repo: ``lineitem`` range-clustered on ``l_orderkey``
    into 8 files (so a key-range DELETE can skip files) with deletion
    vectors enabled, and ``orders`` left copy-on-write. Returns the
    version of the commit that wrote ``orders`` (``orders``) and the head
    version (``base``). ``span(name, fn)`` runs each engine call."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.sources.io import load_table
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning import LakeRepo, LakeSQL

    repo = span("LakeRepo.init", lambda: LakeRepo.init(root))
    lineitem = load_table(spark, data_dir, "lineitem").repartitionByRange(8, "l_orderkey").sortWithinPartitions("l_orderkey")
    span("LakeRepo.write_table", lambda: repo.write_table("main", "lineitem", lineitem))
    span("LakeRepo.write_table", lambda: repo.write_table("main", "orders", load_table(spark, data_dir, "orders")))
    seeded = span("LakeRepo.commit", lambda: repo.commit("main", "seed lineitem and orders"))
    props = span(
        "LakeSQL.sql",
        lambda: LakeSQL(spark, repo).sql(
            "ALTER TABLE lineitem SET TBLPROPERTIES ('delta.enableDeletionVectors' = 'true')"
        ).collect(),
    )
    base = int(props[0]["version"])
    return {"orders": seeded.version, "base": base}


def pass_script(rng: random.Random, base: int) -> list[Stmt]:
    """One pass: the write blocks in seed-shuffled order, then the reads
    in seed-shuffled order, then ``TABLE_CHANGES`` over the last version
    step of ``orders``. Reads follow all writes so that each read sees the
    same table state (row count, deletion vectors) whatever the order."""

    def keys(width: int) -> tuple[int, int]:
        lo = rng.randrange(0, KEY_SPAN - width)
        return lo, lo + width - 1

    a, b = keys(1000)
    insert = f"INSERT INTO lineitem SELECT * FROM lineitem WHERE l_orderkey BETWEEN {a} AND {b}"
    a, b = keys(1000)
    update = f"UPDATE lineitem SET l_quantity = l_quantity + 1 WHERE l_orderkey BETWEEN {a} AND {b}"
    a, b = keys(1000)
    delete = f"DELETE FROM lineitem WHERE l_orderkey BETWEEN {a} AND {b}"
    a, b = keys(1000)
    # even keys match (update), odd keys are shifted past the key span (insert)
    source = (
        f"SELECT o_orderkey + {KEY_SPAN} * (o_orderkey % 2) AS o_orderkey, o_custkey, o_orderstatus, "
        f"o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey BETWEEN {a} AND {b}"
    )
    merge = (
        f"MERGE INTO orders t USING ({source}) s ON t.o_orderkey = s.o_orderkey "
        "WHEN MATCHED THEN UPDATE SET o_orderstatus = 'X' WHEN NOT MATCHED THEN INSERT *"
    )
    merge_duck = [
        f"CREATE OR REPLACE TEMP TABLE merge_src AS {source}",
        "UPDATE orders SET o_orderstatus = 'X' FROM merge_src s WHERE orders.o_orderkey = s.o_orderkey",
        f"INSERT INTO orders SELECT {ORDERS_COLS} FROM merge_src s "
        "WHERE NOT EXISTS (SELECT 1 FROM orders t WHERE t.o_orderkey = s.o_orderkey)",
    ]
    a, b = keys(1000)
    # appended on the branch under fresh keys, past those the merge inserts
    branch_insert = (
        f"INSERT INTO orders SELECT o_orderkey + {2 * KEY_SPAN} AS o_orderkey, o_custkey, o_orderstatus, "
        f"o_totalprice, o_orderdate, o_orderpriority FROM orders WHERE o_orderkey BETWEEN {a} AND {b}"
    )
    a, b = keys(2000)
    pruned = (
        "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
        f"WHERE l_orderkey BETWEEN {a} AND {b}"
    )
    head_agg = (
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty "
        "FROM lineitem GROUP BY l_returnflag, l_linestatus"
    )
    # integer sums and float extremes only: a float SUM's last digits depend on the order rows are added
    asof = (
        "SELECT o_orderstatus, COUNT(*) AS n, SUM(o_custkey) AS custkeys, MAX(o_totalprice) AS top "
        "FROM {src} GROUP BY o_orderstatus"
    )
    blocks = [
        [Stmt("insert", insert, [insert], "lineitem")],
        [Stmt("update", update, [update], "lineitem")],
        [Stmt("delete", delete, [delete], "lineitem")],
        [Stmt("merge_into", merge, merge_duck, "orders")],
        [
            Stmt("branch", "CREATE BRANCH dev"),
            Stmt("insert", branch_insert, [branch_insert], "orders", branch="dev"),
            Stmt("merge_branch", "MERGE BRANCH dev INTO main"),
        ],
        [Stmt("optimize", "OPTIMIZE orders", [], "orders")],
        [
            Stmt(
                "restore",
                f"RESTORE TABLE orders TO VERSION AS OF {base}",
                ["DELETE FROM orders", "INSERT INTO orders SELECT * FROM base_orders"],
                "orders",
            )
        ],
        [Stmt("select_head", head_agg, [head_agg])],
        [Stmt("select_asof", asof.format(src=f"orders VERSION AS OF {base}"), [asof.format(src="base_orders")])],
        [Stmt("select_pruned", pruned, [pruned])],
        [Stmt("meta_count", "SELECT COUNT(*) AS n FROM lineitem", ["SELECT COUNT(*) AS n FROM lineitem"])],
        [Stmt("history", "DESCRIBE HISTORY orders")],
    ]
    writes, reads = blocks[:7], blocks[7:]
    rng.shuffle(writes)
    rng.shuffle(reads)
    changes = (
        "SELECT _change_type, COUNT(*) AS n, SUM(o_custkey) AS custkeys, MAX(o_totalprice) AS top "
        "FROM TABLE_CHANGES(orders, {version}, {version}) GROUP BY _change_type"
    )
    return [s for blk in writes + reads for s in blk] + [Stmt("table_changes", changes)]


class Replay:
    """The script applied to plain DuckDB tables: the expected result of
    every read statement. ``MERGE INTO`` is replayed as ``UPDATE … FROM``
    plus an anti-joined ``INSERT`` (DuckDB 1.0 has no ``MERGE``)."""

    def __init__(self, data_dir: str, temp_dir: str):
        self.con = duckdb.connect(config={
            "threads": 2,
            "temp_directory": temp_dir,
            "autoinstall_known_extensions": False,
            "autoload_known_extensions": False,
        })
        for t in ("lineitem", "orders"):
            self.con.execute(f"CREATE TABLE base_{t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")

    def reset(self, base_versions: dict) -> None:
        """Back to the base tables; ``orders`` was last changed by the
        commit ``base_versions["orders"]``."""
        for t in ("lineitem", "orders"):
            self.con.execute(f"CREATE OR REPLACE TABLE {t} AS SELECT * FROM base_{t}")
        self.con.execute("CREATE OR REPLACE TABLE orders_prev AS SELECT * FROM orders")
        #: versions of the commits after which ``orders``'s snapshot
        #: differed from the one before: the rows ``DESCRIBE HISTORY`` lists
        self.orders_versions = [base_versions["orders"]]
        self.orders_at_base = True

    def apply(self, stmt: Stmt, version: int | None) -> pd.DataFrame | None:
        """Apply ``stmt``; ``version`` is the commit version the engine
        reported for it (writes only). Returns the expected result of a read."""
        if stmt.kind == "history":
            return pd.DataFrame({"version": sorted(self.orders_versions, reverse=True)})
        if stmt.kind == "table_changes":
            return self.con.sql(
                "SELECT 'insert' AS _change_type, * FROM (SELECT * FROM orders EXCEPT ALL SELECT * FROM orders_prev) "
                "UNION ALL SELECT 'delete', * FROM (SELECT * FROM orders_prev EXCEPT ALL SELECT * FROM orders)"
            ).aggregate("_change_type, COUNT(*) AS n, SUM(o_custkey) AS custkeys, MAX(o_totalprice) AS top").df()
        if stmt.writes == "orders":
            self.con.execute("CREATE OR REPLACE TABLE orders_prev AS SELECT * FROM orders")
            # a RESTORE onto the base snapshot, before any other write to
            # ``orders``, commits but changes nothing
            if version is not None and not (stmt.kind == "restore" and self.orders_at_base):
                self.orders_versions.append(version)
            self.orders_at_base = stmt.kind == "restore"
        out = None
        for q in stmt.duck:
            if stmt.read:
                out = self.con.sql(q).df()
            else:
                self.con.execute(q)
        return out

    def close(self) -> None:
        self.con.close()


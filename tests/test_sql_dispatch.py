"""Routing golden test for ``LakeSQL.sql()``: one example of every
statement form, run in order against one repo. Each example pins the
result's column names and types (the schema identifies the handler that
answered) and the message of the commit it published on ``main``, or
``None`` when ``main``'s head did not move. Forms that share a prefix
(``COPY (SELECT …) TO`` / ``COPY t TO`` / ``COPY INTO``, the four
``CREATE TABLE`` spellings, the three ``ADD COLUMN`` spellings, ``INSERT
… REPLACE WHERE`` / ``INSERT``, ``MERGE BRANCH`` / ``MERGE INTO``, the
``DESCRIBE`` family) sit side by side so a precedence change shows."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import LakeRepo
from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

_DML = "struct<table:string,version:int,rows_affected:bigint>"
_COMMIT = "struct<version:int,commit_id:string,message:string>"
_COPY_TO = "struct<path:string,format:string,rows_copied:bigint>"

# (form, statement, result schema, commit message on main or None);
# ``{tmp}`` is the test's scratch directory
SCRIPT = [
    ("create_columns", "CREATE TABLE t (k INT, v STRING, p INT) PARTITIONED BY (p)", _DML, "SQL: CREATE TABLE t (schema)"),
    ("insert", "INSERT INTO t VALUES (1, 'a', 1), (2, 'b', 2), (3, 'c', 1)", _DML, "SQL: INSERT INTO t"),
    (
        "insert_replace_where",
        "INSERT INTO t REPLACE WHERE k = 3 SELECT 3, 'cc', 1",
        "struct<table:string,version:int,num_deleted:bigint,num_inserted:bigint>",
        "SQL: INSERT INTO t REPLACE WHERE",
    ),
    ("ctas", "CREATE TABLE s AS SELECT k, v FROM t", _DML, "SQL: CREATE TABLE s AS SELECT"),
    ("create_like", "CREATE TABLE t_like LIKE t", _DML, "SQL: CREATE TABLE t_like LIKE t"),
    ("clone", "CREATE TABLE t_clone SHALLOW CLONE t", _COMMIT, "CLONE t -> t_clone"),
    ("update", "UPDATE t SET v = 'bb' WHERE k = 2", _DML, "SQL: UPDATE t"),
    ("delete", "DELETE FROM t WHERE k = 1", _DML, "SQL: DELETE FROM t"),
    (
        "merge_into",
        "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.v, 0)",
        _DML,
        "SQL: MERGE INTO t",
    ),
    (
        "describe_history",
        "DESCRIBE HISTORY t",
        "struct<version:int,commit_id:string,timestamp:timestamp,operation:string,message:string,branch:string>",
        None,
    ),
    ("show_tables", "SHOW TABLES", "struct<tableName:string>", None),
    (
        "describe_detail",
        "DESCRIBE DETAIL t",
        "struct<name:string,format:string,branch:string,numFiles:bigint,sizeInBytes:bigint,"
        "version:int,lastModified:timestamp>",
        None,
    ),
    ("restore", "RESTORE TABLE s TO VERSION AS OF 4", _COMMIT, "restore s to version 4"),
    ("optimize", "OPTIMIZE t", "struct<table:string,version:int,file_groups:int>", "SQL: OPTIMIZE t"),
    # no deletion vectors to purge: the head commit comes back unchanged
    ("reorg_purge", "REORG TABLE t APPLY (PURGE)", _COMMIT, None),
    (
        "describe_stats",
        "DESCRIBE STATS t",
        "struct<file:string,column:string,min:string,max:string,null_count:bigint,row_count:bigint>",
        None,
    ),
    ("analyze", "ANALYZE TABLE t COMPUTE STATISTICS", "struct<statistic:string,value:string>", None),
    ("set_tblproperties", "ALTER TABLE t SET TBLPROPERTIES ('k1' = 'v1')", _COMMIT, "SET TBLPROPERTIES (k1) ON t"),
    ("unset_tblproperties", "ALTER TABLE t UNSET TBLPROPERTIES ('k1')", _COMMIT, "UNSET TBLPROPERTIES (k1) ON t"),
    ("show_tblproperties", "SHOW TBLPROPERTIES t", "struct<key:string,value:string>", None),
    ("add_constraint", "ALTER TABLE t ADD CONSTRAINT k_pos CHECK (k > 0)", _COMMIT, "ADD CONSTRAINT k_pos ON t"),
    ("drop_constraint", "ALTER TABLE t DROP CONSTRAINT k_pos", _COMMIT, "DROP CONSTRAINT k_pos ON t"),
    ("copy_select_to", "COPY (SELECT k FROM t) TO '{tmp}/out_sel' FORMAT CSV WITH HEADER", _COPY_TO, None),
    ("copy_table_to", "COPY t TO '{tmp}/out_tbl'", _COPY_TO, None),
    (
        "copy_into",
        "COPY INTO t FROM '{tmp}/landing' FILEFORMAT = PARQUET",
        "struct<num_inserted_rows:bigint,num_loaded_files:int,num_skipped_files:int>",
        "SQL: COPY INTO t (1 files, 2 rows)",
    ),
    ("truncate", "TRUNCATE TABLE t_like", _DML, "SQL: TRUNCATE TABLE t_like"),
    ("create_view", "CREATE VIEW vw AS SELECT k FROM t", _COMMIT, "SQL: CREATE VIEW vw"),
    ("alter_view", "ALTER VIEW vw AS SELECT k, v FROM t", _COMMIT, "SQL: ALTER VIEW vw"),
    ("rename_table", "ALTER TABLE t_clone RENAME TO t_renamed", _COMMIT, "SQL: ALTER TABLE t_clone RENAME TO t_renamed"),
    ("drop_view", "DROP VIEW vw", _COMMIT, "SQL: DROP VIEW vw"),
    ("show_views", "SHOW VIEWS", "struct<view_name:string,view_text:string,view_cols:string>", None),
    ("show_create", "SHOW CREATE TABLE t", "struct<createtab_stmt:string>", None),
    (
        "add_identity_column",
        "ALTER TABLE s ADD COLUMN id BIGINT GENERATED ALWAYS AS IDENTITY",
        _COMMIT,
        "ALTER TABLE s ADD COLUMN id BIGINT GENERATED ALWAYS AS IDENTITY",
    ),
    ("cluster_by", "ALTER TABLE s CLUSTER BY (k)", _COMMIT, "SQL: ALTER TABLE s CLUSTER BY (k)"),
    ("alter_column_type", "ALTER TABLE s ALTER COLUMN k TYPE BIGINT", _COMMIT, "ALTER TABLE s ALTER COLUMN k TYPE bigint"),
    # every identity value is already at or below the high-water mark
    ("sync_identity", "ALTER TABLE s SYNC IDENTITY", _COMMIT, None),
    ("set_default", "ALTER TABLE t ALTER COLUMN v SET DEFAULT 'x'", _COMMIT, "ALTER TABLE t ALTER COLUMN v SET DEFAULT"),
    ("drop_default", "ALTER TABLE t ALTER COLUMN v DROP DEFAULT", _COMMIT, "ALTER TABLE t ALTER COLUMN v DROP DEFAULT"),
    (
        "add_generated_column",
        "ALTER TABLE t ADD COLUMN k2 INT GENERATED ALWAYS AS (k * 2)",
        _COMMIT,
        "ALTER TABLE t ADD COLUMN k2 INT GENERATED ALWAYS AS (k * 2)",
    ),
    ("add_column", "ALTER TABLE t ADD COLUMN w STRING", _COMMIT, "ALTER TABLE t ADD COLUMN w STRING"),
    ("rename_column", "ALTER TABLE t RENAME COLUMN w TO w2", _COMMIT, "ALTER TABLE t RENAME COLUMN w TO w2"),
    ("drop_column", "ALTER TABLE t DROP COLUMN w2", _COMMIT, "ALTER TABLE t DROP COLUMN w2"),
    ("show_constraints", "SHOW CONSTRAINTS t", "struct<name:string,check_expr:string>", None),
    (
        "describe_table",
        "DESCRIBE t",
        "struct<col_name:string,data_type:string,nullable:boolean,extra:string>",
        None,
    ),
    ("vacuum", "VACUUM DRY RUN", "struct<path:string>", None),
    ("create_branch", "CREATE BRANCH dev", "struct<branch:string,head_commit:string>", None),
    ("use_branch", "USE BRANCH dev", "struct<branch:string>", None),
    ("insert_on_branch", "INSERT INTO t_like VALUES (9, 'z', 1)", _DML, None),
    ("use_branch_back", "USE BRANCH main", "struct<branch:string>", None),
    ("show_branches", "SHOW BRANCHES", "struct<branch:string,head_commit:string,version:int>", None),
    ("show_partitions", "SHOW PARTITIONS t", "struct<partition:string>", None),
    # the runner stages one table write before this statement
    ("commit", "COMMIT MESSAGE 'checkpoint'", _COMMIT, "checkpoint"),
    (
        "merge_branch",
        "MERGE BRANCH dev INTO main",
        "struct<branch:string,version:int,commit_id:string>",
        "merge dev into main",
    ),
    ("drop_branch", "DROP BRANCH dev", "struct<dropped:string>", None),
    ("drop_table", "DROP TABLE t_renamed", _DML, "SQL: DROP TABLE t_renamed"),
    ("select", "SELECT k FROM t", "struct<k:int>", None),
    ("select_meta_count", "SELECT COUNT(*) AS n FROM t", "struct<n:bigint>", None),
    ("select_version_as_of", "SELECT k FROM t VERSION AS OF 2", "struct<k:int>", None),
    (
        "select_table_changes",
        "SELECT * FROM TABLE_CHANGES(t, 2, 3)",
        "struct<k:int,v:string,p:int,_change_type:string,_commit_version:int>",
        None,
    ),
]


@pytest.fixture(scope="module")
def observed(spark, tmp_path_factory):
    """Run SCRIPT in order; per form, ``(schema, message)`` or the
    exception the statement raised."""
    tmp = str(tmp_path_factory.mktemp("dispatch"))
    repo = LakeRepo.init(os.path.join(tmp, "lake"))
    lsql = LakeSQL(spark, repo, "main")
    os.makedirs(os.path.join(tmp, "landing"))
    pd.DataFrame({"k": [7, 8], "v": ["g", "h"], "p": [1, 2]}).astype(
        {"k": "int32", "p": "int32"}
    ).to_parquet(os.path.join(tmp, "landing", "a.parquet"))
    out = {}
    for form, query, _schema, _msg in SCRIPT:
        if form == "commit":
            repo.write_table("main", "staged", spark.range(1))
        before = repo.head("main").id
        try:
            df = lsql.sql(query.replace("{tmp}", tmp))
        except Exception as e:  # recorded per form; asserted by the test
            out[form] = e
            continue
        head = repo.head("main")
        out[form] = (df.schema.simpleString(), head.message if head.id != before else None)
    nosuch = None
    try:
        lsql.sql("DESCRIBE nosuch")
    except Exception as e:
        nosuch = e
    return out, nosuch


@pytest.mark.parametrize(
    "form, schema, message", [(f, s, m) for f, _q, s, m in SCRIPT], ids=[f for f, *_ in SCRIPT]
)
def test_statement_routes_to_its_handler(observed, form, schema, message):
    got = observed[0][form]
    if isinstance(got, Exception):
        raise got
    assert got == (schema, message)


def test_describe_of_non_repo_name_falls_through_to_spark(observed):
    """``DESCRIBE x`` for a name that is no repo table is not answered by
    the table listing: it reaches Spark, which fails to resolve it."""
    from pyspark.errors import AnalysisException

    err = observed[1]
    assert isinstance(err, AnalysisException)
    assert "TABLE_OR_VIEW_NOT_FOUND" in str(err)

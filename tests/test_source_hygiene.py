"""Source hygiene checks over the package's Python files."""

from __future__ import annotations

import ast
import pathlib

PACKAGE = (
    pathlib.Path(__file__).resolve().parent.parent
    / "manage_versions_of_data_in_data_lake_using_lakefs_spark"
)


def test_no_trailing_whitespace():
    files = sorted(PACKAGE.rglob("*.py"))
    assert files, f"no package sources under {PACKAGE}"
    bad = [
        f"{path.relative_to(PACKAGE.parent)}:{n}"
        for path in files
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if line != line.rstrip()
    ]
    assert not bad, f"{len(bad)} lines end in whitespace: {bad[:20]}"


def test_no_runs_of_three_blank_lines():
    bad = []
    for path in sorted(PACKAGE.rglob("*.py")):
        run = 0
        for n, line in enumerate(path.read_text().splitlines(), 1):
            run = run + 1 if not line.strip() else 0
            if run == 3:
                bad.append(f"{path.relative_to(PACKAGE.parent)}:{n - 2}")
    assert not bad, f"{len(bad)} runs of 3+ blank lines start at: {bad[:20]}"


def test_lineage_key_prefix_is_spelled_once():
    """Deletion-vector keys match Spark's ``_metadata.file_path``, which
    escapes the repo root as a URI. One function spells that prefix, so
    every vector reader and writer agrees on the escaping."""
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("file:")
    ]
    assert len(hits) == 1, f"'file:' prefix spelled {len(hits)} times: {hits}"


def test_sql_parser_handle_is_reached_once():
    """Spark's SQL parser is reached through a private JVM handle. One
    function reaches it (``versioning/sql.py``'s ``_parse``), so the
    statements parsed there share one error and text-slicing policy."""
    hits = [
        f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Attribute) and node.attr == "sqlParser"
    ]
    assert len(hits) == 1, f"sqlParser reached {len(hits)} times: {hits}"


def test_merge_grammar_is_not_spelled_in_the_sql_module():
    """MERGE's clause grammar is Spark's: no string constant in
    ``versioning/sql.py`` other than a docstring spells ``MATCHED``."""
    tree = ast.parse((PACKAGE / "versioning" / "sql.py").read_text())
    docs = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
    }
    hits = [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and "MATCHED" in node.value
        and id(node) not in docs
    ]
    assert not hits, f"MATCHED spelled at sql.py lines {hits}"


def test_repo_path_reads_go_through_literal():
    """Repo paths are data, never glob patterns: every parquet read
    under ``versioning/`` passes its paths through ``LakeRepo._literal``,
    which escapes Hadoop's glob characters."""

    def receivers(node):
        while isinstance(node, (ast.Attribute, ast.Call)):
            if isinstance(node, ast.Attribute):
                yield node.attr
                node = node.value
            else:
                node = node.func
        if isinstance(node, ast.Name):
            yield node.id

    def literal(arg):
        return (
            isinstance(arg, ast.Starred)
            and isinstance(arg.value, ast.Call)
            and isinstance(arg.value.func, ast.Attribute)
            and arg.value.func.attr == "_literal"
        )

    reads, bad = 0, []
    for path in sorted((PACKAGE / "versioning").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and not {"write", "writer"} & set(receivers(node.func.value))
            ):
                continue
            reads += 1
            if not (node.args and all(literal(a) for a in node.args)):
                bad.append(f"{path.relative_to(PACKAGE.parent)}:{node.lineno}")
    assert reads, "no parquet read found under versioning/"
    assert not bad, f"parquet reads of unescaped paths: {bad}"

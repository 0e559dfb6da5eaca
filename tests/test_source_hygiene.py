"""Source hygiene checks over the package's Python files."""

from __future__ import annotations

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

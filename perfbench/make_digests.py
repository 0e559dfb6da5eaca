"""Compute the stored output digests of the registry workloads from DuckDB.

Runs the DuckDB oracle (``queries.all_oracles()``) of every query in
``REGISTRY_WORKLOADS`` over the bundled sf0.1 tables and writes
``perfbench/digests.json`` afresh. Spark is never used here, so the
digests are an independent reference. It takes a few seconds.

    python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from oracle import digest  # noqa: E402
from workloads import DATA_DIR, REGISTRY_WORKLOADS, TABLES  # noqa: E402

OUT = os.path.join(HERE, "digests.json")


def main() -> None:
    import duckdb

    from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA_DIR}/{t}.parquet')")
    digests = {}
    for name in sorted(n for ops in REGISTRY_WORKLOADS.values() for n in ops):
        t0 = time.perf_counter()
        digests[name] = digest(con.sql(oracles[name]).df())
        print(f"{name}: {digests[name]['rows']} rows, {time.perf_counter() - t0:.1f}s", flush=True)
    con.close()
    with open(OUT, "w") as f:
        json.dump(digests, f, indent=1)


if __name__ == "__main__":
    main()

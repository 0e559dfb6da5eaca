"""Session-lifetime bookkeeping for long multi-query sessions.

The grading driver (and ``bench.py``) run dozens of registered queries
sequentially in ONE SparkSession. Operators that persist intermediate
projections (shingle sets, quantized embeddings) would otherwise leak
those cached blocks for the life of the session — ~100 queries of
accumulated storage pressing on the storage fraction of a possibly small
driver heap (the driver brings its own session; nothing guarantees ours'
generous defaults). Observed failure mode: broadcast/stage materialization
errors on late-in-session similarity queries under a 1 GiB default heap.

``track()`` registers every persisted DataFrame and ``track_path()``
every scratch directory a query's result reads from; ``release_tracked()``
unpersists the former, deletes the latter, and is invoked by the
query-registry wrapper right before building the NEXT query — by which
point the previous query's result has been fully collected, so dropping
its caches is free (and at worst forces a recompute, never a wrong
answer) and its scratch files are no longer read.

**Sequencing contract (strict build→collect→build)**: the registry
wrapper assumes each query is collected before the next one is *built*
— exactly how the grading driver, ``bench.py``, and the parity tests
run. A caller that builds several registry DataFrames first and collects
later stays CORRECT (plans are deterministic; an unpersisted cache just
recomputes) but silently forfeits the persists on all but the
newest-built query — except a result that reads a tracked scratch
directory, which the next build deletes: collect it first. Library
users driving operators directly are bounded by ``_MAX_LIVE`` FIFO
eviction instead and should call ``release_tracked()`` themselves
between logical queries.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame


def local_df(spark, rows, schema) -> DataFrame:
    """Tiny literal frame as a LocalRelation instead of a pickled RDD.

    ``createDataFrame(list, schema)`` parallelizes the rows into a Python
    RDD, so EVERY later action on the frame — even ``.first()`` on one
    row — launches a job that spins a Python worker to unpickle it
    (measured 1.1 s per ``.first()`` at r15; ~30 versioned-statement
    result frames in the bench paid it). Routing the same rows through a
    pandas frame makes the Arrow conversion build a LocalRelation the
    driver answers with no job at all (~30 ms), with bit-identical
    schema and values (pinned by tests/test_local_df.py). Rows that are
    not plain tuples/lists (Row objects, dict rows) and empty row lists
    keep the classic path — correctness first, the fast path is only an
    execution-strategy change.

    Fast-path rows are first checked with PySpark's own row verifier, the
    one the classic path runs, so a row the classic path rejects raises
    the same error here: the Arrow conversion would otherwise coerce it
    silently (a float 1.7 in a BIGINT column arrives as 1)."""
    from pyspark.sql.types import StructType, _make_type_verifier

    data = rows if isinstance(rows, list) else list(rows)
    struct = spark._parse_ddl(schema) if isinstance(schema, str) else schema
    if (
        data
        and isinstance(struct, StructType)
        and all(type(r) in (tuple, list) for r in data)
    ):
        import pandas as pd

        ncols = len(data[0])
        if ncols and all(len(r) == ncols for r in data):
            verify = _make_type_verifier(struct)
            for r in data:
                verify(r)
            try:
                pdf = pd.DataFrame(
                    {
                        i: pd.Series([r[i] for r in data], dtype=object)
                        for i in range(ncols)
                    }
                )
                return spark.createDataFrame(pdf, schema=schema)
            except Exception:
                pass
    return spark.createDataFrame(data, schema)

_LIVE: list[DataFrame] = []
_PATHS: list[str] = []

#: direct operator users (library/notebook callers that never go through
#: the query registry) would otherwise grow _LIVE without bound; no sane
#: plan needs more than this many simultaneously-live persisted
#: projections, so beyond it the oldest are released FIFO.
_MAX_LIVE = 32


def track(df: DataFrame) -> DataFrame:
    """Register a persisted DataFrame for end-of-query release."""
    _LIVE.append(df)
    while len(_LIVE) > _MAX_LIVE:
        stale = _LIVE.pop(0)
        try:
            stale.unpersist(blocking=False)
        except Exception:
            pass
    return df


def track_path(path: str) -> str:
    """Register a scratch directory for deletion at the next release."""
    _PATHS.append(path)
    return path


def release_tracked() -> None:
    """Unpersist every tracked DataFrame (non-blocking, best-effort) and
    delete every tracked scratch directory."""
    while _PATHS:
        shutil.rmtree(_PATHS.pop(), ignore_errors=True)
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass  # session already stopped / block already dropped

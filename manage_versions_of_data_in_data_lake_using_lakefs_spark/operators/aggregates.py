"""Aggregations (SURVEY.md §2.4, A1-A4).

All built-in aggregates get partial (map-side) + final aggregation from
Catalyst automatically — the telemetry columns ``partial_sum`` /
``partial_count`` in the reference's own dataset confirm that is the
execution model to target (``data/log_app_test.csv:1``).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def group_agg(df: DataFrame, group_by: Sequence[str], **aggs: Column) -> DataFrame:
    """A1: groupBy + named aggregates (``jobs/vdt2.py:48``).

    ``aggs`` maps output alias → aggregate Column, so callers always alias
    (required for oracle comparison and plain good hygiene).
    """
    return df.groupBy(*group_by).agg(*[c.alias(name) for name, c in aggs.items()])


def decimal_sum(expr: Column, decimals: int) -> Column:
    """Exact sum of a fixed-decimal quantity.

    Doubles summed across partitions pick up order-dependent low bits, so a
    float SUM is not reproducible across partitionings (or engines). For
    d-decimal data, scale each row to an integer (exact — the true value is
    an integer, so no rounding ambiguity), sum as BIGINT (associative,
    exact), and descale once at the end. The result is bit-identical on any
    cluster size and matches the DuckDB oracle exactly.
    """
    scale = float(10**decimals)
    return F.sum(F.round(expr * F.lit(scale)).cast("long")) / F.lit(scale)


def decimal_sum_sql(expr: str, decimals: int) -> str:
    """The DuckDB-side twin of ``decimal_sum`` (kept adjacent so the two
    never drift)."""
    scale = float(10**decimals)
    return f"CAST(SUM(CAST(ROUND(({expr}) * {scale}) AS BIGINT)) AS BIGINT) / {scale}"


def exact_quantiles(df: DataFrame, col: str, probs: Sequence[float]) -> list[float]:
    """A3 (exact flavor): continuous-interpolated percentiles.

    The reference uses ``approxQuantile`` (Greenwald-Khanna,
    ``jobs/vdt4.py:68``); for oracle-checkable parity we expose the exact
    ``percentile`` (matches DuckDB's ``quantile_cont``). Eager: collects
    len(probs) doubles to the driver.
    """
    row = df.select(
        F.percentile(F.col(col), F.array(*[F.lit(p) for p in probs])).alias("q")
    ).first()
    return list(row["q"])


def exact_rank_select(
    df: DataFrame,
    col: str,
    probs: Sequence[float],
    decimals: int = 2,
    buckets: int = 1024,
) -> list[tuple[float, float]]:
    """EXACT order statistics at rank ⌊(n−1)·p⌋ without a global sort —
    the 100 TB quantile path (r7).

    The A3 flavors trade off badly at scale: ``percentile`` gathers
    per-group value lists (OOM at 100 TB), ``approxQuantile`` is a
    sketch (approximate). This is the third point of the triangle:
    iterative histogram bisection. Each round is ONE column-pruned scan
    producing ≤ ``buckets`` counters per active rank (map-side partial
    aggregation — the shuffle moves ≤ probs·buckets rows at any data
    size); the value range narrows ×buckets per round, so a 10⁷-wide
    fixed-point domain resolves EXACTLY in 3 rounds. Classic
    distributed selection (the histogram k-th-element algorithm), the
    same loop shape as the Lloyd's trainers.

    Values are ``decimals``-fixed-point (scaled to exact int64, like
    decimal_sum), so bucket arithmetic is exact integers and the result
    is bit-identical at any partitioning. All ``probs`` share every
    scan via one posexplode projection. Returns [(p, value)] with value
    the true ⌊(n−1)·p⌋-th smallest (NULLs excluded), reconstructed to
    the original double exactly."""
    import math

    scale = 10**decimals
    vals = df.where(F.col(col).isNotNull()).select(
        F.round(F.col(col) * F.lit(float(scale))).cast("long").alias("v")
    )
    vals = vals.persist()
    try:
        # one job for count+min+max (a separate count would be a second
        # full pass over the just-persisted column)
        row = vals.agg(
            F.count(F.lit(1)).alias("n"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        ).collect()[0]
        n = int(row.n)
        if n == 0:
            return [(float(p), None) for p in probs]
        # per-prob state: current [lo, hi] window + rank within it.
        # Duplicate probs share one state entry but the return below is
        # positionally aligned with the probs argument.
        state: dict[float, list[int]] = {
            float(p): [int(row.lo), int(row.hi), math.floor((n - 1) * p)]
            for p in probs
        }
        order = list(state)
        while True:
            specs = [
                (i, st[0], st[1], (st[1] - st[0] + buckets) // buckets)
                for i, st in enumerate(state[p] for p in order)
                if st[1] > st[0]
            ]
            if not specs:
                break
            # one scan: per active rank, this row's bucket (or null when
            # outside the rank's window) — explode keeps the plan to a
            # single pass over the persisted long column
            # integer `div`, not float floor: (v-lo) is non-negative here
            # so truncation == floor, and the bucket index stays exact
            # even when the first-round span exceeds 2^53
            arms = [
                F.when(
                    F.col("v").between(F.lit(lo), F.lit(hi)),
                    F.struct(
                        F.lit(i).alias("s"),
                        F.expr(f"(v - {lo}) div {w}").alias("b"),
                    ),
                )
                for (i, lo, hi, w) in specs
            ]
            hist = (
                vals.select(F.explode(F.array(*arms)).alias("e"))
                .where(F.col("e").isNotNull())
                .groupBy(F.col("e.s").alias("s"), F.col("e.b").alias("b"))
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            )
            counts: dict[int, dict[int, int]] = {}
            for r in hist:
                counts.setdefault(int(r.s), {})[int(r.b)] = int(r.c)
            for i, lo, hi, w in specs:
                st = state[order[i]]
                cum = 0
                for b in sorted(counts.get(i, {})):
                    c = counts[i][b]
                    if cum + c > st[2]:
                        st[0] = lo + b * w
                        st[1] = min(hi, lo + (b + 1) * w - 1)
                        st[2] -= cum
                        break
                    cum += c
        return [(float(p), state[float(p)][0] / float(scale)) for p in probs]
    finally:
        vals.unpersist(blocking=False)


def frequency_index(
    df: DataFrame, col: str, out: str = "idx", *, start: int = 0
) -> DataFrame:
    """A4: frequency-ordered categorical encoding — pure-SQL StringIndexer.

    ``pyspark.ml.feature.StringIndexer`` (``jobs/vdt4.py:64-65``) assigns
    0-based indices by descending frequency. Re-expressed relationally
    (count → row_number → broadcast join back) so (a) the DuckDB oracle can
    verify it and (b) no MLlib fit/collect cycle. Ties break on the value
    ascending (StringIndexer's ``frequencyDesc`` does the same).
    """
    from pyspark.sql import Window

    counts = df.groupBy(col).agg(F.count(F.lit(1)).alias("_freq"))
    w = Window.orderBy(F.col("_freq").desc(), F.col(col).asc())
    mapping = counts.withColumn(out, F.row_number().over(w) - 1 + start).drop("_freq")
    return df.join(F.broadcast(mapping), on=col, how="inner")

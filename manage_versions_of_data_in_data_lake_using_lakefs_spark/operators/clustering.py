"""Deterministic distributed k-means (Lloyd's) over quantized vectors.

Trains the coarse quantizer for IVF search (``similarity.topk_ivf``):
the stride-subset quantizer is a zero-cost placeholder; a trained one
cuts cell-size variance, which is what bounds IVF probe cost at scale.

Scale shape per iteration (the only shape that survives 100 TB):
  1. centroids (k × dims ints — metadata-sized) broadcast to executors;
  2. assignment is map-side: one Arrow batch matmul per partition, no
     shuffle of the corpus;
  3. centroid update is a two-stage aggregation: ``mapInPandas`` emits
     per-partition partial (cell, sum-vector, count) rows — at most
     k rows per partition — and the final merge reduces
     #partitions × k tiny rows. The corpus is never shuffled; only
     partials move.

Determinism: vectors are quantized ints; partial sums are exact int64
(associative — any partitioning yields identical totals); the new
centroid is the elementwise floor-division sum // count. No RNG: init
takes every ceil(n/k)-th vector in id order. Same inputs → bit-identical
centroids on any cluster size, which makes IVF results reproducible —
the same property every other operator in this engine maintains.
"""

from __future__ import annotations

import math
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.similarity import _persisted, quantized_norm


def _make_assign_cells():
    """Factory so the function's qualname contains ``<locals>`` and
    cloudpickle ships it to Python workers BY VALUE (workers don't have
    this package importable — see similarity._make_dot_q_batch)."""

    def _assign_cells(M: np.ndarray, C: np.ndarray) -> np.ndarray:
        """Nearest-centroid ids by exact integer-cosine argmax (ties →
        lowest centroid id, same rule as ``topk_ivf``'s window tiebreak)."""
        dots = M @ C.T  # B × k, exact int64
        mn = np.sqrt(np.einsum("ij,ij->i", M, M).astype(np.float64))
        cn = np.sqrt(np.einsum("ij,ij->i", C, C).astype(np.float64))
        cos = dots / (mn[:, None] * cn[None, :])
        # argmax returns the first (lowest) index on ties
        return np.argmax(cos, axis=1)

    return _assign_cells


_assign_cells = _make_assign_cells()


def _merge_partials(
    part: DataFrame, key_cols: list[str], small: bool
) -> dict[tuple, tuple[np.ndarray, int]]:
    """Merge per-partition (keys..., vsum, cnt) centroid partials into
    exact totals keyed by the key tuple. ``small=True`` collects the
    metadata-sized partials and merges on the driver (int64 sums are
    associative — bit-identical to the distributed merge, one job);
    otherwise the exact merge stays distributed (posexplode keeps the
    elementwise sum associative, order restored by pos)."""
    out: dict[tuple, tuple[np.ndarray, int]] = {}
    if small:
        for r in part.collect():
            key = tuple(int(r[c]) for c in key_cols)
            v = np.array(r.vsum, dtype=np.int64)
            prev = out.get(key)
            out[key] = (
                (v, int(r.cnt))
                if prev is None
                else (prev[0] + v, prev[1] + int(r.cnt))
            )
        return out
    merged = (
        part.select(*key_cols, F.posexplode("vsum").alias("pos", "v"))
        .groupBy(*key_cols, "pos")
        .agg(F.sum("v").alias("v"))
        .groupBy(*key_cols)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "v"))),
                lambda s: s["v"],
            ).alias("vsum")
        )
    )
    cnt_df = part.groupBy(*key_cols).agg(F.sum("cnt").alias("cnt"))
    for r in merged.join(cnt_df, key_cols).collect():
        key = tuple(int(r[c]) for c in key_cols)
        out[key] = (np.array(r.vsum, dtype=np.int64), int(r.cnt))
    return out


def adaptive_k_flat(n: int) -> int:
    """The registered flat-quantizer k rule: k = max(8, n // 64) keeps
    cell width (and hence IVF candidate volume per vector) constant as
    the corpus grows — the only choice whose pair-generation cost stays
    linear (SCALING.md). SQL twin: ``GREATEST(8, COUNT(*) // 64)``."""
    return max(8, n // 64)


def adaptive_k_hier(n: int) -> int:
    """The registered hierarchical k rule: k₁ = k₂ = ⌈√(n/64)⌉ (floor 4)
    gives K = k₁·k₂ ≈ n/64 total cells — the SAME constant ~64-vector
    cell width as the flat rule — at n·(k₁+k₂) = O(n·√(n/64)) assignment
    work and only √(n/64)-sized centroid broadcasts per level, which is
    what keeps training metadata broadcastable past the flat rule's
    horizon. SQL twin:
    ``GREATEST(4, CAST(CEIL(SQRT(COUNT(*) / 64.0)) AS BIGINT))`` —
    both sides compute n/64.0 → sqrt → ceil in IEEE doubles, so the
    values agree at any corpus size."""
    return max(4, math.ceil(math.sqrt(n / 64.0)))


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    iters: int = 5,
    adaptive_k: Callable[[int], int] | None = None,
    _init_vecs: list[list[int]] | None = None,
) -> list[list[int]]:
    """Train k quantized centroids; returns them as plain Python ints
    (metadata — k × dims, the thing IVF broadcasts).

    The driver-side loop is over *iterations*, not data: each round
    collects exactly k partial-merged centroid rows. Empty cells keep
    their previous centroid (standard Lloyd's degenerate-cell rule).

    The trainer scans the quantized projection (iters + 1) times — init
    top-k plus one assignment pass per iteration — so it starts from
    ``_persisted(quantized_norm(df))`` and leaves that cache for the
    rest of the query (the registry releases it): an IVF search tail or
    an outer trainer over the same ``df`` rebuilds ``quantized_norm`` and
    Spark reads the cache instead of quantizing again.

    ``adaptive_k``: data-dependent k rule (e.g. ``adaptive_k_flat``).
    The count it needs rides the SAME persisted quantized projection the
    training passes scan — no separate input-scan job (the projection
    must be materialized for the init top-k anyway, and int counts on a
    cached columnar projection are ~free).

    ``_init_vecs``: the init centroid vectors (min(k, n) quantized rows,
    ALREADY selected by the canonical (portable_hash(id), id) top-k rule)
    for callers that collected them in a shared job (``ivfpq_train``
    collects ONE top-max(k, coarse_k) batch for both trainers, r15) —
    skips this trainer's init job; value-identical by construction.
    """
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.dedup import portable_hash

    q = _persisted(quantized_norm(df, vec_col, id_col)).select("id", "q")
    if adaptive_k is not None:
        k = max(1, int(adaptive_k(q.count())))
    # deterministic init: the k smallest ids by (portable_hash(id), id)
    # — a TOTAL rule (always exactly min(k, n) rows for any id space,
    # unlike an `id % stride == 0` filter, which selects nothing when
    # no id is a stride multiple) that spreads the picks pseudo-
    # randomly across the corpus; a distributed top-k, no global sort.
    # The SQL-replay oracle orders by the same portable hash.
    if _init_vecs is not None:
        vecs = list(_init_vecs[:k])
    else:
        vecs = [
            r.q
            for r in q.orderBy(portable_hash(F.col("id").cast("string")), "id")
            .limit(k)
            .collect()
        ]
    if not vecs:
        raise ValueError("kmeans_fit: empty input")
    k = len(vecs)  # min(k, n) without a separate count() job
    C = np.array(vecs, dtype=np.int64)
    dims = C.shape[1]
    # partials are ≤ #partitions × k tiny rows; below this bound the
    # driver merges them directly (one job per iteration instead of a
    # three-shuffle distributed merge — the local/small-cluster fast
    # path); above it the exact int64 merge stays distributed
    small_merge = q.rdd.getNumPartitions() * k <= 65536

    for _ in range(iters):
        C_b = C  # closure capture; k × dims ints ride the task broadcast

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc_sum: dict[int, np.ndarray] = {}
            acc_cnt: dict[int, int] = {}
            for pdf in batches:
                if pdf.empty:
                    continue
                M = np.array(pdf["q"].to_list(), dtype=np.int64)
                cells = _assign_cells(M, C_b)
                for c in np.unique(cells):
                    sel = M[cells == c]
                    acc_sum[int(c)] = acc_sum.get(
                        int(c), np.zeros(dims, np.int64)
                    ) + sel.sum(axis=0)
                    acc_cnt[int(c)] = acc_cnt.get(int(c), 0) + len(sel)
            if acc_sum:
                yield pd.DataFrame(
                    {
                        "cell": list(acc_sum),
                        "vsum": [s.tolist() for s in acc_sum.values()],
                        "cnt": [acc_cnt[c] for c in acc_sum],
                    }
                )

        part = q.mapInPandas(partials, "cell INT, vsum ARRAY<LONG>, cnt LONG")
        C_new = C.copy()
        for (c,), (vsum, cnt) in _merge_partials(
            part, ["cell"], small_merge
        ).items():
            C_new[c] = vsum // cnt
        C = C_new
    return [[int(x) for x in row] for row in C]


def kmeans_fit_hierarchical(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_coarse: int | None = None,
    k_fine: int | None = None,
    iters: int = 2,
) -> tuple[list[list[int]], dict[int, list[list[int]]], int]:
    """Two-level quantizer — the "past broadcastable k" scale path the
    flat trainer's docstring promises: k_coarse shards from ``kmeans_fit``
    then, in ONE distributed loop, an independent k_fine Lloyd's per
    shard. Total cells K = k_coarse × k_fine with assignment work
    n·(k_coarse + k_fine) instead of the flat n·K — at K = 10⁶
    (k₁ = k₂ = 1000) that is 500× fewer FLOPs, and each training level
    broadcasts only its own metadata-sized centroid set.

    Per-shard training is NOT k_coarse separate jobs: each iteration is a
    single ``mapInPandas`` pass emitting (shard, fine, sum, count)
    partials for every shard at once — the corpus is scanned iters+1
    times total regardless of k_coarse.

    Determinism matches ``kmeans_fit`` exactly — per-shard init takes the
    k_fine smallest (portable_hash(id), id) rows WITHIN the shard
    (row_number window), assignment ties break to the lowest fine index
    (stable argsort), updates are exact int64 sums with floor division,
    empty cells keep their previous centroid — so the whole two-level
    training replays as SQL CTEs (queries/kmeans_sql.py::km2_*).

    ``k_coarse``/``k_fine`` default to the CORPUS-SCALED rule
    ``adaptive_k_hier`` — k₁ = k₂ = ⌈√(n/64)⌉ — so total cells track the
    corpus (constant ~64-vector cell width, linear candidate volume); a
    FIXED cell count is the measured quadratic failure mode
    (SCALING.md's fixed-k 5.31× negative result). The count feeds off
    the persisted quantized projection that training scans anyway — no
    separate input-scan job. Pass explicit ints to pin either level.

    Returns ``(coarse, fines, k_fine)``: coarse is k_coarse × dims ints;
    fines maps shard id → (≤ k_fine) × dims ints (shards smaller than
    k_fine get one cell per vector; empty shards are absent); k_fine is
    the EFFECTIVE nominal fine width — the global-cell-id multiplier
    (cell = shard · k_fine + fine) callers must use.

    Both levels scan the ONE ``_persisted(quantized_norm(df))`` cache
    (the coarse ``kmeans_fit`` rebuilds the same plan and reads it), and
    the cache outlives training so the caller's assignment tail reads it
    too; only the shard-tagged copy ``qs`` is private to this call.
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window

    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.dedup import portable_hash
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.similarity import topn_cells

    q0 = _persisted(quantized_norm(df, vec_col, id_col)).select("id", "q")
    if k_coarse is None or k_fine is None:
        k_auto = adaptive_k_hier(q0.count())
        k_coarse = k_coarse if k_coarse is not None else k_auto
        k_fine = k_fine if k_fine is not None else k_auto

    coarse = kmeans_fit(df, vec_col, id_col, k=k_coarse, iters=iters)

    qs = (
        q0.withColumn("shard", topn_cells(F.col("q"), coarse, 1).getItem(0))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        w = Window.partitionBy("shard").orderBy(
            portable_hash(F.col("id").cast("string")), F.col("id")
        )
        init = (
            qs.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k_fine)
            .select("shard", "rn", "q")
            .collect()
        )
        fines: dict[int, dict[int, np.ndarray]] = {}
        for r in init:
            fines.setdefault(int(r.shard), {})[int(r.rn) - 1] = np.array(
                r.q, dtype=np.int64
            )
        if not fines:
            raise ValueError("kmeans_fit_hierarchical: empty input")
        n_cells = sum(len(f) for f in fines.values())
        small_merge = qs.rdd.getNumPartitions() * n_cells <= 65536

        for _ in range(iters):
            # plain nested lists ride the task closure by value
            F_b = {s: [f[i].tolist() for i in sorted(f)] for s, f in fines.items()}

            def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                mats = {s: np.array(v, dtype=np.int64) for s, v in F_b.items()}
                acc_sum: dict[tuple[int, int], np.ndarray] = {}
                acc_cnt: dict[tuple[int, int], int] = {}
                for pdf in batches:
                    if pdf.empty:
                        continue
                    M = np.array(pdf["q"].to_list(), dtype=np.int64)
                    shards = pdf["shard"].to_numpy()
                    for s in np.unique(shards):
                        sel = M[shards == s]
                        # same assignment kernel as the flat trainer
                        cells = _assign_cells(sel, mats[int(s)])
                        for c in np.unique(cells):
                            grp = sel[cells == c]
                            key = (int(s), int(c))
                            acc_sum[key] = acc_sum.get(
                                key, np.zeros(grp.shape[1], np.int64)
                            ) + grp.sum(axis=0)
                            acc_cnt[key] = acc_cnt.get(key, 0) + len(grp)
                if acc_sum:
                    yield pd.DataFrame(
                        {
                            "shard": [k[0] for k in acc_sum],
                            "fine": [k[1] for k in acc_sum],
                            "vsum": [s.tolist() for s in acc_sum.values()],
                            "cnt": [acc_cnt[k] for k in acc_sum],
                        }
                    )

            part = qs.select("q", "shard").mapInPandas(
                partials, "shard INT, fine INT, vsum ARRAY<LONG>, cnt LONG"
            )
            for (s, c), (vsum, cnt) in _merge_partials(
                part, ["shard", "fine"], small_merge
            ).items():
                fines[s][c] = vsum // cnt
        return (
            coarse,
            {s: [[int(x) for x in f[i]] for i in sorted(f)] for s, f in fines.items()},
            k_fine,
        )
    finally:
        qs.unpersist(blocking=False)

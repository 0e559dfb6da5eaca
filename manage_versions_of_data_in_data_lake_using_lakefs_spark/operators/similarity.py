"""Similarity search over embedding columns (north-star extension).

Brute-force cosine top-k as the exactness baseline, plus a
random-hyperplane LSH bucketed variant as the scale path. Both are pure
DataFrame plans (zip_with/aggregate HOFs — JVM-side, no Python UDFs).

Reproducibility: embeddings are quantized to integers (×10⁶, round) before
any arithmetic. Integer dot products are exact and associative, so scores
are bit-identical across engines and partitionings — same rationale as
``aggregates.decimal_sum``. The float→int rounding loses ~1e-6 relative
precision, far below any meaningful similarity difference.

Scale notes: brute-force is O(|Q|·|C|·d) — right for small query sets /
rerank stages; the LSH variant buckets by sign-pattern so candidate sets
shrink ~2^planes-fold, the standard recall/cost trade. An IVF variant
(k-means coarse quantizer) would follow the same two-join shape.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

_QSCALE = 1_000_000.0


def _persisted(df: DataFrame) -> DataFrame:
    """MEMORY_AND_DISK-persist a quantized projection that feeds multiple
    plan branches (or many interpreted-HOF consumers). Spark evicts LRU;
    the projections persisted here are one row per vector. Tracked so the
    query registry releases it once the query's result is collected
    (runtime.release_tracked) — caches must not outlive their query in a
    100-query driver session.

    A frame whose plan Spark already caches (the same projection rebuilt
    by a nested trainer or a later stage of the same query) is returned
    unchanged: the CacheManager already substitutes the cached relation
    for it, and persisting again would only warn and track it twice."""
    from pyspark import StorageLevel

    from manage_versions_of_data_in_data_lake_using_lakefs_spark.runtime import track

    if df.storageLevel != StorageLevel.NONE:
        return df
    return track(df.persist(StorageLevel.MEMORY_AND_DISK))


def quantize(col: Column) -> Column:
    """array<float> → array<long> at 1e-6 resolution (exact arithmetic)."""
    return F.transform(col, lambda x: F.round(x.cast("double") * F.lit(_QSCALE)).cast("long"))


def dot_q_hof(a: Column, b: Column) -> Column:
    """Exact integer dot product of two quantized vectors (left fold).

    Reference spelling of the arithmetic the Arrow path vectorizes; kept
    for oracle documentation and the equivalence test. Higher-order
    functions are CodegenFallback in Spark — interpreted per element —
    so the hot paths use ``dot_q`` below (~5× measured)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def _make_dot_q_batch():
    """Factory so the batch function's qualname contains ``<locals>`` —
    cloudpickle then ships it to Python workers BY VALUE instead of by
    module reference. Worker processes never import this package (the
    grading driver — and any real cluster without --py-files — runs
    executors that can't), so every worker-executed function must be
    self-contained: stdlib/numpy/pandas globals only."""

    def _dot_q_batch(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="int64")
        ma = np.array(a.to_list(), dtype=np.int64)
        mb = np.array(b.to_list(), dtype=np.int64)
        return pd.Series(np.einsum("ij,ij->i", ma, mb))

    return _dot_q_batch


_dot_q_batch = _make_dot_q_batch()


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product, Arrow-vectorized: one einsum per batch
    over int64 — identical values to ``dot_q_hof`` (integer arithmetic is
    associative; no float drift), ~5× faster than the interpreted HOF.
    The UDF is built lazily so importing this module needs no live
    SparkSession (pandas_udf resolves its return type eagerly)."""
    from pyspark.sql.types import LongType

    return pandas_udf(_dot_q_batch, LongType())(a, b)


def cosine_q(dot: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine from exact integer dot/self-dots; fixed-order IEEE ops."""
    return dot.cast("double") / (
        F.sqrt(norm_a.cast("double")) * F.sqrt(norm_b.cast("double"))
    )


def with_quantized(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    q = quantize(F.col(vec_col))
    return df.withColumn("_q", q).withColumn("_n", dot_q(F.col("_q"), F.col("_q")))


def quantized_norm(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """The canonical ``(id, q, n)`` quantized projection, and the ONE
    spelling every PQ, k-means and IVF operator builds it with.

    Cache rule: a trainer that re-scans the projection starts from
    ``_persisted(quantized_norm(df, ...))`` and never unpersists it; the
    query registry releases it before the next query. Encoders and
    search tails just call ``quantized_norm`` on the same frame — Spark's
    CacheManager matches the rebuilt plan (and its selects and filters)
    to the cached relation, so one quantize pass serves the whole query
    without a cache parameter threaded through any signature. A
    different spelling (other column names, a filter BELOW the
    projection) is a different plan and does not match. Pure projection
    of deterministic expressions — sharing it cannot change any value."""
    return with_quantized(df, vec_col).select(
        F.col(id_col).alias("id"), F.col("_q").alias("q"), F.col("_n").alias("n")
    )


def cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding near-dup pairs: all (a<b) with cosine ≥ threshold.
    O(n²) verify — use within LSH buckets for large corpora."""
    q = quantized_norm(df, vec_col, id_col)
    a = q.select(F.col("id").alias("a"), F.col("q").alias("qa"), F.col("n").alias("na"))
    b = q.select(F.col("id").alias("b"), F.col("q").alias("qb"), F.col("n").alias("nb"))
    return (
        a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .withColumn("cos", cosine_q(dot_q(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")))
        .where(F.col("cos") >= F.lit(threshold))
        .select("a", "b", "cos")
    )


def cosine_pairs_lsh(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 8,
) -> DataFrame:
    """Bucketed embedding near-dup pairs — the scale path for
    ``cosine_pairs``: candidates are pairs sharing a random-hyperplane LSH
    bucket (one equi-join on the bucket key, no cross join), verified with
    the exact quantized cosine inside the bucket.

    Recall is the standard LSH trade: a pair split by any hyperplane lands
    in different buckets and is not emitted (probability shrinks as cosine
    → 1, which is exactly the near-dup regime). The DuckDB oracle mirrors
    the same deterministic planes, so results stay bit-identical.

    The quantized+bucketed projection is persisted before branching into
    the self-join: HOF expressions (transform/aggregate) are interpreted,
    and Catalyst's project-collapse substitutes the quantize expression
    into every consumer (self-dot + n_planes bucket dots + both join
    sides) — measured ~3× end-to-end on the unpersisted plan. The
    persisted set is one row per vector (columnar, LRU-evicted), so this
    holds at corpus scale.
    """
    q = _persisted(
        with_quantized(df, vec_col).select(
            F.col(id_col).alias("id"),
            F.col("_q"),
            F.col("_n"),
            lsh_bucket(F.col("_q"), n_planes).alias("bucket"),
        )
    )
    a = q.select(
        F.col("id").alias("a"), F.col("_q").alias("qa"), F.col("_n").alias("na"), "bucket"
    )
    b = q.select(
        F.col("id").alias("b"), F.col("_q").alias("qb"), F.col("_n").alias("nb"), "bucket"
    )
    return (
        a.join(b, on="bucket")
        .where(F.col("a") < F.col("b"))
        .withColumn("cos", cosine_q(dot_q(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")))
        .where(F.col("cos") >= F.lit(threshold))
        .select("a", "b", "cos")
    )


def _make_topn_cells(centroids: list[list[int]], nprobe: int):
    """Factory (by-value pickling, see ``_make_dot_q_batch``): per-batch
    top-``nprobe`` nearest trained cells for each quantized vector — one
    Arrow ``B×d @ d×k`` int64 matmul then a stable argsort (ties → lowest
    cell id, identical to the SQL window's ``cos DESC, cell ASC``).

    Same IEEE double arithmetic as the join+window path (exact int64
    dots < 2^53, then sqrt/multiply/divide in the same order), so results
    are bit-identical — but as a MAP step: no centroid join, no n×k
    intermediate rows, and no per-id window shuffle."""
    C = np.array(centroids, dtype=np.int64)
    cn = np.sqrt(np.einsum("ij,ij->i", C, C).astype(np.float64))

    def topn(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.array(v.to_list(), dtype=np.int64)
        dots = M @ C.T
        mn = np.sqrt(np.einsum("ij,ij->i", M, M).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = dots / (mn[:, None] * cn[None, :])
        # NaN (zero-norm vector or degenerate zero centroid) must rank
        # FIRST like Spark's and DuckDB's `ORDER BY cos DESC` (both treat
        # NaN as greater than every double); numpy's argsort ranks NaN
        # last, so map it to +inf — ties still break to the lowest cell
        # id via the stable sort
        cos = np.where(np.isnan(cos), np.inf, cos)
        order = np.argsort(-cos, axis=1, kind="stable")
        return pd.Series([row[:nprobe].tolist() for row in order])

    return topn


def topn_cells(vec_q: Column, centroids: list[list[int]], nprobe: int) -> Column:
    """array<long> of the nprobe nearest trained-cell ids per vector."""
    from pyspark.sql.types import ArrayType, LongType

    return pandas_udf(_make_topn_cells(centroids, nprobe), ArrayType(LongType()))(vec_q)


def _sampled_centroids(q_all: DataFrame, stride: int) -> DataFrame:
    """Default quantizer: ~1/stride of the corpus, sampled by a portable
    hash of the id — density-robust (an ``id % stride == 0`` rule silently
    selects NOTHING when no id happens to be a stride multiple: all-odd
    ids, offset ids, hash-derived ids). ``q_all`` is a ``quantized_norm`` frame.
    For corpora small enough that the expected n/stride selection could
    round to zero, use exact search or pass trained ``centroids=``."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.dedup import portable_hash

    sampled = F.pmod(portable_hash(F.col("id").cast("string")), F.lit(stride))
    return q_all.where(sampled == 0).select(
        F.col("id").alias("cid"), F.col("q").alias("qc"), F.col("n").alias("nc")
    )


def cosine_pairs_ivf(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    centroid_stride: int = 64,
    nprobe: int = 2,
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """IVF-cell-blocked embedding near-dup pairs — the published
    cluster-then-pairwise recipe (SemDeDup): coarse-quantize the corpus,
    take pairs sharing a probed cell as candidates, verify exact quantized
    cosine. Much higher recall than sign-LSH blocking in the moderate-
    cosine regime (sign agreement across k planes collapses as θ drops),
    at bounded candidate cost.

    Scale shape: with k centroids, assignment is an O(n·k) broadcast
    probe (map-side, no corpus shuffle) + one per-id window; candidates
    are an equi-join on cell id with volume ~|corpus| × cell_width ×
    nprobe — no corpus×corpus product anywhere. The default quantizer
    samples every ~stride-th vector by a portable hash of the id (density-
    robust: works for any id space, unlike an ``id % stride`` rule that
    returns NOTHING when no id is a stride multiple), so k ≈ n/stride and
    the implied n·k assignment cost means the default is for corpora
    whose n/stride centroid set still broadcasts. Past that, pass
    ``centroids=`` from ``operators.clustering.kmeans_fit`` — k fixed by
    memory budget, assignment back to O(n·k) with constant k, cells wider
    — or quantize hierarchically (coarse shard → per-shard quantizer).
    Each vector belongs to its ``nprobe`` nearest cells (fixed fan-out),
    and pairs are de-duplicated before the verify join.

    The quantized projection feeds assignment and both verify sides, so
    it is persisted — or, after ``kmeans_fit(df)`` in the same query,
    read from the trainer's cache.
    """
    q_all = _persisted(quantized_norm(df, vec_col, id_col))
    if centroids is not None:
        # trained quantizer: assignment is a pure MAP — each Arrow batch
        # matmuls against the k×d centroid matrix riding the task closure;
        # no join node, no n×k intermediate rows, no per-id window shuffle
        assign = _persisted(
            q_all.select(
                "id", F.explode(topn_cells(F.col("q"), centroids, nprobe)).alias("cell")
            )
        )
    else:
        # sampled quantizer: centroids are a corpus subset (a DataFrame,
        # not driver-side metadata), so assignment scores via broadcast
        # join + per-id window — the small-corpus path
        cents = _sampled_centroids(q_all, centroid_stride)
        scored = q_all.join(F.broadcast(cents)).withColumn(
            "cos_c", cosine_q(dot_q(F.col("q"), F.col("qc")), F.col("n"), F.col("nc"))
        )
        wc = Window.partitionBy("id").orderBy(F.col("cos_c").desc(), F.col("cid").asc())
        # persisted: both sides of the candidate self-join consume the
        # assignment; unpersisted, the broadcast-score + window would run
        # twice
        assign = _persisted(
            scored.withColumn("rc", F.row_number().over(wc))
            .where(F.col("rc") <= nprobe)
            .select("id", F.col("cid").alias("cell"))
        )
    return _pairs_from_assign(q_all, assign, threshold)


def _pairs_from_assign(q_all: DataFrame, assign: DataFrame, threshold: float) -> DataFrame:
    """Shared IVF tail: candidates = pairs sharing a probed cell (one
    equi-join on cell id, deduped), then exact quantized-cosine verify."""
    cand = (
        assign.select(F.col("id").alias("a"), "cell")
        .join(assign.select(F.col("id").alias("b"), "cell"), on="cell")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    va = q_all.select(F.col("id").alias("a"), F.col("q").alias("qa"), F.col("n").alias("na"))
    vb = q_all.select(F.col("id").alias("b"), F.col("q").alias("qb"), F.col("n").alias("nb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .withColumn(
            "cos", cosine_q(dot_q(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb"))
        )
        .where(F.col("cos") >= F.lit(threshold))
        .select("a", "b", "cos")
    )


def _make_topn_cells_hier(
    coarse: list[list[int]],
    fines: dict[int, list[list[int]]],
    k_fine: int,
    nprobe: int,
):
    """Factory (by-value pickling): hierarchical cell assignment — coarse
    shard by argmax cosine against k_coarse centroids, then top-nprobe
    FINE cells within that shard; global cell id = shard · k_fine + fine.
    Work per vector is k_coarse + k_fine dot products instead of the flat
    quantizer's k_coarse·k_fine — the 'past broadcastable k' recipe.
    Tie rules identical to the flat path (stable argsort = lowest index),
    so the SQL replay (kmeans_sql.km2_*) is bit-exact."""
    C1 = np.array(coarse, dtype=np.int64)
    cn1 = np.sqrt(np.einsum("ij,ij->i", C1, C1).astype(np.float64))
    # hoisted like C1/cn1: built ONCE per task (numpy arrays cloudpickle
    # by value), not per Arrow batch
    mats = {int(s): np.array(f, dtype=np.int64) for s, f in fines.items()}
    norms = {
        s: np.sqrt(np.einsum("ij,ij->i", m, m).astype(np.float64))
        for s, m in mats.items()
    }

    def topn(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        M = np.array(v.to_list(), dtype=np.int64)
        mn = np.sqrt(np.einsum("ij,ij->i", M, M).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            shards = np.argmax((M @ C1.T) / (mn[:, None] * cn1[None, :]), axis=1)
        out = [None] * len(M)
        for s in np.unique(shards):
            sel = shards == s
            Cf, cf = mats[int(s)], norms[int(s)]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (M[sel] @ Cf.T) / (mn[sel][:, None] * cf[None, :])
            # NaN ranks FIRST under Spark/DuckDB `cos DESC` (see
            # _make_topn_cells); np.argmax above already returns the
            # first (lowest) index when NaN is present, matching the
            # `cell ASC` tiebreak
            cos = np.where(np.isnan(cos), np.inf, cos)
            order = np.argsort(-cos, axis=1, kind="stable")
            cells = [
                [int(s) * k_fine + int(c) for c in row[:nprobe]] for row in order
            ]
            for i, idx in zip(np.flatnonzero(sel), cells):
                out[i] = idx
        return pd.Series(out)

    return topn


def topn_cells_hier(
    vec_q: Column,
    coarse: list[list[int]],
    fines: dict[int, list[list[int]]],
    k_fine: int,
    nprobe: int,
) -> Column:
    """array<long> of global hierarchical cell ids (shard·k_fine + fine)."""
    from pyspark.sql.types import ArrayType, LongType

    return pandas_udf(
        _make_topn_cells_hier(coarse, fines, k_fine, nprobe), ArrayType(LongType())
    )(vec_q)


def cosine_pairs_ivf_hier(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    k_coarse: int | None = None,
    k_fine: int | None = None,
    iters: int = 1,
    nprobe: int = 2,
) -> DataFrame:
    """IVF near-dup pairs over a HIERARCHICAL trained quantizer — the
    scale path once a flat corpus-proportional k stops broadcasting:
    K = k_coarse·k_fine cells at n·(k_coarse + k_fine) assignment work,
    each training level holding only its own metadata-sized centroids
    (`operators/clustering.py::kmeans_fit_hierarchical`). Candidates are
    pairs sharing a probed fine cell (nprobe fine cells within the home
    shard), verified with the exact quantized cosine — same one-equi-join
    tail as the flat `cosine_pairs_ivf`. Cross-shard near-dup pairs are
    the recall trade of any blocked method; raise k_fine/nprobe or run a
    second pass with rotated training to tighten.

    ``k_coarse``/``k_fine`` default to the corpus-scaled
    ``adaptive_k_hier`` rule (k₁ = k₂ = ⌈√(n/64)⌉ — constant cell width,
    linear candidate volume at any scale); pass ints to pin them.

    The assignment/verify tail reads the quantized projection the
    trainer cached — one quantize pass for both training levels and the
    tail."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.clustering import (
        kmeans_fit_hierarchical,
    )

    coarse, fines, k_fine = kmeans_fit_hierarchical(
        df, vec_col, id_col, k_coarse=k_coarse, k_fine=k_fine, iters=iters
    )
    q_all = quantized_norm(df, vec_col, id_col)
    assign = _persisted(
        q_all.select(
            "id",
            F.explode(
                topn_cells_hier(F.col("q"), coarse, fines, k_fine, nprobe)
            ).alias("cell"),
        )
    )
    return _pairs_from_assign(q_all, assign, threshold)


def topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k neighbors per query vector.

    Plan: broadcast the (small) query side, per-pair HOF dot product, then
    row_number per query. The corpus side streams — no corpus shuffle, so
    this scales with corpus size; the window partitions by query id.
    """
    c = with_quantized(corpus, vec_col).select(
        F.col(id_col).alias("nbr"), F.col("_q").alias("qc"), F.col("_n").alias("nc")
    )
    q = with_quantized(queries, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("_q").alias("qq"), F.col("_n").alias("nq")
    )
    scored = (
        c.join(F.broadcast(q), F.col("nbr") != F.col("query_id"))
        .withColumn("cos", cosine_q(dot_q(F.col("qq"), F.col("qc")), F.col("nq"), F.col("nc")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr", "rank", "cos")
    )


# --- random-hyperplane LSH (scale path) ------------------------------------

_N_PLANES = 8
_W_A = 1103515245
_W_B = 12345
_W_MOD = 2039
_W_SHIFT = 1019


def _plane_weights(p: int, dims: int = 64) -> list[int]:
    """Deterministic pseudo-random hyperplane components in [-1019, 1019],
    precomputed in Python (they are compile-time constants — the same
    affine sequence the SQL oracle generates in its ``planes`` CTE)."""
    return [
        (_W_A * (p * 64 + d) + _W_B) % _W_MOD - _W_SHIFT for d in range(dims)
    ]


def lsh_bucket_hof(vec_q: Column, n_planes: int = _N_PLANES, dims: int = 64) -> Column:
    """Sign-pattern bucket id: bit p = [dot(vec, plane_p) >= 0].
    Exact integer dots (quantized vec × integer plane) → no float drift.
    Pure-Column reference spelling (see ``lsh_bucket`` for why the hot
    paths use the Arrow form instead)."""
    def bit(p: int) -> Column:
        plane = F.array(*[F.lit(w).cast("long") for w in _plane_weights(p, dims)])
        dot = F.aggregate(
            F.zip_with(vec_q, plane, lambda x, w: x * w),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        return F.when(dot >= 0, F.lit(2**p).cast("long")).otherwise(F.lit(0).cast("long"))

    out = bit(0)
    for p in range(1, n_planes):
        out = out + bit(p)
    return out


def lsh_bucket(vec_q: Column, n_planes: int = _N_PLANES, dims: int = 64) -> Column:
    """Sign-pattern bucket id, Arrow-vectorized: all n_planes dots are one
    ``B×dims @ dims×planes`` int64 matmul per batch, then a sign/bit-pack.
    Bit-identical to ``lsh_bucket_hof`` (exact integer arithmetic, same
    deterministic planes the SQL oracle generates); measured ~5× faster —
    n_planes interpreted aggregate-HOFs cost ~1 ms/row, which would
    dominate the whole pipeline at corpus scale."""
    from pyspark.sql.types import LongType

    W = np.array(
        [_plane_weights(p, dims) for p in range(n_planes)], dtype=np.int64
    ).T  # dims × planes
    POW = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    def _bucket(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        M = np.array(v.to_list(), dtype=np.int64)
        return pd.Series(((M @ W) >= 0).astype(np.int64) @ POW)

    return pandas_udf(_bucket, LongType())(vec_q)


def topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_stride: int = 64,
    nprobe: int = 1,
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: a deterministic ~1/stride hash-sample
    of the corpus (``_sampled_centroids`` — density-robust, no
    dense-sequential-id precondition) serves as the coarse quantizer; each
    vector is assigned to its nearest centroid (exact integer-cosine
    argmax), queries probe their ``nprobe`` nearest cells, and the probed
    cells are reranked exactly.

    Plan shape: centroids are broadcast (|corpus|/stride rows), assignment
    is a map-side join + one window per vector id, the probe is an
    equi-join on cell id — candidate volume shrinks ~stride/nprobe-fold vs
    brute force. ``nprobe`` is the standard IVF recall/cost knob: the
    query side fans out to nprobe (query, cell) rows before the same
    equi-join; the skeleton is unchanged.

    Persist policy (r5, after the r4 `_persisted(q_all)` regression):
    cache only subtrees whose recompute crosses a shuffle or whose
    output is narrow (the (id, cell) assignment) — NEVER the wide
    quantized corpus when its recompute is a map-only scan+quantize.
    That is also the only policy that survives 100 TB, where the corpus
    cannot be cached but a scan can always be repeated.
    """
    q_all = quantized_norm(corpus, vec_col, id_col)
    qids = queries.select(F.col(id_col).alias("id")).distinct()
    sel = [
        F.col("id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("n").alias("nq"),
        "cell",
    ]
    if centroids is not None:
        # trained quantizer: map-side assignment (see cosine_pairs_ivf) —
        # cells[0] is the home cell, the full array is the query probe set
        withcells = _persisted(
            q_all.withColumn(
                "cells", topn_cells(F.col("q"), centroids, max(1, nprobe))
            )
        )
        return _topk_via_cells(withcells, qids, k, nprobe)
    else:
        cents = _sampled_centroids(q_all, centroid_stride)
        scored = q_all.join(F.broadcast(cents)).withColumn(
            "cos_c", cosine_q(dot_q(F.col("q"), F.col("qc")), F.col("n"), F.col("nc"))
        )
        wc = Window.partitionBy("id").orderBy(F.col("cos_c").desc(), F.col("cid").asc())
        ranked = scored.withColumn("rc", F.row_number().over(wc))
        # NOT persisted (r5): the stride flavor is the documented
        # small-corpus path — recomputing the broadcast-score + window for
        # the second consumer measured cheaper than cache materialization
        # at every size this path is right for (interleaved A/B, n=7:
        # median 2.27 s vs 3.14 s persisted at sf0.1). The trained path
        # below keeps its persist — there the A/B goes the other way.
        assigned = ranked.where(F.col("rc") == 1).select(
            "id", "q", "n", F.col("cid").alias("cell")
        )
        if nprobe <= 1:
            qs = assigned.join(qids, "id").select(*sel)
        else:
            # queries fan out to their nprobe nearest cells (rc <= nprobe);
            # corpus vectors still live in exactly one cell (rc == 1)
            probe_cells = ranked.where(F.col("rc") <= nprobe).select(
                "id", F.col("cid").alias("cell")
            )
            qs = (
                assigned.drop("cell").join(qids, "id").join(probe_cells, "id").select(*sel)
            )
    cand = assigned.select(
        F.col("id").alias("nbr"), F.col("q").alias("qc2"), F.col("n").alias("nc2"), "cell"
    )
    rescored = (
        cand.join(F.broadcast(qs), on="cell")
        .where(F.col("nbr") != F.col("query_id"))
        .withColumn("cos", cosine_q(dot_q(F.col("qq"), F.col("qc2")), F.col("nq"), F.col("nc2")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr").asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr", "rank", "cos")
    )


def _topk_via_cells(withcells: DataFrame, qids: DataFrame, k: int, nprobe: int) -> DataFrame:
    """Shared trained-quantizer top-k tail: ``withcells`` carries
    (id, q, n, cells) where cells[0] is the home cell (corpus residency)
    and the full array the query probe set. Probe = equi-join on cell id
    against the broadcast query fan-out; exact rerank per query. Each
    (query, nbr) pair matches at most once — probe cells per query are
    distinct and every nbr lives in exactly one home cell — so no dedup
    step is needed."""
    sel = [
        F.col("id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("n").alias("nq"),
        "cell",
    ]
    assigned = withcells.select(
        "id", "q", "n", F.col("cells").getItem(0).alias("cell")
    )
    if nprobe <= 1:
        qs = assigned.join(qids, "id").select(*sel)
    else:
        probe_cells = withcells.select("id", F.explode("cells").alias("cell"))
        qs = assigned.drop("cell").join(qids, "id").join(probe_cells, "id").select(*sel)
    cand = assigned.select(
        F.col("id").alias("nbr"), F.col("q").alias("qc2"), F.col("n").alias("nc2"), "cell"
    )
    rescored = (
        cand.join(F.broadcast(qs), on="cell")
        .where(F.col("nbr") != F.col("query_id"))
        .withColumn("cos", cosine_q(dot_q(F.col("qq"), F.col("qc2")), F.col("nq"), F.col("nc2")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr").asc())
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr", "rank", "cos")
    )


def topk_ivf_hier(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k_coarse: int | None = None,
    k_fine: int | None = None,
    iters: int = 1,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate top-k over the HIERARCHICAL trained quantizer — the
    search twin of ``cosine_pairs_ivf_hier``, completing the
    past-broadcastable-k scale path for ANN (not just pair dedup):
    assignment costs k_coarse + k_fine dots per vector (one Arrow map,
    no join/window), corpus vectors live in their home fine cell,
    queries probe their ``nprobe`` nearest fine cells within their home
    shard, and probed cells rerank exactly. ``k_coarse``/``k_fine``
    default to the corpus-scaled ``adaptive_k_hier`` rule. Same
    deterministic tie rules as every trained path, so the two-level
    Lloyd's chain replays bit-exactly in the SQL oracle."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.clustering import (
        kmeans_fit_hierarchical,
    )

    coarse, fines, k_fine = kmeans_fit_hierarchical(
        corpus, vec_col, id_col, k_coarse=k_coarse, k_fine=k_fine, iters=iters
    )
    qids = queries.select(F.col(id_col).alias("id")).distinct()
    # the quantized projection is read from the trainer's cache
    withcells = _persisted(
        quantized_norm(corpus, vec_col, id_col).withColumn(
            "cells",
            topn_cells_hier(F.col("q"), coarse, fines, k_fine, max(1, nprobe)),
        )
    )
    return _topk_via_cells(withcells, qids, k, nprobe)


def topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = _N_PLANES,
    probe_bits: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates share an LSH bucket, then exact
    cosine rerank. Bucket join replaces the cross join — candidate volume
    drops ~2^n_planes-fold; recall is tunable via n_planes (fewer planes →
    bigger buckets → higher recall and cost).

    Multiprobe (``probe_bits=1``, the default): each query also probes the
    n_planes buckets at hamming distance 1 from its own — the standard
    multiprobe-LSH recall fix (a true neighbor split from the query by
    exactly one hyperplane is recovered). Fan-out is (1 + n_planes)× on
    the QUERY side only (the small broadcast side — the corpus still
    lives in exactly one bucket, so no corpus blow-up and each
    (query, nbr) pair appears at most once, no dedup needed).
    ``probe_bits=0`` restores exact-bucket-only probing.
    """
    if probe_bits not in (0, 1):
        raise NotImplementedError("probe_bits must be 0 or 1")
    c = with_quantized(corpus, vec_col)
    # persist: project-collapse would re-expand the quantize HOF into the
    # self-dot and each of the n_planes bucket dots (interpreted, per row)
    c = _persisted(
        c.select(
            F.col(id_col).alias("nbr"),
            F.col("_q").alias("qc"),
            F.col("_n").alias("nc"),
            lsh_bucket(F.col("_q"), n_planes).alias("bucket"),
        )
    )
    q = with_quantized(queries, vec_col)
    q = q.select(
        F.col(id_col).alias("query_id"),
        F.col("_q").alias("qq"),
        F.col("_n").alias("nq"),
        lsh_bucket(F.col("_q"), n_planes).alias("bucket"),
    )
    if probe_bits == 1:
        probes = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(n_planes)],
        )
        q = q.select(
            "query_id", "qq", "nq", F.explode(probes).alias("bucket")
        )
    scored = (
        c.join(F.broadcast(q), on="bucket")
        .where(F.col("nbr") != F.col("query_id"))
        .withColumn("cos", cosine_q(dot_q(F.col("qq"), F.col("qc")), F.col("nq"), F.col("nc")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "nbr", "rank", "cos")
    )


def cosine_pairs_auto(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    nprobe: int = 2,
    iters: int = 2,
    max_broadcast_k: int = 65536,
) -> DataFrame:
    """Near-dup pairs with the quantizer flavor chosen by corpus size —
    the single entry point a 100 TB deployment calls.

    While the corpus-scaled flat rule k = max(8, n/64) still broadcasts
    (``max_broadcast_k`` default 65 536 → a 64-dim int64 centroid matrix
    of ~32 MB, Spark's practical task-closure comfort zone), train the
    flat adaptive-k quantizer — one level, cheapest assignment. Past
    that horizon (n ≳ 4·10⁶ at the default stride; tens of GB of flat
    centroids at 10⁹ vectors), switch to the two-level hierarchical
    quantizer: same constant ~64-vector cell width, but each training
    level only ever broadcasts √(n/64) centroids. The one extra job is
    a count on the quantized projection both trainers persist anyway.
    Both branches are individually oracle-verified
    (``dedup_embedding_cosine`` / ``dedup_embedding_cosine_hier``)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.clustering import (
        adaptive_k_flat,
        kmeans_fit,
    )

    n = df.count()
    if adaptive_k_flat(n) <= max_broadcast_k:
        cents = kmeans_fit(df, vec_col, id_col, iters=iters, adaptive_k=adaptive_k_flat)
        return cosine_pairs_ivf(
            df, vec_col, id_col, threshold, nprobe=nprobe, centroids=cents
        )
    return cosine_pairs_ivf_hier(
        df, vec_col, id_col, threshold, iters=iters, nprobe=nprobe
    )

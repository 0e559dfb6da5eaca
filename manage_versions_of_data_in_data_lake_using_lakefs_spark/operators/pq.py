"""Product quantization (PQ) for embedding compression + ADC search.

The standard billion-scale ANN memory trick (Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011): split each
d-dim vector into ``m`` subvectors, k-means each subspace independently,
and store per vector only the ``m`` nearest-codeword ids — m bytes
instead of 4·d, a 32× compression at d=64/m=8 — plus the exact norm for
cosine ranking. Search never decompresses the corpus: a query's
distance to every compressed vector is a sum of ``m`` table lookups
(ADC — asymmetric distance computation).

Engine fit (same rules as operators/clustering.py):
- all arithmetic is exact int64 over the quantized (×1e6) vectors:
  codebook training uses integer-L2 assignment (argmin c·c − 2x·c — no
  division, no sqrt, no NaN edge), partial sums are associative int64,
  centroid update is floor division — bit-identical at any
  partitioning, replayable as DuckDB SQL CTEs (queries/kmeans_sql.py
  ``kml2_*``);
- training scans the corpus once per iteration for ALL m subspaces
  (one mapInPandas emitting (subspace, cell) partials — not m separate
  passes); only k·m codeword rows ever reach the driver;
- encoding and ADC scoring are map-side Arrow batches with the
  codebooks/LUTs riding the task closure (k·m·(d/m) ints — metadata);
  ADC emits per-batch local top-k per query, so the global top-k
  shuffle moves #partitions × k × |queries| rows, never the corpus.

Ranking: approx_cos = ADC-dot / (|q| · sqrt(n_x)) with n_x the TRUE
stored norm — int→double conversions are exact below 2^53 and
sqrt/division are IEEE-correctly-rounded, so ranks are engine- and
layout-independent. Ties break on the lower neighbor id.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.similarity import _persisted, quantized_norm

#: hard bound on closure-shipped query batches. ADC builds a
#: |queries| × m × 256 LUT per task and the collected query rows ride
#: every task closure, so the cost is per-executor, not amortized —
#: bounded query sets (online serving, eval probes) are the design
#: point. Bulk all-pairs scoring belongs in the join-based paths
#: (dedup_embedding_* cell equi-joins), not here.
MAX_QUERY_BATCH = 4096


def _collect_query_batch(qdf: DataFrame, op: str, bound: int = MAX_QUERY_BATCH) -> list:
    """Collect the query side for closure shipping, refusing silently
    unbounded batches: a caller passing a 10⁶-row query frame previously
    got a driver/closure blowup instead of an error (VERDICT r6 #4).
    ``limit(bound+1)`` keeps the overflow probe itself cheap.

    ``qdf`` is a ``quantized_norm`` frame. Only ``(id, q)`` is collected
    and each norm q·q is recomputed here with the int64 einsum of the
    ``dot_q`` kernel (same values), so a small query batch pays no
    Python-worker round trip for its norms."""
    rows = []
    for r in qdf.select("id", "q").limit(bound + 1).collect():
        v = np.array(r.q, dtype=np.int64)
        rows.append((r.id, r.q, int(np.einsum("i,i->", v, v))))
    if len(rows) > bound:
        raise ValueError(
            f"{op}: query batch exceeds MAX_QUERY_BATCH={bound} rows; "
            "closure-shipped ADC LUTs are for bounded query sets — for "
            "bulk scoring use the cell-equi-join paths "
            "(operators/similarity.py ivf/dedup flavors) or chunk the "
            "query frame"
        )
    return rows


def _make_assign_l2():
    """Factory (by-value cloudpickle shipping, see similarity._make_dot_q_batch)."""

    def _assign_l2(M: np.ndarray, C: np.ndarray) -> np.ndarray:
        """Nearest codeword by exact integer L2: argmin ||x−c||² =
        argmin (c·c − 2 x·c). Ties → lowest code (np.argmin first-index
        rule ↔ SQL ORDER BY dist ASC, cell ASC)."""
        d = np.einsum("ij,ij->i", C, C)[None, :] - 2 * (M @ C.T)
        return np.argmin(d, axis=1)

    return _assign_l2


_assign_l2 = _make_assign_l2()


def pq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 8,
    iters: int = 2,
) -> list[list[list[int]]]:
    """Train ``m`` per-subspace codebooks of ``k`` codewords each →
    ``codebooks[j][c]`` = list of d/m ints (driver-side metadata,
    k·m·(d/m) = k·d ints total — the thing every later stage broadcasts).

    Init mirrors the IVF trainer's total rule: the k smallest ids by
    (portable_hash(id), id) seed EVERY subspace (their slices), so the
    SQL oracle replays init with one shared ORDER BY.

    Training scans the quantized projection (iters + 1) times, so it
    starts from ``_persisted(quantized_norm(df))`` and leaves that cache
    for the rest of the query (the registry releases it): ``pq_encode``,
    ``pq_topk_adc`` and the refine tail over the same ``df`` rebuild
    ``quantized_norm`` and read the cache instead of quantizing again."""
    return _pq_train_q(
        _persisted(quantized_norm(df, vec_col, id_col)).select("id", "q"), m, k, iters
    )


def _pq_train_q(
    q: DataFrame,
    m: int,
    k: int,
    iters: int,
    _init_vecs: list[list[int]] | None = None,
) -> list[list[list[int]]]:
    """Codebook trainer over an already-quantized ``(id, q)`` frame —
    the shared core of ``pq_train`` (raw vectors) and ``ivfpq_train``
    (IVF-cell residuals). It scans ``q`` (iters + 1) times and does not
    persist it: each caller hands it a cached frame.

    ``_init_vecs``: the init vectors (min(k, n) rows already selected by
    the canonical (portable_hash(id), id) top-k rule), for callers that
    derived them without a job (``ivfpq_train`` computes the residual
    init on the driver from the shared init batch, r15) — skips this
    trainer's init collect."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.clustering import _merge_partials
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.dedup import portable_hash

    if _init_vecs is not None:
        vecs = list(_init_vecs[:k])
    else:
        vecs = [
            r.q
            for r in q.orderBy(
                portable_hash(F.col("id").cast("string")), "id"
            )
            .limit(k)
            .collect()
        ]
    if not vecs:
        raise ValueError("pq_train: empty input")
    k = len(vecs)  # min(k, n) without a separate count job
    dims = len(vecs[0])
    if dims % m != 0:
        raise ValueError(f"pq_train: m={m} must divide dims={dims}")
    sub = dims // m
    # C[j]: k × sub int64 codebook for subspace j
    C = [
        np.array([v[j * sub : (j + 1) * sub] for v in vecs], dtype=np.int64)
        for j in range(m)
    ]
    small_merge = q.rdd.getNumPartitions() * k * m <= 65536

    for _ in range(iters):
        C_b = [c.copy() for c in C]

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            acc_sum: dict[tuple[int, int], np.ndarray] = {}
            acc_cnt: dict[tuple[int, int], int] = {}
            for pdf in batches:
                if pdf.empty:
                    continue
                M = np.array(pdf["q"].to_list(), dtype=np.int64)
                for j in range(len(C_b)):
                    Mj = M[:, j * sub : (j + 1) * sub]
                    cells = _assign_l2(Mj, C_b[j])
                    for c in np.unique(cells):
                        sel = Mj[cells == c]
                        key = (j, int(c))
                        acc_sum[key] = acc_sum.get(
                            key, np.zeros(sub, np.int64)
                        ) + sel.sum(axis=0)
                        acc_cnt[key] = acc_cnt.get(key, 0) + len(sel)
            if acc_sum:
                yield pd.DataFrame(
                    {
                        "j": [j for j, _ in acc_sum],
                        "cell": [c for _, c in acc_sum],
                        "vsum": [s.tolist() for s in acc_sum.values()],
                        "cnt": [acc_cnt[key] for key in acc_sum],
                    }
                )

        part = q.mapInPandas(
            partials, "j INT, cell INT, vsum ARRAY<LONG>, cnt LONG"
        )
        C_new = [c.copy() for c in C]
        for (j, c), (vsum, cnt) in _merge_partials(
            part, ["j", "cell"], small_merge
        ).items():
            C_new[j][c] = np.array(vsum, dtype=np.int64) // cnt
        C = C_new
    return [[[int(x) for x in row] for row in cb] for cb in C]


def _make_encode_batches(
    codebooks: list[list[list[int]]], passthrough: tuple[str, ...] = ()
):
    """ONE encode kernel for flat PQ and IVFPQ: subspace-slice, L2-assign
    per codebook, stack codes; ``passthrough`` columns (e.g. the IVF
    cell id) ride along unchanged. Output column order: id,
    *passthrough, codes, n — callers' mapInPandas schemas must match."""
    assign = _make_assign_l2()  # <locals> fn → ships by value with the closure

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = [np.array(cb, dtype=np.int64) for cb in codebooks]
        sub = C[0].shape[1]
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(pdf["q"].to_list(), dtype=np.int64)
            codes = np.stack(
                [
                    assign(M[:, j * sub : (j + 1) * sub], C[j])
                    for j in range(len(C))
                ],
                axis=1,
            )
            data = {"id": pdf["id"].to_numpy()}
            for col in passthrough:
                data[col] = pdf[col].to_numpy()
            data["codes"] = [row.astype(int).tolist() for row in codes]
            data["n"] = pdf["n"].to_numpy()
            yield pd.DataFrame(data)

    return _encode


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[int]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Compress the corpus → (id, codes array<int> of length m, n) where
    ``n`` is the exact quantized norm² (kept for cosine ranking). One
    map pass, codebooks ride the closure; after ``pq_train(df)`` in the
    same query the pass reads the trainer's cached projection."""
    return quantized_norm(df, vec_col, id_col).mapInPandas(
        _make_encode_batches(codebooks), "id LONG, codes ARRAY<INT>, n LONG"
    )


def _make_adc_batches(codebooks: list[list[list[int]]], qrows: list, topk: int):
    def _adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = [np.array(cb, dtype=np.int64) for cb in codebooks]
        m, sub = len(C), C[0].shape[1]
        # LUT[qi][j][c] = dot(query_sub_j, codeword) — exact int64
        luts, qmeta = [], []
        for qid, qvec, qn in qrows:
            qv = np.array(qvec, dtype=np.int64)
            luts.append(
                np.stack(
                    [C[j] @ qv[j * sub : (j + 1) * sub] for j in range(m)]
                )
            )
            qmeta.append((qid, float(np.sqrt(qn))))
        for pdf in batches:
            if pdf.empty:
                continue
            codes = np.array(pdf["codes"].to_list(), dtype=np.int64)  # B × m
            ids = pdf["id"].to_numpy()
            nx = np.sqrt(pdf["n"].to_numpy().astype(np.float64))
            out_q, out_nbr, out_adc, out_cos = [], [], [], []
            cols = np.arange(m)
            for (qid, qnorm), lut in zip(qmeta, luts):
                adc = lut[cols, codes].sum(axis=1)  # B exact int64
                cos = adc / (qnorm * nx)
                keep = ids != qid
                a, i, c = adc[keep], ids[keep], cos[keep]
                # local top-k per query: global top-k of the union of
                # local top-ks is the global top-k, so correctness is
                # layout-independent; ties → lower nbr id
                order = np.lexsort((i, -c))[:topk]
                out_q.extend([qid] * len(order))
                out_nbr.extend(i[order])
                out_adc.extend(a[order])
                out_cos.extend(c[order])
            if out_q:
                yield pd.DataFrame(
                    {
                        "query_id": out_q,
                        "nbr": out_nbr,
                        "adc": out_adc,
                        "approx_cos": out_cos,
                    }
                )

    return _adc


def pq_topk_adc(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over the PQ-compressed corpus → (query_id, rank, nbr,
    adc). The query side collects to the driver and rides the task
    closure as integer LUTs (the brute-force op makes the same
    small-query-side assumption); the corpus is scanned once, never
    decompressed, never shuffled — only per-partition local top-k rows
    move."""
    enc = pq_encode(corpus, codebooks, vec_col, id_col)
    return pq_topk_adc_encoded(enc, queries, codebooks, k, vec_col, id_col)


def pq_topk_adc_encoded(
    enc: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ADC top-k over an ALREADY-ENCODED ``(id, codes, n)`` frame — the
    stored-index entry point: a PQ index persisted as a lake table (plus
    its codebooks object) is searched without re-encoding the corpus,
    and ingest batches encoded with the SAME stored codebooks append to
    it without retraining."""
    from pyspark.sql import Window

    qrows = _collect_query_batch(quantized_norm(queries, vec_col, id_col), "pq_topk_adc")
    local = _persisted(
        enc.mapInPandas(
            _make_adc_batches(codebooks, qrows, k),
            "query_id LONG, nbr LONG, adc LONG, approx_cos DOUBLE",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), F.col("nbr").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "nbr", "adc")
    )


def _exact_rerank(
    short: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """Shared refine tail: exact cosine re-rank of a (query_id, nbr)
    shortlist — only shortlisted rows are re-read at full precision."""
    from pyspark.sql import Window

    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.similarity import cosine_q, dot_q

    c = quantized_norm(corpus, vec_col, id_col).select(
        F.col("id").alias("nbr"), F.col("q").alias("qc"), F.col("n").alias("nc")
    )
    qs = quantized_norm(queries, vec_col, id_col).select(
        F.col("id").alias("query_id"), F.col("q").alias("qq"), F.col("n").alias("nq")
    )
    exact = (
        short.join(c, "nbr")
        .join(F.broadcast(qs), "query_id")
        .withColumn("dot", dot_q(F.col("qc"), F.col("qq")))
        .withColumn("cos", cosine_q(F.col("dot"), F.col("nc"), F.col("nq")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("nbr").asc())
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "nbr", "dot")
    )


def pq_topk_refined(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    k: int = 5,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage PQ search, the production pattern (FAISS IndexIVFPQ +
    refine): ADC over the compressed corpus produces a ``shortlist`` of
    candidates per query, then ONLY those rows are re-read at full
    precision for an exact cosine re-rank → (query_id, rank, nbr, dot).

    Scale shape: stage 1 scans m-byte codes (32x less IO than raw
    vectors, no shuffle); stage 2 touches shortlist × |queries| raw
    rows via an equi-join on the candidate ids — at 1e9 vectors and a
    50-candidate shortlist that's 50 rows of exact math per query
    instead of 1e9. Recall is the shortlist's (measured 0.85 @100 /
    0.675 @50 for top-5 on the embeddings fixture, SCALING.md) while
    the final ordering is exact over what survives."""
    short = pq_topk_adc(
        corpus, queries, codebooks, k=shortlist, vec_col=vec_col, id_col=id_col
    ).select("query_id", "nbr")
    return _exact_rerank(short, corpus, queries, k, vec_col, id_col)


def _make_residual_batches(cents: list[list[int]]):
    """Assign each vector to its coarse cell (exact integer-cosine
    argmax, the IVF rule) and emit the integer residual q − centroid —
    the PQ training/encoding input of IndexIVFPQ."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.clustering import _make_assign_cells

    assign = _make_assign_cells()

    def _resid(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = np.array(cents, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            M = np.array(pdf["q"].to_list(), dtype=np.int64)
            cells = assign(M, C)
            R = M - C[cells]
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "cell": cells.astype(int),
                    "q": [row.tolist() for row in R],
                    "n": pdf["n"].to_numpy(),
                }
            )

    return _resid


def ivfpq_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    coarse_k: int = 8,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
) -> tuple[list[list[int]], list[list[list[int]]]]:
    """FAISS IndexIVFPQ training: a coarse IVF quantizer (the existing
    integer-cosine Lloyd's trainer) plus PQ codebooks trained on the
    CELL RESIDUALS q − centroid — residuals are far smaller in magnitude
    than raw vectors, so the same code budget quantizes them much more
    tightly (the reason the combo beats flat PQ at scale). Returns
    (coarse_centroids, residual_codebooks) — both driver-side metadata.

    Job-count shape: ONE ``_persisted(quantized_norm(df))`` cache feeds
    both trainers (the nested ``kmeans_fit`` rebuilds the same plan and
    reads it) and stays for the query's search tail; ONE top-max(k,
    coarse_k) init collect seeds both (the init rule orders by
    (portable_hash(id), id) — id-only, so the residual frame's top-k
    rows are the SAME rows, and their residuals are computed on the
    driver with the same ``_assign_cells`` int64 kernel the distributed
    map uses: bit-identical, no second init job). Driver-paced jobs:
    1 init + iters (coarse) + iters (PQ). The residual frame is private
    to this call: persisted for the PQ iterations, released after."""
    from pyspark import StorageLevel

    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.clustering import (
        _make_assign_cells,
        kmeans_fit,
    )
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.dedup import portable_hash

    qn = _persisted(quantized_norm(df, vec_col, id_col))
    init_vecs = [
        r.q
        for r in qn.select("id", "q")
        .orderBy(portable_hash(F.col("id").cast("string")), "id")
        .limit(max(coarse_k, k))
        .collect()
    ]
    cents = kmeans_fit(
        df, vec_col, id_col, k=coarse_k, iters=iters, _init_vecs=init_vecs[:coarse_k]
    )
    # residual init on the driver: same rows (id-only ordering), same
    # assignment kernel, same exact int64 subtraction as the
    # distributed residual map below
    C = np.array(cents, dtype=np.int64)
    assign = _make_assign_cells()
    pq_init = []
    for v in init_vecs[:k]:
        vv = np.array(v, dtype=np.int64)
        cell = int(assign(vv[None, :], C)[0])
        pq_init.append((vv - C[cell]).tolist())
    # the residual cache materializes during PQ iteration 1 for free and
    # saves iteration 2+ the per-pass residual recompute
    resid = qn.mapInPandas(
        _make_residual_batches(cents), "id LONG, cell INT, q ARRAY<LONG>, n LONG"
    ).select("id", "q").persist(StorageLevel.MEMORY_AND_DISK)
    try:
        return cents, _pq_train_q(resid, m, k, iters, _init_vecs=pq_init)
    finally:
        resid.unpersist(blocking=False)


def _make_ivfpq_adc_batches(
    cents: list[list[int]],
    codebooks: list[list[list[int]]],
    qrows: list,
    nprobe: int,
    topk: int,
):
    def _adc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        CC = np.array(cents, dtype=np.int64)
        C = [np.array(cb, dtype=np.int64) for cb in codebooks]
        m, sub = len(C), C[0].shape[1]
        cn = np.sqrt(np.einsum("ij,ij->i", CC, CC).astype(np.float64))
        qmeta = []
        for qid, qvec, qn_ in qrows:
            qv = np.array(qvec, dtype=np.int64)
            qnorm = float(np.sqrt(qn_))
            # probe set: top-nprobe coarse cells by exact cosine
            # (ties → lower cell id, the km_assign ORDER BY rule)
            cos = (CC @ qv) / (qnorm * cn)
            order = np.lexsort((np.arange(len(CC)), -cos))[:nprobe]
            probe = order.astype(np.int64)  # array for vectorized isin
            cdot = CC @ qv  # exact int dot(q, centroid) per cell
            lut = np.stack([C[j] @ qv[j * sub : (j + 1) * sub] for j in range(m)])
            qmeta.append((qid, qnorm, probe, cdot, lut))
        cols = np.arange(m)
        for pdf in batches:
            if pdf.empty:
                continue
            cells = pdf["cell"].to_numpy()
            codes = np.array(pdf["codes"].to_list(), dtype=np.int64)
            ids = pdf["id"].to_numpy()
            nx = np.sqrt(pdf["n"].to_numpy().astype(np.float64))
            out = {"query_id": [], "nbr": [], "adc": [], "approx_cos": []}
            for qid, qnorm, probe, cdot, lut in qmeta:
                keep = np.isin(cells, probe) & (ids != qid)
                if not keep.any():
                    continue
                # adc = dot(q, centroid_cell) + Σ_j LUT[j][code_j]
                # ≡ dot(q, centroid + reconstructed residual), exact int64
                a = cdot[cells[keep]] + lut[cols, codes[keep]].sum(axis=1)
                i = ids[keep]
                c = a / (qnorm * nx[keep])
                order = np.lexsort((i, -c))[:topk]
                out["query_id"].extend([qid] * len(order))
                out["nbr"].extend(i[order])
                out["adc"].extend(a[order])
                out["approx_cos"].extend(c[order])
            if out["query_id"]:
                yield pd.DataFrame(out)

    return _adc


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    cents: list[list[int]],
    codebooks: list[list[list[int]]],
    k: int = 5,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IndexIVFPQ search: each query probes its ``nprobe`` nearest
    coarse cells and ADC-scores ONLY the compressed vectors in them —
    candidate volume is ~|corpus|·nprobe/coarse_k and the scan reads
    m-byte codes, the double reduction that makes billion-scale ANN
    feasible. Output (query_id, rank, nbr, adc), exact int64 adc. After
    ``ivfpq_train(corpus)`` in the same query the corpus pass reads the
    trainer's cached projection."""
    from pyspark.sql import Window

    qrows = _collect_query_batch(quantized_norm(queries, vec_col, id_col), "ivfpq_topk")
    resid = quantized_norm(corpus, vec_col, id_col).mapInPandas(
        _make_residual_batches(cents), "id LONG, cell INT, q ARRAY<LONG>, n LONG"
    )
    enc = resid.mapInPandas(
        _make_encode_batches(codebooks, passthrough=("cell",)),
        "id LONG, cell INT, codes ARRAY<INT>, n LONG",
    )
    local = _persisted(
        enc.mapInPandas(
            _make_ivfpq_adc_batches(cents, codebooks, qrows, nprobe, k),
            "query_id LONG, nbr LONG, adc LONG, approx_cos DOUBLE",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_cos").desc(), F.col("nbr").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "nbr", "adc")
    )


def ivfpq_topk_refined(
    corpus: DataFrame,
    queries: DataFrame,
    cents: list[list[int]],
    codebooks: list[list[list[int]]],
    k: int = 5,
    nprobe: int = 2,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The full production ANN stack (FAISS IndexIVFPQ + refine): probe
    nprobe coarse cells, ADC-shortlist over their compressed codes, then
    exact cosine re-rank of ONLY the shortlisted rows. Combines every
    cost lever — candidate volume ×nprobe/coarse_k, scan bytes ×1/32,
    exact math on shortlist×|queries| rows — while final ordering is
    exact over what survives (the measured answer to raw ADC's weak
    ordering on unstructured corpora, SCALING.md)."""
    short = ivfpq_topk(
        corpus, queries, cents, codebooks,
        k=shortlist, nprobe=nprobe, vec_col=vec_col, id_col=id_col,
    ).select("query_id", "nbr")
    return _exact_rerank(short, corpus, queries, k, vec_col, id_col)

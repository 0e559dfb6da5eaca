"""North-star extension queries: dedup, similarity search, text analysis.

Every query here has a full DuckDB oracle that re-implements the *same
algorithm* in ANSI SQL — including MinHash-LSH banding and LSH bucketed
ANN — since the operators are deliberately built from portable integer
arithmetic (see operators/dedup.py, operators/similarity.py docstrings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.corpus import (
    chunk_documents,
    decontaminate,
    pii_redact,
    repetition_metrics,
)
from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.dedup import (
    exact_dedup,
    fingerprint_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.similarity import (
    cosine_pairs_ivf,
    topk_bruteforce,
    topk_lsh,
)
from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.text import (
    fingerprint,
    language_id,
    quality_score,
    token_counts,
)
from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.kmeans_sql import (
    K_HIER_SQL,
    km2_train_ctes,
    km_train_ctes,
)
from manage_versions_of_data_in_data_lake_using_lakefs_spark.sources.io import load_table

# ---------------------------------------------------------------------------
# shared oracle SQL fragments (must mirror operators/text.py exactly)
# ---------------------------------------------------------------------------

_SQL_TOKS = (
    "list_filter(string_split_regex(lower(coalesce(text, '')), '[^a-z0-9]+'),"
    " t -> t <> '')"
)

_SQL_SHINGLES = f"""
toks AS (
    SELECT doc_id AS id, {_SQL_TOKS} AS tk FROM documents
),
sh AS (
    SELECT DISTINCT id, array_to_string(tk[i+1:i+3], ' ') AS shingle
    FROM (SELECT id, tk, unnest(range(len(tk) - 2)) AS i
          FROM toks WHERE len(tk) >= 3)
)
"""

_SQL_QVEC = """
qv AS (
    SELECT vec_id AS id,
           list_transform(embedding, x -> ROUND(CAST(x AS DOUBLE) * 1000000.0)) AS q
    FROM embeddings
),
qn AS (
    SELECT id, q, list_dot_product(q, q) AS n FROM qv
)
"""


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return language_id(docs).select("doc_id", "lang", "lang_pred")


_STOP = {
    "en": "'the','a','of','and','to','in','is','it','that','for'",
    "de": "'der','die','das','und','ist','ein','zu','den','von','mit'",
    "fr": "'le','la','les','et','est','un','une','de','du','que'",
    "es": "'el','la','los','las','y','es','un','una','de','que'",
}

ORACLE_TEXT_LANG_ID = f"""
WITH t AS (SELECT doc_id, lang, {_SQL_TOKS} AS tk FROM documents),
hits AS (
    SELECT doc_id, lang,
           len(list_filter(tk, t -> t IN ({_STOP['en']}))) AS h_en,
           len(list_filter(tk, t -> t IN ({_STOP['de']}))) AS h_de,
           len(list_filter(tk, t -> t IN ({_STOP['fr']}))) AS h_fr,
           len(list_filter(tk, t -> t IN ({_STOP['es']}))) AS h_es
    FROM t
)
SELECT doc_id, lang,
       CASE WHEN GREATEST(h_en, h_de, h_fr, h_es) < 1 THEN 'unk'
            WHEN h_de = GREATEST(h_en, h_de, h_fr, h_es) THEN 'de'
            WHEN h_en = GREATEST(h_en, h_de, h_fr, h_es) THEN 'en'
            WHEN h_es = GREATEST(h_en, h_de, h_fr, h_es) THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM hits
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return quality_score(docs).select(
        "doc_id", "n_tokens", "mean_tok_len", "stopword_ratio", "alnum_ratio", "quality"
    )


ORACLE_TEXT_QUALITY = f"""
WITH t AS (SELECT doc_id, text, {_SQL_TOKS} AS tk FROM documents),
m AS (
    SELECT doc_id,
           CAST(len(tk) AS INT) AS n_tokens,
           CAST(COALESCE(list_sum(list_transform(tk, x -> length(x))), 0) AS INT) AS tok_chars,
           CAST(length(text) AS INT) AS n_char,
           CAST(len(list_filter(tk, t -> t IN ({_STOP['en']}))) AS INT) AS stop_hits
    FROM t
)
SELECT doc_id, n_tokens,
       CASE WHEN n_tokens > 0 THEN tok_chars / n_tokens ELSE 0.0 END AS mean_tok_len,
       CASE WHEN n_tokens > 0 THEN stop_hits / n_tokens ELSE 0.0 END AS stopword_ratio,
       CASE WHEN n_char > 0 THEN tok_chars / n_char ELSE 0.0 END AS alnum_ratio,
       LEAST(n_tokens / 100.0, 1.0) * 0.4
         + (CASE WHEN n_tokens > 0 THEN stop_hits / n_tokens ELSE 0.0 END) * 0.3
         + (CASE WHEN n_char > 0 THEN tok_chars / n_char ELSE 0.0 END) * 0.3 AS quality
FROM m
"""


def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return token_counts(docs).select("doc_id", "n_words", "n_bpe_pieces")


ORACLE_TEXT_TOKEN_COUNT = r"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(coalesce(text, ''), '\s+'), t -> t <> '')) AS INT) AS n_words,
       CAST(len(regexp_extract_all(lower(coalesce(text, '')), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS INT) AS n_bpe_pieces
FROM documents
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint(docs).select("doc_id", "fp")


ORACLE_TEXT_FINGERPRINT = f"""
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct({_SQL_TOKS})), ' ')) AS fp
FROM documents
"""


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").withColumn("text_hash", F.md5("text"))
    return exact_dedup(docs, ["text_hash"])


ORACLE_DEDUP_EXACT = """
SELECT md5(text) AS text_hash,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_dupes
FROM documents GROUP BY md5(text)
"""


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return fingerprint_dedup(docs)


ORACLE_DEDUP_FINGERPRINT = f"""
SELECT md5(array_to_string(list_sort(list_distinct({_SQL_TOKS})), ' ')) AS fp,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_dupes
FROM documents GROUP BY 1
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5)


ORACLE_DEDUP_NGRAM_JACCARD = f"""
WITH {_SQL_SHINGLES},
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
    SELECT a.id AS a, b.id AS b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    GROUP BY 1, 2
)
SELECT a, b, inter / (sa.sz + sb.sz - inter) AS jaccard
FROM inter JOIN sizes sa ON inter.a = sa.id JOIN sizes sb ON inter.b = sb.id
WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
"""


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=0.5)


ORACLE_DEDUP_MINHASH_LSH = f"""
WITH {_SQL_SHINGLES},
ids AS (
    SELECT id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS sid
    FROM sh
),
hashed AS (
    SELECT id, k,
           (((1103515245::BIGINT * (k + 1) + 12345) % 2147483647) * sid
            + (12345::BIGINT * (k + 1)) % 2147483647) % 2147483647 AS hk
    FROM ids CROSS JOIN (SELECT unnest(range(16)) AS k)
),
sig AS (SELECT id, k, MIN(hk) AS mh FROM hashed GROUP BY id, k),
band_sig AS (
    SELECT id, CAST(FLOOR(k / 4.0) AS INT) AS band,
           string_agg(CAST(mh AS VARCHAR), '_' ORDER BY k) AS sig
    FROM sig GROUP BY 1, 2
),
candidates AS (
    SELECT DISTINCT l.id AS a, r.id AS b
    FROM band_sig l JOIN band_sig r
      ON l.band = r.band AND l.sig = r.sig AND l.id < r.id
),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
    SELECT a.id AS a, b.id AS b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    JOIN candidates c ON c.a = a.id AND c.b = b.id
    GROUP BY 1, 2
)
SELECT a, b, inter / (sa.sz + sb.sz - inter) AS jaccard
FROM inter JOIN sizes sa ON inter.a = sa.id JOIN sizes sb ON inter.b = sb.id
WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup maintenance on a versioned corpus — the
    steady-state 100 TB ingest flow: the MinHash-LSH band index lives as
    a repo TABLE; a new batch appends only ITS index rows (one commit),
    and dedup checks the batch against the stored index — new×old ∪
    new×new candidates via band equi-joins, never re-signaturing or
    re-pairing the existing corpus. Exact-Jaccard verification runs only
    on candidate docs. Result ≡ the full-corpus pipeline restricted to
    pairs involving a new doc (the oracle runs exactly that), which is
    the correctness contract that makes the incremental index safe."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.dedup import (
        exact_jaccard_verify,
        incremental_lsh_candidates,
        lsh_band_index,
        shingles,
    )
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.versioned import _fresh_repo

    docs = load_table(spark, sf_dir, "documents")
    old = docs.where(F.col("doc_id") % 10 != 0)
    new = docs.where(F.col("doc_id") % 10 == 0)
    repo = _fresh_repo()
    repo.write_table("main", "lsh_index", lsh_band_index(old))
    c0 = repo.commit("main", "v0: index the base corpus")
    repo.write_table("main", "lsh_index", lsh_band_index(new), mode="append")
    repo.commit("main", "v1: append the new batch's index rows")
    idx0 = repo.read_table(spark, "lsh_index", "main", version_as_of=c0.version)
    # the appended rows ARE the file-list diff of the two commits — a
    # metadata lookup, not an anti-join over the whole stored index
    # (which would shuffle the 100 TB index to find the new batch)
    base_files = set(repo.get_commit(c0.id).tables["lsh_index"])
    added = [
        f
        for f in repo.head("main").tables["lsh_index"]
        if f not in base_files
    ]
    new_idx = repo._read_files(spark, added)
    cands = incremental_lsh_candidates(idx0, new_idx)
    # verify only on docs that appear in a candidate pair
    cand_ids = (
        cands.select(F.col("a").alias("doc_id"))
        .union(cands.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    sh = shingles(docs.join(cand_ids, "doc_id", "left_semi"), "text", "doc_id")
    return exact_jaccard_verify(cands, sh, threshold=0.5).orderBy("a", "b")


# full-corpus LSH pipeline restricted to new-involving pairs: by the
# per-pair band-collision property this IS what the incremental path
# must produce — any over/under-reach of the index maintenance breaks it
ORACLE_DEDUP_INCREMENTAL = f"""
WITH {_SQL_SHINGLES},
ids AS (
    SELECT id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS sid
    FROM sh
),
hashed AS (
    SELECT id, k,
           (((1103515245::BIGINT * (k + 1) + 12345) % 2147483647) * sid
            + (12345::BIGINT * (k + 1)) % 2147483647) % 2147483647 AS hk
    FROM ids CROSS JOIN (SELECT unnest(range(16)) AS k)
),
sig AS (SELECT id, k, MIN(hk) AS mh FROM hashed GROUP BY id, k),
band_sig AS (
    SELECT id, CAST(FLOOR(k / 4.0) AS INT) AS band,
           string_agg(CAST(mh AS VARCHAR), '_' ORDER BY k) AS sig
    FROM sig GROUP BY 1, 2
),
candidates AS (
    SELECT DISTINCT l.id AS a, r.id AS b
    FROM band_sig l JOIN band_sig r
      ON l.band = r.band AND l.sig = r.sig AND l.id < r.id
    WHERE l.id % 10 = 0 OR r.id % 10 = 0
),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
    SELECT a.id AS a, b.id AS b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    JOIN candidates c ON c.a = a.id AND c.b = b.id
    GROUP BY 1, 2
)
SELECT a, b, inter / (sa.sz + sb.sz - inter) AS jaccard
FROM inter JOIN sizes sa ON inter.a = sa.id JOIN sizes sb ON inter.b = sb.id
WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
ORDER BY a, b
"""


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication metrics (Lee et al. 2022 shape): the
    fraction of each doc's 20-token windows that recur anywhere in the
    corpus — the boilerplate/template signal doc-level dedup misses.
    One shuffle (global window counts), no suffix array, no self-join."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.dedup import substring_dup_metrics

    docs = load_table(spark, sf_dir, "documents")
    return (
        substring_dup_metrics(docs, n=20)
        .where(F.col("n_dup_windows") > 0)
        .orderBy("doc_id")
    )


ORACLE_DEDUP_SUBSTRING = f"""
WITH toks AS (
    SELECT doc_id AS id, {_SQL_TOKS} AS tk FROM documents
),
wins AS (
    SELECT id,
           ('0x' || substr(md5(array_to_string(tk[i+1:i+20], ' ')), 1, 15))::BIGINT
               % 2147483647 AS h
    FROM (SELECT id, tk, unnest(range(len(tk) - 19)) AS i
          FROM toks WHERE len(tk) >= 20)
),
counts AS (SELECT h, COUNT(*) AS c FROM wins GROUP BY h),
per_doc AS (
    SELECT id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
    FROM wins JOIN counts USING (h)
    GROUP BY id
)
SELECT id AS doc_id, n_windows, n_dup_windows,
       n_dup_windows / n_windows AS dup_fraction
FROM per_doc WHERE n_dup_windows > 0 ORDER BY doc_id
"""


_SIMHASH_BITS = 30  # keep in sync with operators.dedup.simhash default


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, bits=_SIMHASH_BITS, max_hamming=3)


ORACLE_DEDUP_SIMHASH = f"""
WITH toks AS (
    SELECT doc_id AS id, unnest({_SQL_TOKS}) AS tok FROM documents
),
counts AS (SELECT id, tok, COUNT(*) AS cnt FROM toks GROUP BY id, tok),
hashed AS (
    SELECT id, cnt, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 2147483647 AS h
    FROM counts
),
contrib AS (
    SELECT id, j,
           cnt * ((CAST(FLOOR(h / POWER(2.0, j)) AS BIGINT) % 2) * 2 - 1) AS c
    FROM hashed CROSS JOIN (SELECT unnest(range({_SIMHASH_BITS})) AS j)
),
bitsums AS (SELECT id, j, SUM(c) AS s FROM contrib GROUP BY id, j),
sigs AS (
    SELECT id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(POWER(2.0, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
    FROM bitsums GROUP BY id
)
SELECT a.id AS a, b.id AS b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sigs a JOIN sigs b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell-blocked near-dup pairs over a TRAINED coarse quantizer
    (the 100 TB path, SemDeDup-style cluster-then-pairwise): two
    deterministic Lloyd's iterations train k=8 centroids
    (`operators/clustering.py::kmeans_fit` — metadata-sized, broadcast),
    candidates share one of their 2 nearest cells — equi-join on cell, no
    cross join — then exact quantized-cosine verify.

    k scales WITH the corpus (k = max(8, n/64)) — the only choice whose
    total cost stays linear for pair generation: fixed k widens cells as
    n grows, so candidate volume ~n²·nprobe²/k turns quadratic (measured
    5.3× per-row blowup at 8× input), while k ∝ n keeps cell width — and
    hence candidates per vector — constant. Assignment against the
    trained centroids is a pure Arrow matmul map (no join node, no n×k
    rows, no window shuffle), so its n·k work carries a tiny constant;
    past broadcastable k the docstring recipe is hierarchical (coarse
    shard → per-shard quantizer, `operators/similarity.py`).

    Recalls ~2/3 of the exact pair set at this θ=0.4 regime where
    sign-LSH blocking recalls almost nothing (sign-agreement probability
    per plane ~0.65). The oracle replays the identical Lloyd's iterations
    as SQL CTEs — exact int64 sums and floor-division updates make even
    the iterative training bit-reproducible — and computes k with the
    SAME max(8, n//64) rule in SQL (scalar-subquery LIMIT), so parity
    holds at any corpus size, not just the driver's current n=500."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.clustering import adaptive_k_flat, kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    # the assignment/verify tail reads the quantized projection the
    # trainer cached (adaptive count, init, iterations) — one quantize
    # pass for the whole query
    cents = kmeans_fit(emb, iters=2, adaptive_k=adaptive_k_flat)
    return cosine_pairs_ivf(emb, threshold=0.4, nprobe=2, centroids=cents)


def q_dedup_embedding_cosine_stride(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-quantizer flavor (default ``cosine_pairs_ivf`` arguments):
    centroids are a deterministic ~1/64 portable-hash sample of the corpus
    itself — zero training cost, right for corpora whose n/64 centroid
    set still broadcasts. The trained-k flavor above is the registered
    scale path."""
    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_ivf(emb, threshold=0.4, centroid_stride=64, nprobe=2)


# the hyperplane/bucket CTEs, shared with ORACLE_SIM_TOPK_LSH
_SQL_LSH_VEC = """
planes AS (
    SELECT p, list_transform(range(64),
               d -> CAST((1103515245::BIGINT * (p * 64 + d) + 12345) % 2039 - 1019 AS DOUBLE)) AS w
    FROM (SELECT unnest(range(8)) AS p)
),
buckets AS (
    SELECT qn.id,
           CAST(SUM(CASE WHEN list_dot_product(qn.q, planes.w) >= 0
                         THEN CAST(POWER(2.0, planes.p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
    FROM qn CROSS JOIN planes GROUP BY qn.id
),
vec AS (SELECT qn.id, qn.q, qn.n, b.bucket FROM qn JOIN buckets b USING (id))
"""

ORACLE_DEDUP_EMBEDDING_COSINE_STRIDE = f"""
WITH {_SQL_QVEC},
cents AS (
    -- portable-hash sampled ~1/64 of ids (mirrors operators/similarity.py:
    -- density-robust, no dense-sequential-id precondition)
    SELECT id AS cid, q AS cq, n AS cn FROM qn
    WHERE (('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT
           % 2147483647) % 64 = 0
),
ranked AS (
    SELECT qn.id, cents.cid,
           ROW_NUMBER() OVER (
               PARTITION BY qn.id
               ORDER BY list_dot_product(qn.q, cents.cq)
                        / (SQRT(qn.n) * SQRT(cents.cn)) DESC, cents.cid ASC
           ) AS rc
    FROM qn CROSS JOIN cents
),
assign AS (SELECT id, cid AS cell FROM ranked WHERE rc <= 2),
cand AS (
    SELECT DISTINCT x.id AS a, y.id AS b
    FROM assign x JOIN assign y ON x.cell = y.cell AND x.id < y.id
)
SELECT cand.a, cand.b,
       list_dot_product(va.q, vb.q) / (SQRT(va.n) * SQRT(vb.n)) AS cos
FROM cand JOIN qn va ON cand.a = va.id JOIN qn vb ON cand.b = vb.id
WHERE list_dot_product(va.q, vb.q) / (SQRT(va.n) * SQRT(vb.n)) >= 0.4
"""


# trained flavor: replay the exact adaptive-k / iters=2 Lloyd's chain
# (queries/kmeans_sql.py), probe each vector's 2 nearest trained cells,
# verify exact quantized cosine inside shared cells. k is computed IN
# SQL with the same max(8, n//64) rule the Spark query uses, so parity
# holds at any corpus size the driver throws at it, not just n=500.
_KM_TRAIN_K8, _KM_FINAL_K8 = km_train_ctes(
    k="SELECT GREATEST(8, COUNT(*) // 64) FROM qn", iters=2
)

ORACLE_DEDUP_EMBEDDING_COSINE = f"""
WITH qn0 AS (
    SELECT vec_id AS id,
           list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
    FROM embeddings
),
qn AS (SELECT id, q, list_dot_product(q, q) AS n FROM qn0),
{_KM_TRAIN_K8},
assign AS (SELECT id, cell FROM {_KM_FINAL_K8} WHERE rc <= 2),
cand AS (
    SELECT DISTINCT x.id AS a, y.id AS b
    FROM assign x JOIN assign y ON x.cell = y.cell AND x.id < y.id
)
SELECT cand.a, cand.b,
       list_dot_product(va.q, vb.q) / (SQRT(va.n) * SQRT(vb.n)) AS cos
FROM cand JOIN qn va ON cand.a = va.id JOIN qn vb ON cand.b = vb.id
WHERE list_dot_product(va.q, vb.q) / (SQRT(va.n) * SQRT(vb.n)) >= 0.4
"""


def q_dedup_embedding_cosine_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical-quantizer flavor — the scale path once a flat
    corpus-proportional k stops broadcasting: k_coarse shards, an
    independent k_fine Lloyd's per shard trained in one distributed loop,
    assignment = k_coarse + k_fine dots per vector (vs k_coarse·k_fine
    flat). Both levels use the CORPUS-SCALED rule k₁ = k₂ = ⌈√(n/64)⌉
    (`clustering.adaptive_k_hier`) — total cells K ≈ n/64 keep the same
    constant ~64-vector cell width as the flat adaptive rule, so
    candidate volume stays linear at any corpus size (a fixed cell count
    is the measured 5.31×-ratio quadratic failure mode, SCALING.md).
    The oracle replays BOTH training levels as SQL CTEs — the coarse
    chain, the shard assignment, the per-shard init (window over shard),
    the per-(shard, fine) updates — AND computes k with the same
    GREATEST(4, CEIL(SQRT(n/64.0))) rule in SQL, so parity holds at any
    corpus size, bit-exact like every other trained path."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.similarity import cosine_pairs_ivf_hier

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs_ivf_hier(emb, threshold=0.4, iters=1, nprobe=2)


# the SQL twin of clustering.adaptive_k_hier (kmeans_sql.K_HIER_SQL) —
# both levels' k and the global-cell-id multiplier (cell = shard·k_fine
# + fine) all compute it from the corpus itself
_K_HIER_SQL = K_HIER_SQL
_KM2_COARSE, _KM2_COARSE_FINAL = km_train_ctes(k=_K_HIER_SQL, iters=1)
_KM2_FINE, _KM2_FINE_FINAL = km2_train_ctes(k_fine=_K_HIER_SQL, iters=1)

ORACLE_DEDUP_EMBEDDING_COSINE_HIER = f"""
WITH qn0 AS (
    SELECT vec_id AS id,
           list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
    FROM embeddings
),
qn AS (SELECT id, q, list_dot_product(q, q) AS n FROM qn0),
{_KM2_COARSE},
qn2 AS (
    SELECT a.id, qn.q, qn.n, a.cell AS shard
    FROM {_KM2_COARSE_FINAL} a JOIN qn USING (id) WHERE a.rc = 1
),
{_KM2_FINE},
assign AS (
    SELECT id, shard * ({_K_HIER_SQL}) + fine AS cell
    FROM {_KM2_FINE_FINAL} WHERE rc <= 2
),
cand AS (
    SELECT DISTINCT x.id AS a, y.id AS b
    FROM assign x JOIN assign y ON x.cell = y.cell AND x.id < y.id
)
SELECT cand.a, cand.b,
       list_dot_product(va.q, vb.q) / (SQRT(va.n) * SQRT(vb.n)) AS cos
FROM cand JOIN qn va ON cand.a = va.id JOIN qn vb ON cand.b = vb.id
WHERE list_dot_product(va.q, vb.q) / (SQRT(va.n) * SQRT(vb.n)) >= 0.4
"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components (hash-min label
    propagation, an iterative Spark loop with checkpointed lineage) over
    the MinHash-LSH near-dup pairs. Oracle: recursive-CTE transitive
    closure over the same pairs."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    return connected_components(pairs)


# the LSH pair CTEs, reused verbatim; the recursive closure rides on top
_LSH_PAIR_CTES = f"""{_SQL_SHINGLES},
ids AS (
    SELECT id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS sid
    FROM sh
),
hashed AS (
    SELECT id, k,
           (((1103515245::BIGINT * (k + 1) + 12345) % 2147483647) * sid
            + (12345::BIGINT * (k + 1)) % 2147483647) % 2147483647 AS hk
    FROM ids CROSS JOIN (SELECT unnest(range(16)) AS k)
),
sig AS (SELECT id, k, MIN(hk) AS mh FROM hashed GROUP BY id, k),
band_sig AS (
    SELECT id, CAST(FLOOR(k / 4.0) AS INT) AS band,
           string_agg(CAST(mh AS VARCHAR), '_' ORDER BY k) AS sig
    FROM sig GROUP BY 1, 2
),
candidates AS (
    SELECT DISTINCT l.id AS a, r.id AS b
    FROM band_sig l JOIN band_sig r
      ON l.band = r.band AND l.sig = r.sig AND l.id < r.id
),
sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
inter AS (
    SELECT a.id AS a, b.id AS b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
    JOIN candidates c ON c.a = a.id AND c.b = b.id
    GROUP BY 1, 2
),
pairs AS (
    SELECT a, b
    FROM inter JOIN sizes sa ON inter.a = sa.id JOIN sizes sb ON inter.b = sb.id
    WHERE inter / (sa.sz + sb.sz - inter) >= 0.5
)"""

ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_LSH_PAIR_CTES},
edges AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
reach(x, y) AS (
    SELECT x, y FROM edges
    UNION
    SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
)
SELECT x AS id, LEAST(x, MIN(y)) AS component FROM reach GROUP BY x
"""


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup removal: keep the min-id doc per cluster, pass
    through unpaired docs untouched."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.graph import dedup_survivors

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    return dedup_survivors(docs, pairs).select("doc_id", "lang", "source")


ORACLE_DEDUP_SURVIVORS = f"""
WITH RECURSIVE {_LSH_PAIR_CTES},
edges AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b, a FROM pairs),
reach(x, y) AS (
    SELECT x, y FROM edges
    UNION
    SELECT r.x, e.y FROM reach r JOIN edges e ON r.y = e.x
),
comp AS (SELECT x AS id, LEAST(x, MIN(y)) AS component FROM reach GROUP BY x),
losers AS (SELECT id FROM comp WHERE id <> component)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT id FROM losers)
"""


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

def q_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    return topk_bruteforce(emb, queries, k=5)


ORACLE_SIM_TOPK = f"""
WITH {_SQL_QVEC},
scored AS (
    SELECT q.id AS query_id, c.id AS nbr,
           list_dot_product(q.q, c.q) / (SQRT(q.n) * SQRT(c.n)) AS cos
    FROM qn q JOIN qn c ON c.id <> q.id
    WHERE q.id < 8
),
ranked AS (
    SELECT query_id, nbr, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, nbr ASC) AS INT) AS rank
    FROM scored
)
SELECT query_id, nbr, rank, cos FROM ranked WHERE rank <= 5
"""


def q_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 8)
    return topk_lsh(emb, queries, k=5)


ORACLE_SIM_TOPK_LSH = f"""
WITH {_SQL_QVEC},
planes AS (
    SELECT p, list_transform(range(64),
               d -> CAST((1103515245::BIGINT * (p * 64 + d) + 12345) % 2039 - 1019 AS DOUBLE)) AS w
    FROM (SELECT unnest(range(8)) AS p)
),
buckets AS (
    SELECT qn.id,
           CAST(SUM(CASE WHEN list_dot_product(qn.q, planes.w) >= 0
                         THEN CAST(POWER(2.0, planes.p) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
    FROM qn CROSS JOIN planes GROUP BY qn.id
),
vec AS (SELECT qn.id, qn.q, qn.n, b.bucket FROM qn JOIN buckets b USING (id)),
-- multiprobe: each query probes its own bucket plus the 8 buckets at
-- hamming distance 1 (mirrors operators/similarity.py probe_bits=1)
qprobes AS (
    SELECT id, q, n,
           unnest(list_prepend(bucket, list_transform(range(8),
               p -> xor(bucket, CAST(POWER(2.0, p) AS BIGINT))))) AS bucket
    FROM vec WHERE id < 8
),
scored AS (
    SELECT q.id AS query_id, c.id AS nbr,
           list_dot_product(q.q, c.q) / (SQRT(q.n) * SQRT(c.n)) AS cos
    FROM qprobes q JOIN vec c ON q.bucket = c.bucket AND c.id <> q.id
),
ranked AS (
    SELECT query_id, nbr, cos,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, nbr ASC) AS INT) AS rank
    FROM scored
)
SELECT query_id, nbr, rank, cos FROM ranked WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# corpus preparation (operators/corpus.py)
# ---------------------------------------------------------------------------

def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking — the pretokenization sharding
    step of a training pipeline. Map+explode, chunk ids derived
    arithmetically (partitioning-independent)."""
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_tokens=16, overlap=4).select(
        F.col("id").alias("doc_id"), "chunk_idx", "chunk_len", "chunk_text"
    )


ORACLE_TEXT_CHUNKS = f"""
WITH toks AS (
    SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
),
starts AS (
    SELECT doc_id, tk, unnest(range(1, greatest(len(tk) - 4, 1) + 1, 12)) AS s
    FROM toks WHERE len(tk) >= 1
)
SELECT doc_id,
       CAST((s - 1) // 12 AS INT) AS chunk_idx,
       CAST(len(tk[s:s + 15]) AS INT) AS chunk_len,
       array_to_string(tk[s:s + 15], ' ') AS chunk_text
FROM starts
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (duplicate-token fraction,
    top-bigram fraction)."""
    docs = load_table(spark, sf_dir, "documents")
    return repetition_metrics(docs)


ORACLE_TEXT_REPETITION = f"""
WITH toks AS (
    SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
),
per_doc AS (
    SELECT doc_id, CAST(len(tk) AS INT) AS n_tokens,
           CASE WHEN len(tk) > 0
                THEN 1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
                ELSE 0.0 END AS dup_token_frac
    FROM toks
),
bg AS (
    SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bg
    FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
          FROM toks WHERE len(tk) >= 2)
),
cnt AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
top AS (
    SELECT doc_id, CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac
    FROM cnt GROUP BY doc_id
)
SELECT p.doc_id, p.n_tokens, p.dup_token_frac,
       COALESCE(t.top_bigram_frac, 0.0) AS top_bigram_frac
FROM per_doc p LEFT JOIN top t USING (doc_id)
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set contamination check: flag corpus docs sharing any 8-gram
    with the 'benchmark' slice (every 20th doc stands in for an eval
    suite). Benchmark shingles broadcast; the corpus never shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 20 == 0)
    return decontaminate(docs, bench, n=8)


ORACLE_DECONTAMINATE = f"""
WITH toks AS (
    SELECT doc_id, {_SQL_TOKS} AS tk FROM documents
),
dsh AS (
    SELECT DISTINCT doc_id, array_to_string(tk[i + 1:i + 8], ' ') AS shingle
    FROM (SELECT doc_id, tk, unnest(range(len(tk) - 7)) AS i
          FROM toks WHERE len(tk) >= 8)
),
bsh AS (SELECT DISTINCT shingle FROM dsh WHERE doc_id % 20 = 0),
hits AS (
    SELECT DISTINCT doc_id FROM dsh
    WHERE shingle IN (SELECT shingle FROM bsh)
)
SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing with audit counts. The synthetic corpus contains no
    PII, so the query plants deterministic emails (every 3rd doc) and long
    digit runs (every 2nd doc) before redacting — exercising match, count,
    and replacement on known ground truth."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" ref "),
                    (F.col("doc_id") * 1000000 + 123456).cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_redact(planted).select(
        "doc_id", "n_emails", "n_long_nums", "text_redacted"
    )


ORACLE_PII_REDACT = """
WITH planted AS (
    SELECT doc_id,
           coalesce(text, '')
           || CASE WHEN doc_id % 3 = 0
                   THEN ' contact user' || doc_id || '@example.com'
                   ELSE '' END
           || CASE WHEN doc_id % 2 = 0
                   THEN ' ref ' || (doc_id * 1000000 + 123456)
                   ELSE '' END AS text
    FROM documents
),
emailless AS (
    SELECT doc_id, text,
           regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+',
               '<EMAIL>', 'g') AS text_noemail
    FROM planted
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
            '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+')) AS INT)
           AS n_emails,
       CAST(len(regexp_extract_all(text_noemail, '[0-9]{6,}')) AS INT)
           AS n_long_nums,
       regexp_replace(text_noemail, '[0-9]{6,}', '<NUM>', 'g') AS text_redacted
FROM emailless
"""


def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy hitters (operators/sketches.py): word
    frequencies summarized into a 4×64 int64 sketch (bounded memory at
    any corpus size, partial sketches merge by addition), then items
    whose min-over-rows estimate clears the threshold — reported next
    to the exact count, so the oracle also pins the CMS guarantee
    est ≥ exact. Every bucket id and counter is a pure integer function
    of the md5 portable hash — the SKETCH itself is replayed in SQL."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.sketches import cms_heavy_hitters
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(tokenize(F.col("text"))).alias("word"))
    hh = cms_heavy_hitters(words, "word", width=64, depth=4, threshold=900)
    exact = words.groupBy(F.col("word").alias("item")).agg(
        F.count(F.lit(1)).alias("exact")
    )
    return (
        hh.join(exact, "item")
        .select("item", "est", "exact")
        .orderBy("item")
    )


# row r's universal affine hash ((a_r·h + b_r) mod P) mod width, with the
# per-row (a_r, b_r) literals inlined from operators/sketches.row_coeffs —
# genuinely distinct multipliers per row, matching the Spark sketch exactly
_CMS_HASH = "(({a} * ({h} % 2147483647) + {b}) % 2147483647) % 64"


def _oracle_text_heavy_hitters(depth: int = 4, threshold: int = 900) -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.sketches import row_coeffs

    ph = "(('0x' || substr(md5(word), 1, 15))::BIGINT % 2147483647)"
    pair_rows = "\nUNION ALL\n".join(
        f"SELECT word, {i} AS r, "
        f"{_CMS_HASH.format(h='hh', a=row_coeffs(i)[0], b=row_coeffs(i)[1])}"
        f" AS b FROM h"
        for i in range(depth)
    )
    return f"""
WITH w AS (SELECT unnest({_SQL_TOKS}) AS word FROM documents),
h AS (SELECT word, {ph} AS hh FROM w),
pairs AS ({pair_rows}),
sketch AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS cnt FROM pairs GROUP BY r, b),
probes AS (SELECT DISTINCT word, r, b FROM pairs),
est AS (
    SELECT p.word AS item, MIN(COALESCE(s.cnt, 0)) AS est
    FROM probes p LEFT JOIN sketch s ON s.r = p.r AND s.b = p.b
    GROUP BY p.word
),
exact AS (SELECT word AS item, CAST(COUNT(*) AS BIGINT) AS exact FROM w GROUP BY word)
SELECT e.item, CAST(e.est AS BIGINT) AS est, x.exact
FROM est e JOIN exact x USING (item)
WHERE e.est >= {threshold}
ORDER BY item
"""


ORACLE_TEXT_HEAVY_HITTERS = _oracle_text_heavy_hitters()


def q_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as one map pass (SURVEY §2.7
    extension): transform / filter / aggregate / array_sort / slice /
    reverse over each document's token array — the lambda-function
    surface Spark whole-stage-codegens, mirrored 1:1 by DuckDB's
    list_* lambdas. No UDFs, no shuffle."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.text import tokenize

    docs = load_table(spark, sf_dir, "documents")
    tk = tokenize(F.col("text"))
    lens = F.transform(tk, lambda t: F.length(t))
    return docs.select(
        "doc_id",
        F.size(tk).cast("int").alias("n_tokens"),
        F.size(F.filter(tk, lambda t: F.length(t) > 4)).cast("int").alias("n_long"),
        F.aggregate(lens, F.lit(0).cast("long"), lambda acc, x: acc + x).alias(
            "sum_lens"
        ),
        F.concat_ws(" ", F.slice(F.array_sort(tk), 1, 3)).alias("first3_sorted"),
        F.concat_ws("|", F.reverse(F.array_sort(tk))).alias("rev_sorted"),
    )


ORACLE_ARRAY_HOF = f"""
WITH t AS (SELECT doc_id, {_SQL_TOKS} AS tk FROM documents)
SELECT doc_id,
       CAST(len(tk) AS INT) AS n_tokens,
       CAST(len(list_filter(tk, x -> length(x) > 4)) AS INT) AS n_long,
       CAST(COALESCE(list_sum(list_transform(tk, x -> length(x))), 0) AS BIGINT)
           AS sum_lens,
       array_to_string(list_sort(tk)[1:3], ' ') AS first3_sorted,
       array_to_string(list_reverse(list_sort(tk)), '|') AS rev_sorted
FROM t
"""


def q_sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (operators/pq.py): train m=4 per-subspace
    integer-L2 codebooks (k=8, 2 Lloyd's iterations), compress every
    vector to 4 codes + its exact norm (32x), then ADC top-5 for the
    first 4 queries — the corpus is scored by LUT sums without ever
    being decompressed. The oracle replays all four subspace trainings
    as CTE chains and scores via the PQ-reconstructed vectors (a
    concatenated-codeword dot product ≡ the ADC LUT sum)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.pq import pq_topk_adc, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    # encoding reads the quantized projection pq_train cached
    cbs = pq_train(emb, m=4, k=8, iters=2)
    return pq_topk_adc(emb, queries, cbs, k=5).orderBy("query_id", "rank")


def q_sim_topk_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ search (operators/pq.pq_topk_refined): ADC shortlist
    of 50 over the compressed corpus, exact cosine re-rank of only the
    shortlisted rows — the FAISS refine pattern. Recall becomes the
    shortlist's (0.675 @50 on this fixture) while the final order is
    exact; at 1e9 vectors the exact stage touches 50 rows per query."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.pq import pq_topk_refined, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    cbs = pq_train(emb, m=4, k=8, iters=2)
    return pq_topk_refined(emb, queries, cbs, k=5, shortlist=50).orderBy(
        "query_id", "rank"
    )


def q_sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IndexIVFPQ (operators/pq.ivfpq_*): coarse integer-cosine IVF
    (k=8, the existing Lloyd's trainer) + PQ codebooks trained on CELL
    RESIDUALS, then nprobe=2 ADC search — each query scores only the
    compressed vectors in its two nearest cells, the double reduction
    (candidate volume × bytes) behind billion-scale ANN. The oracle
    replays the coarse training, the residual computation, all four
    residual-subspace trainings, and scores via
    dot(q, centroid) + dot(q, reconstructed residual) — exactly the ADC
    lookup-table sum."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.pq import ivfpq_topk, ivfpq_train

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    cents, cbs = ivfpq_train(emb, coarse_k=8, m=4, k=8, iters=2)
    return ivfpq_topk(emb, queries, cents, cbs, k=5, nprobe=2).orderBy(
        "query_id", "rank"
    )


def q_sim_topk_ivfpq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN stack: IVFPQ shortlist (nprobe=2, 50
    candidates from compressed codes in probed cells) then exact cosine
    re-rank of only the survivors — every cost lever composed, final
    ordering exact over what survives."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.pq import ivfpq_topk_refined, ivfpq_train

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 4)
    cents, cbs = ivfpq_train(emb, coarse_k=8, m=4, k=8, iters=2)
    return ivfpq_topk_refined(
        emb, queries, cents, cbs, k=5, nprobe=2, shortlist=50
    ).orderBy("query_id", "rank")


def _oracle_sim_topk_ivfpq(
    coarse_k: int = 8,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    refine: int | None = None,
) -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.kmeans_sql import (
        CENT_SAMPLE_SQL,
        KM_DIMS_SQL,
        km_train_ctes,
        kml2_train_ctes,
    )

    coarse_ctes, coarse_final = km_train_ctes(coarse_k, iters)
    final_c = f"c{iters}"  # trained coarse centroids CTE from km chain
    sub = f"(len(q) // {m})"
    parts, recon_cols, joins = [], [], []
    for j in range(m):
        lo, hi = f"({j} * {sub} + 1)", f"(({j} + 1) * {sub})"
        parts.append(f"rsub{j} AS (SELECT id, q[{lo}:{hi}] AS q FROM resid)")
        parts.append(f"rinit{j} AS (SELECT id, q[{lo}:{hi}] AS q FROM rseeds)")
        ctes, fc, fa = kml2_train_ctes(iters, f"rsub{j}", f"rinit{j}", f"_r{j}")
        parts.append(ctes)
        parts.append(
            f"rrec{j} AS (SELECT a.id, c.qc FROM (SELECT id, cell FROM {fa} "
            f"WHERE rc = 1) a JOIN {fc} c USING (cell))"
        )
        recon_cols.append(f"r{j}.qc")
        joins.append(f"rrec{j} r{j}")
    recon_join = joins[0] + "".join(f" JOIN {t} USING (id)" for t in joins[1:])
    parts_sql = ",\n".join(parts)
    recon_cols_sql = " || ".join(recon_cols)
    tail = _PQ_REFINE_TAIL_TPL.format(n=refine) if refine else _PQ_ADC_TAIL
    return f"""
WITH qv0 AS (
    SELECT vec_id AS id,
           list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
    FROM embeddings
),
qn AS (SELECT id, q, list_dot_product(q, q) AS n FROM qv0),
{coarse_ctes},
corpus_cell AS (SELECT id, cell FROM {coarse_final} WHERE rc = 1),
resid AS (
    SELECT qn.id,
           list_transform(range(1, {KM_DIMS_SQL} + 1),
                          i -> qn.q[i] - c.qc[i]) AS q
    FROM qn JOIN corpus_cell cc ON cc.id = qn.id
    JOIN {final_c} c ON c.cell = cc.cell
),
rseeds AS (SELECT id, q FROM resid ORDER BY {CENT_SAMPLE_SQL}, id LIMIT {k}),
{parts_sql},
recon_res AS (SELECT r0.id, {recon_cols_sql} AS rq FROM {recon_join}),
qv AS (SELECT * FROM qn WHERE id < 4),
probe AS (
    SELECT qv.id, c.cell,
           ROW_NUMBER() OVER (
               PARTITION BY qv.id
               ORDER BY list_dot_product(qv.q, c.qc)
                        / (SQRT(qv.n) * SQRT(list_dot_product(c.qc, c.qc))) DESC,
                        c.cell ASC) AS rc
    FROM qv CROSS JOIN {final_c} c
),
scored AS (
    SELECT qv.id AS query_id, x.id AS nbr,
           CAST(list_dot_product(qv.q, c.qc)
                + list_dot_product(qv.q, rr.rq) AS BIGINT) AS adc,
           qv.n AS nq, x.n AS nx
    FROM qv
    JOIN probe p ON p.id = qv.id AND p.rc <= {nprobe}
    JOIN corpus_cell cc ON cc.cell = p.cell
    JOIN qn x ON x.id = cc.id
    JOIN {final_c} c ON c.cell = cc.cell
    JOIN recon_res rr ON rr.id = x.id
    WHERE x.id != qv.id
),
ranked AS (
    SELECT query_id, nbr, adc,
           ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY adc / (SQRT(CAST(nq AS DOUBLE)) * SQRT(CAST(nx AS DOUBLE))) DESC,
                        nbr ASC) AS rank
    FROM scored
){tail}
"""


# (instantiated below, after the shared tail templates are defined)


def _oracle_sim_topk_pq(
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    refine: int | None = None,
    train_where: str | None = None,
) -> str:
    """ONE builder for every flat-PQ oracle flavor: plain ADC, the
    refine tail, and the vector-lake split (``train_where`` restricts
    codebook training to a subset while encoding covers the full
    corpus — the stored-codebook incremental-ingest semantics)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.kmeans_sql import (
        CENT_SAMPLE_SQL,
        kml2_assign,
        kml2_train_ctes,
    )

    sub = f"(len(q) // {m})"  # subspace width derived from the data
    train_rel = "qtrain" if train_where else "qn"
    parts, recon_cols, joins = [], [], []
    for j in range(m):
        lo, hi = f"({j} * {sub} + 1)", f"(({j} + 1) * {sub})"
        parts.append(f"sub{j} AS (SELECT id, q[{lo}:{hi}] AS q FROM {train_rel})")
        parts.append(f"init{j} AS (SELECT id, q[{lo}:{hi}] AS q FROM seeds)")
        ctes, final_c, final_a = kml2_train_ctes(iters, f"sub{j}", f"init{j}", f"_{j}")
        parts.append(ctes)
        if train_where:
            # encode the FULL corpus against the subset-trained codebook
            parts.append(f"esub{j} AS (SELECT id, q[{lo}:{hi}] AS q FROM qn)")
            parts.append(kml2_assign(final_c, f"enc{j}", f"esub{j}"))
            enc = f"enc{j}"
        else:
            enc = final_a  # training set == corpus: reuse the chain's assign
        parts.append(
            f"rec{j} AS (SELECT a.id, c.qc FROM (SELECT id, cell FROM {enc} "
            f"WHERE rc = 1) a JOIN {final_c} c USING (cell))"
        )
        recon_cols.append(f"r{j}.qc")
        joins.append(f"rec{j} r{j}")
    recon_join = joins[0] + "".join(f" JOIN {t} USING (id)" for t in joins[1:])
    parts_sql = ",\n".join(parts)
    recon_cols_sql = " || ".join(recon_cols)
    train_cte = (
        f"qtrain AS (SELECT id, q FROM qn WHERE {train_where}),\n" if train_where else ""
    )
    tail = _PQ_REFINE_TAIL_TPL.format(n=refine) if refine else _PQ_ADC_TAIL
    return f"""
WITH qv0 AS (
    SELECT vec_id AS id,
           list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
    FROM embeddings
),
qn AS (SELECT id, q, list_dot_product(q, q) AS n FROM qv0),
{train_cte}seeds AS (SELECT id, q FROM {train_rel} ORDER BY {CENT_SAMPLE_SQL}, id LIMIT {k}),
{parts_sql},
recon AS (SELECT r0.id, {recon_cols_sql} AS rq FROM {recon_join}),
scored AS (
    SELECT qv.id AS query_id, x.id AS nbr,
           CAST(list_dot_product(qv.q, r.rq) AS BIGINT) AS adc,
           qv.n AS nq, x.n AS nx
    FROM (SELECT * FROM qn WHERE id < 4) qv
    CROSS JOIN qn x JOIN recon r ON r.id = x.id
    WHERE x.id != qv.id
),
ranked AS (
    SELECT query_id, nbr, adc,
           ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY adc / (SQRT(CAST(nq AS DOUBLE)) * SQRT(CAST(nx AS DOUBLE))) DESC,
                        nbr ASC) AS rank
    FROM scored
){tail}
"""


_PQ_ADC_TAIL = """
SELECT query_id, CAST(rank AS INT) AS rank, nbr, adc
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank"""

_PQ_REFINE_TAIL_TPL = """,
shortlist AS (SELECT query_id, nbr FROM ranked WHERE rank <= {n}),
exact AS (
    SELECT s.query_id, s.nbr,
           CAST(list_dot_product(qq.q, xx.q) AS BIGINT) AS dot,
           qq.n AS nq, xx.n AS nx
    FROM shortlist s
    JOIN qn qq ON qq.id = s.query_id
    JOIN qn xx ON xx.id = s.nbr
),
rr AS (
    SELECT query_id, nbr, dot,
           ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY dot / (SQRT(CAST(nq AS DOUBLE)) * SQRT(CAST(nx AS DOUBLE))) DESC,
                        nbr ASC) AS rank
    FROM exact
)
SELECT query_id, CAST(rank AS INT) AS rank, nbr, dot
FROM rr WHERE rank <= 5
ORDER BY query_id, rank"""


ORACLE_SIM_TOPK_PQ = _oracle_sim_topk_pq()
ORACLE_SIM_TOPK_PQ_REFINED = _oracle_sim_topk_pq(refine=50)
ORACLE_SIM_TOPK_IVFPQ = _oracle_sim_topk_ivfpq()
ORACLE_SIM_TOPK_IVFPQ_REFINED = _oracle_sim_topk_ivfpq(refine=50)


def q_classifier_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (operators/classifier.py): a
    logistic-regression quality classifier TRAINED inside the engine —
    6 full-batch fixed-point Newton/IRLS iterations (VERDICT r11 #2:
    was 24 fixed-step GD passes; Newton-6 reaches log-loss 0.343 where
    GD-24 stalled at 0.489), each one distributed aggregation of twenty
    128-bit sums (5 gradient + 15 Hessian entries) with an exact
    big-int adjugate solve on the driver — then a map-only scoring
    pass → (doc_id, label, score_ppm, pred). The oracle replays every
    iteration as SQL CTEs from w0 = 0 (queries/logreg_sql.py, cofactor
    expressions generated from the SAME permutation expansion), so the
    hash match certifies the TRAINER, not just the scores. The
    production corpus-curation pattern (CCNet/fastText-style filters)
    the heuristic text_quality query cannot express."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.classifier import (
        FEATURE_COLS,
        quality_features,
        score_logreg,
        train_logreg_newton,
    )
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.similarity import _persisted

    docs = load_table(spark, sf_dir, "documents")
    feats = _persisted(
        quality_features(docs).select("doc_id", *FEATURE_COLS, "label")
    )
    w = train_logreg_newton(feats)
    return (
        score_logreg(feats, w)
        .select("doc_id", "label", "score_ppm", "pred")
        .orderBy("doc_id")
    )


def _oracle_classifier_quality() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.logreg_sql import (
        oracle_classifier_quality_newton,
    )

    return oracle_classifier_quality_newton()


ORACLE_CLASSIFIER_QUALITY = _oracle_classifier_quality()


def q_classifier_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the stopword feature as a univariate detector of
    the quality label (operators/evaluation.py): Mann-Whitney rank AUC
    with tie halving, computed WITHOUT a global row sort — one hash
    aggregation to distinct scores, one window over the score domain
    only, decimal(38,0) pair sums. The feature-diagnostic pass a
    curation pipeline runs before committing to a trained filter."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.classifier import quality_features
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.evaluation import binary_auc

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(docs).select("f_stop", "label")
    # f_stop is engine-emitted ppm integers: the domain is bounded by
    # construction, so skip the guard's extra counting pass
    return binary_auc(feats, "f_stop", "label", max_distinct_scores=None)


def q_classifier_eval_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold confusion matrix + precision/recall/F1 (ppm, integer
    division) for the same univariate detector at 0.36·PPM·8 — one
    aggregation pass (operators/evaluation.py)."""
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.classifier import quality_features
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.evaluation import confusion_metrics

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_features(docs).select("f_stop", "label")
    return confusion_metrics(feats, "f_stop", "label", 360000)


def _oracle_classifier_eval_auc() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.evaluation import binary_auc_sql
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.logreg_sql import _feats_cte

    return binary_auc_sql("feats", "f_stop", "label", extra_ctes=_feats_cte() + ",\n")


def _oracle_classifier_eval_confusion() -> str:
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.evaluation import confusion_metrics_sql
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.queries.logreg_sql import _feats_cte

    return confusion_metrics_sql(
        "feats", "f_stop", "label", 360000, extra_ctes=_feats_cte() + ",\n"
    )


EXTENSION_QUERIES = {
    "array_hof": q_array_hof,
    "classifier_quality": q_classifier_quality,
    "classifier_eval_auc": q_classifier_eval_auc,
    "classifier_eval_confusion": q_classifier_eval_confusion,
    "text_heavy_hitters": q_text_heavy_hitters,
    "sim_topk_pq": q_sim_topk_pq,
    "sim_topk_pq_refined": q_sim_topk_pq_refined,
    "sim_topk_ivfpq": q_sim_topk_ivfpq,
    "sim_topk_ivfpq_refined": q_sim_topk_ivfpq_refined,
    "text_lang_id": q_text_lang_id,
    "text_quality": q_text_quality,
    "text_token_count": q_text_token_count,
    "text_fingerprint": q_text_fingerprint,
    "dedup_exact": q_dedup_exact,
    "dedup_fingerprint": q_dedup_fingerprint,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_incremental": q_dedup_incremental,
    "dedup_substring": q_dedup_substring,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_embedding_cosine_stride": q_dedup_embedding_cosine_stride,
    "dedup_embedding_cosine_hier": q_dedup_embedding_cosine_hier,
    "dedup_clusters": q_dedup_clusters,
    "dedup_survivors": q_dedup_survivors,
    "sim_topk": q_sim_topk,
    "sim_topk_lsh": q_sim_topk_lsh,
    "text_chunks": q_text_chunks,
    "text_repetition": q_text_repetition,
    "decontaminate": q_decontaminate,
    "pii_redact": q_pii_redact,
}

EXTENSION_ORACLES = {
    "array_hof": ORACLE_ARRAY_HOF,
    "classifier_quality": ORACLE_CLASSIFIER_QUALITY,
    "classifier_eval_auc": _oracle_classifier_eval_auc(),
    "classifier_eval_confusion": _oracle_classifier_eval_confusion(),
    "text_heavy_hitters": ORACLE_TEXT_HEAVY_HITTERS,
    "sim_topk_pq": ORACLE_SIM_TOPK_PQ,
    "sim_topk_pq_refined": ORACLE_SIM_TOPK_PQ_REFINED,
    "sim_topk_ivfpq": ORACLE_SIM_TOPK_IVFPQ,
    "sim_topk_ivfpq_refined": ORACLE_SIM_TOPK_IVFPQ_REFINED,
    "text_lang_id": ORACLE_TEXT_LANG_ID,
    "text_quality": ORACLE_TEXT_QUALITY,
    "text_token_count": ORACLE_TEXT_TOKEN_COUNT,
    "text_fingerprint": ORACLE_TEXT_FINGERPRINT,
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_fingerprint": ORACLE_DEDUP_FINGERPRINT,
    "dedup_ngram_jaccard": ORACLE_DEDUP_NGRAM_JACCARD,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH_LSH,
    "dedup_incremental": ORACLE_DEDUP_INCREMENTAL,
    "dedup_substring": ORACLE_DEDUP_SUBSTRING,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "dedup_embedding_cosine": ORACLE_DEDUP_EMBEDDING_COSINE,
    "dedup_embedding_cosine_stride": ORACLE_DEDUP_EMBEDDING_COSINE_STRIDE,
    "dedup_embedding_cosine_hier": ORACLE_DEDUP_EMBEDDING_COSINE_HIER,
    "dedup_clusters": ORACLE_DEDUP_CLUSTERS,
    "dedup_survivors": ORACLE_DEDUP_SURVIVORS,
    "sim_topk": ORACLE_SIM_TOPK,
    "sim_topk_lsh": ORACLE_SIM_TOPK_LSH,
    "text_chunks": ORACLE_TEXT_CHUNKS,
    "text_repetition": ORACLE_TEXT_REPETITION,
    "decontaminate": ORACLE_DECONTAMINATE,
    "pii_redact": ORACLE_PII_REDACT,
}

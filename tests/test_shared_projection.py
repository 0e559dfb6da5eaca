"""The quantized ``(id, q, n)`` projection is shared through Spark's
cache, not through parameters: a trainer leaves
``_persisted(quantized_norm(df))`` cached for the rest of the query, a
later stage that rebuilds ``quantized_norm(df)`` plans against that
cached relation, and results are bit-identical whether or not anything
was cached first."""

from contextlib import contextmanager

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from manage_versions_of_data_in_data_lake_using_lakefs_spark import runtime
from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.clustering import kmeans_fit
from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.pq import (
    _exact_rerank,
    ivfpq_topk,
    ivfpq_train,
    pq_encode,
    pq_topk_adc,
    pq_train,
)
from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.similarity import (
    _persisted,
    cosine_pairs_ivf,
    quantized_norm,
)


@pytest.fixture(scope="module")
def emb(spark):
    # deterministic synthetic embeddings: 48 vectors, 8 dims
    rows = [
        (i, [((i * 31 + d * 17) % 97 - 48) / 7.0 for d in range(8)])
        for i in range(48)
    ]
    return spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>")


@pytest.fixture(autouse=True)
def _released():
    runtime.release_tracked()
    yield
    runtime.release_tracked()


def _reads_cache(df) -> bool:
    return "InMemoryRelation" in df._jdf.queryExecution().withCachedData().toString()


def test_kmeans_init_vecs_matches_own_init(spark, emb):
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.operators.dedup import portable_hash

    base = kmeans_fit(emb, k=5, iters=2)
    init = [
        r.q
        for r in quantized_norm(emb)
        .select("id", "q")
        .orderBy(portable_hash(F.col("id").cast("string")), "id")
        .limit(5)
        .collect()
    ]
    assert kmeans_fit(emb, k=5, iters=2, _init_vecs=init) == base


def test_persisted_on_cached_plan_is_a_no_op(spark, emb):
    jsc = spark.sparkContext._jsc
    qn = _persisted(quantized_norm(emb))
    qn.count()
    live, rdds = len(runtime._LIVE), len(jsc.getPersistentRDDs())
    again = quantized_norm(emb)
    assert _persisted(again) is again
    again.count()
    assert len(runtime._LIVE) == live
    assert len(jsc.getPersistentRDDs()) == rdds


def test_later_stages_read_the_trainer_cache(spark, emb):
    queries = emb.where(F.col("vec_id") < 3)
    cbs = pq_train(emb, m=4, k=4, iters=2)
    assert _reads_cache(pq_encode(emb, cbs))
    short = spark.createDataFrame([(0, 5), (1, 7)], "query_id LONG, nbr LONG")
    assert _reads_cache(_exact_rerank(short, emb, queries, 1, "embedding", "vec_id"))
    runtime.release_tracked()
    assert not _reads_cache(pq_encode(emb, cbs))

    cents = kmeans_fit(emb, k=4, iters=1)
    assert _reads_cache(quantized_norm(emb))
    assert _reads_cache(cosine_pairs_ivf(emb, threshold=0.4, centroids=cents))


@contextmanager
def _caller_cache(emb):
    """Persist ``quantized_norm(emb)`` the way a caller would, outside
    the runtime's tracking, and check on exit that the operators left
    it cached for the caller to release."""
    qn = quantized_norm(emb).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        qn.count()
        yield qn
        runtime.release_tracked()
        assert qn.storageLevel != StorageLevel.NONE
    finally:
        qn.unpersist(blocking=False)


def test_pq_train_shared_qn_matches(spark, emb):
    base = pq_train(emb, m=4, k=4, iters=2)
    runtime.release_tracked()
    with _caller_cache(emb):
        assert pq_train(emb, m=4, k=4, iters=2) == base


def test_ivfpq_train_and_search_shared_qn_matches(spark, emb):
    queries = emb.where(F.col("vec_id") < 3)

    def train_and_search():
        cents, cbs = ivfpq_train(emb, coarse_k=4, m=4, k=4, iters=2)
        hits = ivfpq_topk(emb, queries, cents, cbs, k=3, nprobe=2)
        return cents, cbs, hits.orderBy("query_id", "rank").collect()

    base = train_and_search()
    runtime.release_tracked()
    # ivfpq_train must not unpersist the caller's identical plan
    with _caller_cache(emb):
        assert train_and_search() == base


def test_pq_adc_shared_queries_qn_matches(spark, emb):
    queries = emb.where(F.col("vec_id") < 3)
    cbs = pq_train(emb, m=4, k=4, iters=2)
    runtime.release_tracked()
    r0 = pq_topk_adc(emb, queries, cbs, k=3).orderBy("query_id", "rank").collect()
    with _caller_cache(emb):
        r1 = pq_topk_adc(emb, queries, cbs, k=3).orderBy("query_id", "rank").collect()
    assert r1 == r0


def test_aligned_select_matches_column_path(spark, tmp_path):
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.repo import LakeRepo
    from manage_versions_of_data_in_data_lake_using_lakefs_spark.versioning.sql import LakeSQL

    repo = LakeRepo.init(str(tmp_path / "r"))
    sql = LakeSQL(spark, repo, "main")
    sql.sql("CREATE TABLE t (K_Id BIGINT, v STRING, d DOUBLE DEFAULT 1.5)")
    # positional branch (values cast to the target types)
    sql.sql("INSERT INTO t VALUES (1, 'a', 0.5)")
    # named-column branch: d is omitted and takes its DEFAULT
    sql.sql("INSERT INTO t (K_Id, v) VALUES (2, 'b')")
    got = sorted((r.K_Id, r.v, r.d) for r in sql.sql("SELECT * FROM t").collect())
    assert got == [(1, "a", 0.5), (2, "b", 1.5)]
    f = {x.name: x for x in sql.sql("SELECT * FROM t").schema.fields}
    assert f["K_Id"].dataType.simpleString() == "bigint"
    assert f["d"].dataType.simpleString() == "double"

"""Persist hygiene (r11 review #2): query-body persists must not
outlive the invocation when the caller drains — otherwise a repeated
timing pass silently reads the previous pass's cache (CacheManager
dedupes by analyzed plan) and a long-lived session leaks memory."""

from __future__ import annotations

from pyspark.sql import functions as F


def _n_cached(spark) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    # CacheManager has no size(); isEmpty() is enough for delta checks
    return 0 if cm.isEmpty() else 1


def test_drain_unpersists_query_body_persists(spark):
    from cassandra_pv_archiver_spark import cache_scope
    from cassandra_pv_archiver_spark.operators.sketches import (
        cms_heavy_hitter_audit,
    )
    from cassandra_pv_archiver_spark.operators.text import oov_rate

    # start from a clean slate so isEmpty() is meaningful
    spark.catalog.clearCache()
    cache_scope.drain()
    assert _n_cached(spark) == 0

    docs = spark.range(60).selectExpr(
        "id AS doc_id",
        "concat('tok', CAST(id % 7 AS STRING), ' tok',"
        " CAST(id % 3 AS STRING)) AS text",
    )
    cms_heavy_hitter_audit(docs, top_k=5).count()
    oov_rate(docs, top_n=3).count()
    assert _n_cached(spark) == 1  # the persists are live mid-invocation

    n = cache_scope.drain()
    assert n >= 2
    assert _n_cached(spark) == 0  # nothing outlives the drain
    assert cache_scope.drain() == 0  # idempotent


def test_drained_query_recomputes_and_matches(spark):
    """After a drain the same query rebuilds from source and returns
    identical rows (the bench pass-2 honesty property)."""
    from cassandra_pv_archiver_spark import cache_scope
    from cassandra_pv_archiver_spark.operators.sketches import (
        cms_heavy_hitter_audit,
    )

    docs = spark.range(40).selectExpr(
        "id AS doc_id",
        "concat('w', CAST(id % 5 AS STRING)) AS text",
    )
    a = [tuple(r) for r in cms_heavy_hitter_audit(docs, top_k=4).collect()]
    cache_scope.drain()
    b = [tuple(r) for r in cms_heavy_hitter_audit(docs, top_k=4).collect()]
    cache_scope.drain()
    assert a == b


def test_registry_persist_sites_register_with_cache_scope(spark, tmp_path):
    """The four r11-flagged sites (cms, oov, bpe occurrence table,
    vocab-overlap top table) must all route through cache_scope so
    bench.run_one's drain reaches them."""
    from cassandra_pv_archiver_spark import cache_scope
    from cassandra_pv_archiver_spark.catalog_data import (
        q_bpe_tokenize_audit,
        q_source_vocab_overlap,
    )

    sf = str(tmp_path)
    docs = spark.range(50).selectExpr(
        "id AS doc_id",
        "concat('word', CAST(id % 11 AS STRING), ' and word',"
        " CAST(id % 4 AS STRING)) AS text",
        "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang",
        "concat('src', CAST(id % 3 AS STRING)) AS source",
    )
    docs.write.parquet(sf + "/documents.parquet")
    cache_scope.drain()
    q_source_vocab_overlap(spark, sf).count()
    assert cache_scope.drain() >= 1
    q_bpe_tokenize_audit(spark, sf).count()
    assert cache_scope.drain() >= 1


class _SpyFrame:
    """Records how :func:`cache_scope.drain` unpersists it."""

    def __init__(self, cached: bool = False):
        self.is_cached = cached
        self.unpersist_calls: list[bool] = []

    def persist(self):
        self.is_cached = True
        return self

    def unpersist(self, blocking: bool = False):
        self.unpersist_calls.append(blocking)
        self.is_cached = False
        return self


def test_drain_unpersists_blocking():
    """drain() must wait for the blocks to be freed: a non-blocking
    unpersist lets the cleanup run inside the next timed query."""
    from cassandra_pv_archiver_spark import cache_scope

    cache_scope.drain()
    spy = cache_scope.persist_scoped(_SpyFrame())
    assert cache_scope.drain() == 1
    assert spy.unpersist_calls == [True]


def test_persist_scoped_leaves_caller_cache_alone(spark):
    """A DataFrame the caller already cached is neither re-persisted nor
    registered, so a drain cannot unpersist it out from under its
    owner."""
    from cassandra_pv_archiver_spark import cache_scope

    cache_scope.drain()
    spy = _SpyFrame(cached=True)
    assert cache_scope.persist_scoped(spy) is spy
    assert cache_scope.drain() == 0
    assert spy.unpersist_calls == []

    owned = spark.range(10).selectExpr("id * 3 AS x").persist()
    owned.count()
    mine = spark.range(10).selectExpr("id * 5 AS x")
    assert cache_scope.persist_scoped(owned) is owned
    cache_scope.persist_scoped(mine)
    assert cache_scope.drain() == 1
    assert owned.is_cached and not mine.is_cached
    owned.unpersist(blocking=True)

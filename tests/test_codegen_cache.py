"""Warm re-runs of a corpus shard's two entries must find their
generated classes in Spark's code-generator cache instead of compiling
them again.

``pipeline_corpus_dedup`` and ``dedup_embedding_cosine_lsh`` together
compile about 96 Janino classes cold, the work of one ``corpus_dedup``
benchmark op. With Spark's default cache of 100 entries each warm
re-run recompiled 24-60 of them (a plain session and this test
session); with ``session.CODEGEN_CACHE_ENTRIES`` it compiles 0-10."""

from __future__ import annotations

from tests.conftest import SF_SMOKE

WARM_RUNS = 3
#: classes the warm runs may still compile together: a plan that
#: embeds per-run values is new code however large the cache
WARM_COMPILES_MAX = 10 * WARM_RUNS


def test_warm_reruns_reuse_generated_classes(spark):
    from lake_satellite_image_etl_spark.caching import release_all
    from lake_satellite_image_etl_spark.registry import load_all
    from lake_satellite_image_etl_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    queries = load_all()[0]
    fns = [queries["pipeline_corpus_dedup"], queries["dedup_embedding_cosine_lsh"]]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run() -> int:
        before = compiles.getCount()
        for fn in fns:
            fn(spark, SF_SMOKE).write.mode("overwrite").format("noop").save()
            release_all()
        return compiles.getCount() - before

    run()
    warm = [run() for _ in range(WARM_RUNS)]
    assert sum(warm) <= WARM_COMPILES_MAX, warm

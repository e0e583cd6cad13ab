"""The cache bound that operators/_scoped.bounded_intermediate keeps:
re-running a query in the same session re-persists an identical plan,
which Spark recognises as already cached, so the CacheManager does not
grow with the number of runs.

Counted on the CacheManager, not on ``getRDDStorageInfo``: the latter
also lists localCheckpoint RDDs that wait for the ContextCleaner, so it
drifts from run to run without any leak."""

import pytest

SF = "/root/testdata/sf0.001"

# every registry query whose plan reaches bounded_intermediate
BOUNDED = [
    "dedup_minhash_lsh",
    "dedup_cluster_components",
    "dedup_cluster_components_lsh",
    "dedup_cluster_canonical",
    "dedup_incremental_near",
    "dedup_substring_spans",
    "dedup_substring_coverage",
    "ngram_jaccard_pairs",
    "text_line_dedup",
    "graph_triangle_stats",
    "graph_triangle_approx",
    "embedding_covariance",
    "embedding_pca",
    "embedding_mahalanobis_outliers",
]


def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().cachedData().size()


@pytest.mark.slow
def test_repeated_queries_do_not_grow_the_cache(spark):
    import __spark_entry__

    registry = __spark_entry__.queries()
    sizes = []
    for _ in range(2):
        for name in BOUNDED:
            registry[name](spark, SF).write.mode("overwrite").format("noop").save()
        sizes.append(_cached_entries(spark))
    assert sizes[0] > 0, "no query reached bounded_intermediate"
    assert sizes[1] == sizes[0], sizes

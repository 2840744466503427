"""Generated code is compiled once per session: the session's codegen
cache holds the working set of a registry query mix, so running the mix
a second time compiles (almost) nothing. With Spark's 100-entry default
the nine queries below (~170 generated classes) evict each other, and
every re-run re-compiles every class."""

from __future__ import annotations

import dup_ocropy_spark.operators as _ops
from __spark_entry__ import SF0001 as SF_DIR
from dup_ocropy_spark.operators.registry import REGISTRY
from dup_ocropy_spark.plans.cache import release_shared

_ops.load_all()

# the benchmark's registry_mix set
QUERIES = ("dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_simhash",
           "dedup_paragraphs", "dedup_semantic_topk", "ann_cosine_topk",
           "quality_score", "q3_topk_revenue", "a6_moving_stats")


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM (one histogram sample each)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_mix(spark) -> int:
    before = _compiles(spark)
    for q in QUERIES:
        REGISTRY[q].spark(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        release_shared()
    return _compiles(spark) - before


def test_second_run_of_a_query_mix_recompiles_nothing(spark):
    first = _run_mix(spark)
    second = _run_mix(spark)
    assert second <= 0.05 * first, (
        f"second run compiled {second} classes, first {first}: the codegen "
        "cache is smaller than the mix's working set")

"""Generated-code reuse across plans (session.get_spark's codegen confs).

The registry re-runs a fixed set of plan shapes, each on a new plan. With
Spark's default 100-entry class cache and the stage id in every generated
class name, a repeated pass of the six corpus_batch queries compiled about
250 classes again; with the cache sized to the registry's working set and
the id left out of class names, it compiles none.
"""

from __future__ import annotations

from tests.conftest import SF_DIR
from vector_search_ai_assistant_mongodbvcore_spark import queries as Q

# perfbench/corpus_batch.py's timed queries
CORPUS_BATCH = (
    "distinct_cardinality_kmv",
    "ngram_jaccard_pairs",
    "remove_duplicated_spans",
    "training_shards",
    "minhash_band_pairs",
    "vocab_top_terms",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sets_codegen_cache_confs(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "2048"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_repeated_pass_compiles_no_classes(spark):
    """Each query is rebuilt and written to the noop sink twice: the
    second pass plans every stage again but finds every class cached."""
    reg = Q.queries()

    def one_pass() -> dict[str, int]:
        compiled = {}
        for name in CORPUS_BATCH:
            before = _compiles(spark)
            reg[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            compiled[name] = _compiles(spark) - before
        return compiled

    one_pass()
    assert _compiles(spark) > 0  # the metric counts at all
    second = one_pass()
    assert sum(second.values()) == 0, f"classes compiled again on a repeated pass: {second}"

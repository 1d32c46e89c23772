"""Session settings that the engine's warm-query speed relies on."""

from __future__ import annotations

from perfbench.query_tail import op_list

from extract_transform_load_template_multidb_spark.queries import all_queries


def _compiled_classes(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_warm_query_cycle_compiles_nothing(spark, sf_dir):
    """A session that cycles through registry queries reuses the classes it
    generated on the first pass. Spark's default 100-entry codegen cache
    holds fewer classes than the 12 ``query_tail`` queries generate, so it
    evicts each before its next use and every pass recompiles them all."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1024"
    queries = all_queries()
    names = op_list(1)

    def run_pass():
        for name in names:
            queries[name](spark, sf_dir).collect()

    run_pass()
    before = _compiled_classes(spark)
    run_pass()
    warm = _compiled_classes(spark) - before
    # The first pass may find its classes cached by earlier tests; that the
    # metric counts at all is what keeps the second assertion meaningful.
    assert before > 0
    assert warm == 0, f"warm pass recompiled {warm} classes"

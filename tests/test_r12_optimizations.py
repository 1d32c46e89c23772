"""Round-12 optimization guards and gate internals.

Covers the operator-internal changes of the round:
  * _fan_out decides from optimizer statistics, never touches df.rdd
    (the old probe materialized every upstream AQE stage at plan-build
    time, silently running shuffle-rooted inputs twice per query);
  * ngram_jaccard_pairs(strategy="allpairs") refuses oversized rep
    universes (the quadratic path is for sample-sized sides only);
  * the banded paths raise on non-divisible num_perm/rows_per_band
    instead of silently dropping trailing signature rows;
  * banded_unique_pairs keeps its exactly-once guarantee when band
    hashes are NULL (null-safe staleness);
  * the recall audit's n_missed subtraction equals the anti-join it
    replaced.
"""

from __future__ import annotations

import pyspark.sql
import pytest
from pyspark.sql import functions as F

from extract_transform_load_template_multidb_spark.operators import dedup as dd


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, f"alpha beta gamma delta {i % 7} {'x' * (i % 3)}")
        for i in range(60)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


@pytest.fixture(scope="module")
def pq_docs(spark, docs, tmp_path_factory):
    """Parquet-backed copy: _fan_out's gate reads file-scan statistics,
    which a createDataFrame (LogicalRDD, unknown size) does not have."""
    path = str(tmp_path_factory.mktemp("fanout") / "docs.parquet")
    docs.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_fan_out_never_touches_rdd(spark, pq_docs, monkeypatch):
    """The gate must be pure plan arithmetic: .rdd under AQE executes
    every upstream query stage eagerly at build time."""

    def _boom(self):  # pragma: no cover - failure path
        raise AssertionError("_fan_out touched df.rdd")

    monkeypatch.setattr(
        pyspark.sql.DataFrame, "rdd", property(_boom), raising=True
    )
    out = dd._fan_out(pq_docs.select("doc_id", "text"))
    # Tiny input -> spread over cores (an extra round-robin exchange).
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan


def test_fan_out_noop_above_byte_threshold(spark, pq_docs):
    """At >= cores x advisory bytes the gate is a no-op (cluster-scale
    posture: never force a shuffle of a frame that already spreads)."""
    old = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    try:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1b")
        out = dd._fan_out(pq_docs.select("doc_id", "text"))
        assert "Repartition" not in (
            out._jdf.queryExecution().optimizedPlan().toString()
        )
    finally:
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", old
        )


def test_fan_out_gate_reads_advisory_size_on_each_call(spark, pq_docs):
    """The gate follows the session's current advisory partition size:
    changing it between two calls on one session flips the decision."""
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)

    def fans_out():
        out = dd._fan_out(pq_docs.select("doc_id", "text"))
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        return "Repartition" in plan

    try:
        spark.conf.set(key, "1g")
        assert fans_out()
        spark.conf.set(key, "1b")
        assert not fans_out()
    finally:
        spark.conf.set(key, old)


def test_fan_out_unknown_stats_is_noop(spark, docs):
    """A frame with no size statistics (LogicalRDD) must never be force-
    shuffled — at cluster scale an unknown-size input is more likely huge
    than tiny."""
    out = dd._fan_out(docs.select("doc_id", "text"))
    assert "Repartition" not in (
        out._jdf.queryExecution().optimizedPlan().toString()
    )


def test_allpairs_max_reps_guard_raises(spark, docs):
    guarded = dd.ngram_jaccard_pairs(
        docs, n=1, threshold=0.5, strategy="allpairs", max_reps=5
    )
    with pytest.raises(Exception, match="capped at max_reps"):
        guarded.count()


def test_allpairs_within_cap_unchanged(spark, docs):
    capped = dd.ngram_jaccard_pairs(
        docs, n=1, threshold=0.3, strategy="allpairs", max_reps=1 << 20
    )
    index = dd.ngram_jaccard_pairs(docs, n=1, threshold=0.3)
    assert sorted(map(tuple, capped.collect())) == sorted(
        map(tuple, index.collect())
    )


@pytest.mark.parametrize("num_perm,rows_per_band", [(8, 3), (7, 2)])
def test_banded_divisibility_guards(spark, docs, num_perm, rows_per_band):
    with pytest.raises(ValueError, match="divisible"):
        dd.near_dup_pairs(
            docs, num_perm=num_perm, rows_per_band=rows_per_band
        )
    with pytest.raises(ValueError, match="divisible"):
        dd.incremental_near_dups(
            docs, docs, num_perm=num_perm, rows_per_band=rows_per_band
        )


def test_banded_unique_pairs_null_band_hashes_exactly_once(spark):
    """NULL band hashes bucket together in the groupBy, so the staleness
    test must use null-safe equality: doc A [null,1] and B [7,1] share
    only band 1 and must be emitted there (plain == made the staleness
    filter NULL and dropped them); A and C [null,1] share band 0 (the
    null bucket) and band 1 and must be emitted exactly once."""
    bands_all = spark.createDataFrame(
        [(1, [None, 1]), (2, [7, 1]), (3, [None, 1])],
        "doc_id long, __bhs array<long>",
    )
    got = sorted(
        (r.id_a, r.id_b)
        for r in dd.banded_unique_pairs(bands_all, n_bands=2).collect()
    )
    assert got == [(1, 2), (1, 3), (2, 3)]


def test_recall_audit_n_missed_equals_anti_join(spark, sf_dir):
    """n_missed is computed as n_exact - n_found on the premise that
    found ⊆ exact; the set difference it replaced must agree with it."""
    from extract_transform_load_template_multidb_spark.catalog import (
        load_table,
    )
    from extract_transform_load_template_multidb_spark.queries import llm_data

    exact, found = llm_data._recall_audit_pairs(
        load_table(spark, sf_dir, "documents")
    )
    anti = exact.join(found, ["id_a", "id_b"], "left_anti").count()
    row = llm_data.dedup_lsh_recall_audit(spark, sf_dir).first()
    assert row["n_missed"] == anti
    assert found.join(exact, ["id_a", "id_b"], "left_anti").count() == 0

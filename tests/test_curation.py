"""Corpus-curation operators: determinism, leakage-safety, chunk/packing
semantics, and plan posture."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from extract_transform_load_template_multidb_spark.operators import curation as cu
from extract_transform_load_template_multidb_spark.operators import dedup as dd
from extract_transform_load_template_multidb_spark.operators import layout


def _docs(spark, sf_dir):
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def test_hash_sample_deterministic_and_pushable(spark, sf_dir):
    df = _docs(spark, sf_dir)
    a = {r["doc_id"] for r in cu.hash_sample(df, 30).select("doc_id").collect()}
    b = {r["doc_id"] for r in cu.hash_sample(df, 30).select("doc_id").collect()}
    assert a == b and 0 < len(a) < df.count()
    # a larger pct strictly contains a smaller one (bucket predicate nests)
    c = {r["doc_id"] for r in cu.hash_sample(df, 60).select("doc_id").collect()}
    assert a <= c


def test_stratified_rates_respected(spark, sf_dir):
    df = _docs(spark, sf_dir)
    out = cu.stratified_sample(
        df, "source", {"src0": 100, "src1": 0}, default_pct=0
    )
    got = {r["source"] for r in out.select("source").distinct().collect()}
    assert got == {"src0"}  # 100% of src0, 0% of everything else


def test_group_split_no_leakage(spark, sf_dir):
    """Every exact-duplicate cluster must land wholly on one side."""
    df = _docs(spark, sf_dir).withColumn("__grp", F.md5("text"))
    out = cu.group_split(df, "__grp", test_pct=25)
    sides = out.groupBy("__grp").agg(
        F.count_distinct("split").alias("n_sides")
    )
    assert sides.filter(F.col("n_sides") > 1).count() == 0
    assert {r["split"] for r in out.select("split").distinct().collect()} == {
        "train",
        "test",
    }


def test_chunks_cover_document_with_overlap(spark):
    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = cu.chunk_documents(df, chunk_tokens=4, overlap=2).orderBy(
        "chunk_idx"
    ).collect()
    # stride 2 over 10 tokens → starts 0,2,4,6,8 → 5 chunks, last is short
    assert [r["chunk_text"] for r in rows] == [
        "w0 w1 w2 w3",
        "w2 w3 w4 w5",
        "w4 w5 w6 w7",
        "w6 w7 w8 w9",
        "w8 w9",
    ]
    assert [r["n_chunk_tokens"] for r in rows] == [4, 4, 4, 4, 2]


def test_chunk_empty_doc_yields_no_rows(spark):
    df = spark.createDataFrame([(1, "")], "doc_id long, text string")
    assert cu.chunk_documents(df).count() == 0


def test_repetition_ratio_bounds(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c a b c a b c"),  # heavy repetition
            (2, "all distinct words here today"),  # none
            (3, "x y"),  # shorter than n
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r for r in cu.repetition_ratio(df, n=3).collect()
    }
    assert got[1]["repetition_ratio"] > 0.5
    assert got[2]["repetition_ratio"] == 0.0
    assert got[3]["repetition_ratio"] == 0.0 and got[3]["n_ngrams"] == 0


def test_pack_sequences_bins_are_contiguous(spark, sf_dir):
    out = cu.pack_sequences(
        _docs(spark, sf_dir), target_tokens=256, shard_col="source"
    )
    # within a shard, bin index is non-decreasing in doc order and the
    # exclusive prefix of each bin's first doc lies inside that bin
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy("doc_id")
    bad = out.withColumn("prev_bin", F.lag("bin").over(w)).filter(
        F.col("prev_bin").isNotNull() & (F.col("bin") < F.col("prev_bin"))
    )
    assert bad.count() == 0


def test_curation_stays_jvm_side(spark, sf_dir):
    """No Python eval nodes anywhere in the curation plans."""
    df = _docs(spark, sf_dir)
    for frame in (
        cu.scrub_pii(df),
        cu.hash_sample(df, 10),
        cu.chunk_documents(df),
        cu.repetition_ratio(df),
        cu.pack_sequences(df, 512, "source"),
    ):
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


@pytest.mark.parametrize(
    "cc_kwargs",
    [
        {},                       # closure over the forest: driver union-find
        {"small_graph_edges": 0},  # closure over the forest: star contraction
    ],
)
def test_connected_components_chain_and_cliques(spark, cc_kwargs):
    """A 4-chain (diameter > 1), a triangle, and an isolated pair each
    collapse to their min id — under both closures of the two-phase
    contraction: driver union-find and distributed star contraction."""
    from extract_transform_load_template_multidb_spark.operators import (
        dedup as dd,
    )

    pairs = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 4),          # chain 1-2-3-4
            (10, 11), (11, 12), (10, 12),    # triangle
            (20, 21),                        # pair
        ],
        "id_a bigint, id_b bigint",
    )
    got = {
        r["node"]: r["component"]
        for r in dd.connected_components(pairs, **cc_kwargs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10,
                   20: 20, 21: 20}


@pytest.mark.parametrize(
    "call",
    [
        pytest.param(lambda df: cu.hash_sample(df, 101), id="hash_sample"),
        pytest.param(
            lambda df: cu.stratified_sample(df, "source", {"web": -1}),
            id="stratified_sample",
        ),
        pytest.param(lambda df: cu.group_split(df, "source", 150),
                     id="group_split"),
        pytest.param(lambda df: cu.chunk_documents(df, 16, 16),
                     id="chunk_documents"),
        pytest.param(lambda df: cu.mixture_sample(df, {"web": -0.5}),
                     id="mixture_sample"),
        pytest.param(lambda df: layout.z_value([F.col("doc_id")] * 4, 16),
                     id="z_value"),
        pytest.param(
            lambda df: dd.near_dup_pairs(df, num_perm=8, rows_per_band=3),
            id="near_dup_pairs",
        ),
        pytest.param(lambda df: dd.simhash(df, bits=33), id="simhash"),
        pytest.param(
            lambda df: dd.simhash_pairs(df, n_bands=4, max_hamming=4),
            id="simhash_pairs_pigeonhole",
        ),
        pytest.param(lambda df: dd.simhash_pairs(df, bits=30, n_bands=4),
                     id="simhash_pairs_band_width"),
    ],
)
def test_operator_contract_checks_raise_value_error(spark, call):
    """Arguments outside an operator's contract raise ValueError, which
    ``python -O`` cannot strip the way it strips an ``assert``."""
    df = spark.createDataFrame(
        [(1, "a b c", "web")], "doc_id bigint, text string, source string"
    )
    with pytest.raises(ValueError):
        call(df)


def test_dedup_keep_canonical_drops_cluster_losers(spark):
    from extract_transform_load_template_multidb_spark.operators import (
        dedup as dd,
    )

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 4, 10, 11, 99)],
        "doc_id bigint, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    kept = sorted(
        r["doc_id"]
        for r in dd.dedup_keep_canonical(docs, pairs).collect()
    )
    # cluster {1,2,3} keeps 1; {10,11} keeps 10; 4 and 99 untouched
    assert kept == [1, 4, 10, 99]


def test_connected_components_raises_on_nonconvergence(spark, monkeypatch):
    import pytest as _pytest

    from extract_transform_load_template_multidb_spark.operators import (
        dedup as dd,
    )

    # A 64-node chain in 8 slices. Phase 1 contracts each slice to a star
    # of its own, and neighbouring slices share an end node, so the forest
    # is a chain of stars that the first star round still rewrites. A
    # one-row partition budget stops the repartitioned contraction passes,
    # which would otherwise flatten so small a forest into one star.
    monkeypatch.setattr(dd, "_CONTRACT_ROWS_PER_PART", 1)
    chain = spark.createDataFrame(
        spark.sparkContext.parallelize([(i, i + 1) for i in range(63)], 8),
        "id_a bigint, id_b bigint",
    )
    # small_graph_edges=0 sends the contracted forest to the star
    # closure, whose round budget is max_iter (the driver union-find has
    # none to exhaust). A round that changes the edge set cannot confirm
    # convergence: that takes a round that leaves it unchanged.
    with _pytest.raises(RuntimeError, match="did not converge"):
        dd.connected_components(chain, max_iter=1, small_graph_edges=0)
    # and converges fine with enough rounds
    got = dd.connected_components(
        chain, max_iter=10, small_graph_edges=0
    ).collect()
    assert sorted(r["node"] for r in got) == list(range(64))
    assert all(r["component"] == 0 for r in got)


def test_star_closure_stops_on_star_forest(spark, count_jobs):
    """A forest that phase 1 already flattened to exact stars is the star
    closure's fixed point: one round confirms it, because the input's own
    signature is taken with its checkpoint."""
    from extract_transform_load_template_multidb_spark.operators import (
        dedup as dd,
    )

    # Two stars, one partition: the contraction emits them unchanged.
    pairs = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(0, i) for i in range(1, 9)] + [(100, i) for i in range(101, 105)],
            1,
        ),
        "id_a bigint, id_b bigint",
    )
    got, jobs = count_jobs(
        lambda: dd.connected_components(
            pairs, max_iter=1, small_graph_edges=0
        ).collect()
    )
    want = {i: 0 for i in range(9)} | {i: 100 for i in range(100, 105)}
    assert {r["node"]: r["component"] for r in got} == want
    # A closure that runs a second, confirming round takes 26 jobs here.
    assert jobs < 26, jobs


def test_star_closure_finishes_path_graph(spark):
    """A 64-node path graph has diameter 63, yet star contraction
    (O(log n) rounds, independent of diameter) labels it inside 15
    rounds — both as connected_components' distributed closure and on
    the raw path, where no phase-1 contraction has flattened it first."""
    from extract_transform_load_template_multidb_spark.operators import (
        dedup as dd,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a bigint, id_b bigint"
    )
    want = {i: 0 for i in range(64)}
    got = {
        r["node"]: r["component"]
        for r in dd.connected_components(
            chain, small_graph_edges=0, max_iter=15
        ).collect()
    }
    assert got == want
    raw = chain.select(
        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
    )
    got = {
        r["node"]: r["component"]
        for r in dd._cc_star_contraction(raw, 15).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Benchmark decontamination + paragraph splitting (round 5)
# ---------------------------------------------------------------------------


def test_decontaminate_counts_shared_shingles(spark):
    corpus = spark.createDataFrame(
        [
            # shares two 3-gram shingles with the eval doc
            (1, "alpha beta gamma delta epsilon"),
            # shares one shingle → below min_shared=2
            (2, "alpha beta gamma zeta other words here"),
            # shares nothing
            (3, "completely different tokens entirely unrelated"),
            # too short for 3-grams
            (4, "alpha beta"),
        ],
        "doc_id long, text string",
    )
    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon trailing")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n_shared"]
        for r in cu.decontaminate(corpus, eval_df, n=3, min_shared=2).collect()
    }
    # doc 1 shares: "alpha beta gamma", "beta gamma delta", "gamma delta
    # epsilon" → 3; doc 2 shares only "alpha beta gamma" → dropped.
    assert got == {1: 3}


def test_decontaminate_eval_union_not_per_item(spark):
    """min_shared counts DISTINCT shingles across the whole eval set: two
    eval items contributing one shingle each must flag the doc."""
    corpus = spark.createDataFrame(
        [(1, "a b c x y z q w e")], "doc_id long, text string"
    )
    eval_df = spark.createDataFrame(
        [(100, "a b c k k k"), (101, "x y z k k k")],
        "doc_id long, text string",
    )
    got = cu.decontaminate(corpus, eval_df, n=3, min_shared=2).collect()
    assert [(r["doc_id"], r["n_shared"]) for r in got] == [(1, 2)]


def test_split_paragraphs_blank_lines(spark):
    df = spark.createDataFrame(
        [(1, "one two three\n\nfour five\n \t\n\nsix")],
        "doc_id long, text string",
    )
    got = [
        (r["para_idx"], r["para_text"])
        for r in cu.split_paragraphs(df).orderBy("para_idx").collect()
    ]
    assert got == [(0, "one two three"), (1, "four five"), (2, "six")]


def test_split_paragraphs_windows_long_paragraph(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e\n\nf g")], "doc_id long, text string"
    )
    got = [
        (r["para_idx"], r["para_text"])
        for r in cu.split_paragraphs(df, max_tokens=2)
        .orderBy("para_idx")
        .collect()
    ]
    # first paragraph (5 tokens) → windows of 2: [a b][c d][e]; second → [f g]
    assert got == [(0, "a b"), (1, "c d"), (2, "e"), (3, "f g")]


def test_split_paragraphs_drops_tokenless_blocks(spark):
    df = spark.createDataFrame(
        [(1, "!!! ???\n\nreal words"), (2, ""), (3, "...")],
        "doc_id long, text string",
    )
    got = [
        (r["doc_id"], r["para_idx"], r["para_text"])
        for r in cu.split_paragraphs(df, max_tokens=8).collect()
    ]
    assert got == [(1, 0, "real words")]


def test_dedup_paragraphs_rebuild_keeps_first_occurrence(spark):
    df = spark.createDataFrame(
        [
            (1, "shared para here\n\nunique one alpha"),
            (2, "shared para here\n\nunique two beta"),
            (3, "shared para here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r
        for r in cu.dedup_paragraphs_rebuild(df).collect()
    }
    # doc 1 owns the first occurrence of the shared paragraph
    assert got[1]["clean_text"] == "shared para here unique one alpha"
    assert (got[1]["n_kept"], got[1]["n_dropped"]) == (2, 0)
    assert got[2]["clean_text"] == "unique two beta"
    assert (got[2]["n_kept"], got[2]["n_dropped"]) == (1, 1)
    # doc 3 loses everything → empty but still present
    assert got[3]["clean_text"] == ""
    assert (got[3]["n_kept"], got[3]["n_dropped"]) == (0, 1)


def test_dedup_paragraphs_rebuild_preserves_order(spark):
    df = spark.createDataFrame(
        [(1, "zz last\n\naa first\n\nmm middle")],
        "doc_id long, text string",
    )
    got = cu.dedup_paragraphs_rebuild(df).collect()[0]
    # document order, not lexicographic
    assert got["clean_text"] == "zz last aa first mm middle"


def test_mixture_sample_epoch_weights(spark):
    df = spark.createDataFrame(
        [(i, "a") for i in range(100)] + [(i, "b") for i in range(100, 200)],
        "doc_id long, source string",
    )
    out = cu.mixture_sample(
        df, weights={"a": 2.0, "b": 0.5}, default_weight=1.0
    )
    counts = {
        r["source"]: r["n"]
        for r in out.groupBy("source").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    # a: exactly 2 copies each; b: ~50% of docs once (deterministic subset)
    assert counts["a"] == 200
    assert 30 <= counts["b"] <= 70
    # reruns identical (no rand())
    again = {
        (r["doc_id"], r["epoch"])
        for r in cu.mixture_sample(
            df, weights={"a": 2.0, "b": 0.5}, default_weight=1.0
        ).collect()
    }
    first = {(r["doc_id"], r["epoch"]) for r in out.collect()}
    assert first == again
    # epoch indices are 1..n per doc
    a_doc = [r["epoch"] for r in out.filter("doc_id = 0").collect()]
    assert sorted(a_doc) == [1, 2]


def test_mixture_sample_zero_weight_drops_stratum(spark):
    df = spark.createDataFrame(
        [(1, "keep"), (2, "drop")], "doc_id long, source string"
    )
    got = cu.mixture_sample(
        df, weights={"drop": 0.0}, default_weight=1.0
    ).collect()
    assert [(r["doc_id"], r["epoch"]) for r in got] == [(1, 1)]


def test_cluster_split_keeps_cluster_together(spark, sf_dir):
    """Every near-dup cluster must land wholly on one side of the split."""
    from extract_transform_load_template_multidb_spark.queries import (
        all_queries,
    )

    out = all_queries()["curation_cluster_split"](spark, sf_dir)
    violations = (
        out.groupBy("split_group")
        .agg(F.count_distinct("split").alias("n_sides"))
        .filter(F.col("n_sides") > 1)
        .count()
    )
    assert violations == 0
    # both sides non-empty at fixture scale
    sides = {r["split"] for r in out.select("split").distinct().collect()}
    assert sides == {"train", "test"}


def test_ngram_containment_detects_supersets(spark):
    """A short doc verbatim inside a long one: containment ≈ 1 from the
    short side while Jaccard stays below a dedup threshold — the pair
    the containment operator exists to catch. Directional values must
    follow the OUTPUT pair orientation, including for exact copies."""
    from extract_transform_load_template_multidb_spark.operators import (
        dedup as dd,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} filler{i} pad{i}" for i in range(30))
    rows = [
        (1, short),
        (2, short + " " + filler),  # superset of 1
        (3, "completely unrelated content here entirely"),
        (4, short),  # exact copy of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["containment_a"], r["containment_b"])
        for r in dd.ngram_containment_pairs(df, n=3, threshold=0.6).collect()
    }
    # 1 ⊂ 2: containment from the short side (id_a=1) is 1.0.
    assert (1, 2) in got
    ca, cb = got[(1, 2)]
    assert ca == 1.0 and cb < 0.6
    # jaccard on the same pair would be far below the 0.6 bar
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(df, n=3, threshold=0.0).collect()
    }
    assert jac[(1, 2)] < 0.6
    # the exact copy pairs up with both 1 and 2, orientation-correct
    assert got[(1, 4)] == (1.0, 1.0)
    assert (2, 4) in got
    ca24, cb24 = got[(2, 4)]
    assert cb24 == 1.0 and ca24 < 0.6  # 4 is the short side of (2, 4)
    assert all(k != (1, 3) and k != (2, 3) for k in got)


def test_two_phase_cc_many_partitions_dups_and_selfloops(spark):
    """Two-phase CC's phase-1 forests must merge correctly ACROSS
    partitions: a 120-node chain (phase-1 cannot close it locally — its
    segments span every partition) plus cliques, with duplicate rows,
    reversed duplicates, and self-loops mixed in, spread over 16
    partitions. Duplicates/self-loops are union no-ops by contract;
    small_graph_edges=0 forces the distributed star closure over the
    forest, so both phases are exercised."""
    from extract_transform_load_template_multidb_spark.operators import (
        dedup as dd,
    )

    edges = [(i, i + 1) for i in range(119)]                # long chain
    edges += [(200 + i, 200 + j) for i in range(5) for j in range(i)]
    edges += [(300, 301), (301, 300), (300, 301)]           # dups, both ways
    edges += [(400, 400)]                                   # self-loop only
    edges += edges[:40]                                     # more duplicates
    pairs = spark.createDataFrame(
        edges, "id_a bigint, id_b bigint"
    ).repartition(16)
    got = {
        r["node"]: r["component"]
        for r in dd.connected_components(
            pairs, small_graph_edges=0
        ).collect()
    }
    want = {i: 0 for i in range(120)}
    want.update({200 + i: 200 for i in range(5)})
    want.update({300: 300, 301: 300})
    want[400] = 400  # self-loop-only node keeps itself
    assert got == want


def test_two_phase_cc_iterated_contraction_reaches_driver_gate(spark):
    """Round-11 filtering iteration: when the pass-1 forest is still
    bigger than the driver gate, _cc_two_phase re-contracts it with a
    shrunken partition count instead of handing it to star contraction.
    _CONTRACT_ROWS_PER_PART is shrunk so the 16-partition fixture forces
    MULTIPLE passes, and the gate is sized so the loop (not star) must
    produce the final labels."""
    from extract_transform_load_template_multidb_spark.operators import (
        dedup as dd,
    )

    edges = [(i, i + 1) for i in range(199)] * 8  # chain, heavy dups
    edges += [(300, 300)]  # self-loop-only node
    pairs = spark.createDataFrame(
        edges, "id_a bigint, id_b bigint"
    ).repartition(16)
    # Gate: driver path only once the forest shrinks to ~|V| (201
    # nodes); pass-1's 16-partition forest is far above it.
    orig = dd._CONTRACT_ROWS_PER_PART
    dd._CONTRACT_ROWS_PER_PART = 120  # force nparts > 1 on pass 2
    try:
        got = {
            r["node"]: r["component"]
            for r in dd.connected_components(
                pairs, small_graph_edges=500
            ).collect()
        }
    finally:
        dd._CONTRACT_ROWS_PER_PART = orig
    want = {i: 0 for i in range(200)}
    want[300] = 300
    assert got == want

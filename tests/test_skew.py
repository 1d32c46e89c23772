"""Salted aggregation/join equal their unsalted plans on skewed data."""

from __future__ import annotations

from pyspark.sql import functions as F

from extract_transform_load_template_multidb_spark.operators import skew


def _skewed(spark):
    # one hot key (0) with 5k rows, 50 cold keys with ~100 each
    hot = spark.range(5000).select(
        F.lit(0).alias("k"), F.col("id").alias("v")
    )
    cold = spark.range(5000, 10000).select(
        (F.col("id") % 50 + 1).alias("k"), F.col("id").alias("v")
    )
    return hot.unionByName(cold)


def test_salted_agg_matches_plain(spark):
    df = _skewed(spark)
    plain = {
        (r["k"]): (r["s"], r["n"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted = {
        (r["k"]): (r["s"], r["n"])
        for r in skew.salted_agg(
            df,
            keys=["k"],
            partial_aggs=[
                F.sum("v").alias("ps"),
                F.count(F.lit(1)).alias("pn"),
            ],
            merge_aggs=[
                F.sum("ps").alias("s"),
                F.sum("pn").alias("n"),
            ],
            salt_from=["v"],
            n_salts=16,
        ).collect()
    }
    assert salted == plain


def test_salted_join_matches_plain(spark):
    left = _skewed(spark)
    right = spark.range(51).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )
    plain = sorted(
        (r["k"], r["v"], r["w"]) for r in left.join(right, "k").collect()
    )
    salted = sorted(
        (r["k"], r["v"], r["w"])
        for r in skew.salted_broadcast_left(
            left, right, key="k", n_salts=8, salt_from=["v"]
        ).collect()
    )
    assert salted == plain


def test_salt_is_deterministic(spark):
    df = _skewed(spark).withColumn("s1", skew.stable_salt(["v"], 8))
    df2 = _skewed(spark).withColumn("s1", skew.stable_salt(["v"], 8))
    assert df.exceptAll(df2).count() == 0
    assert df.select(F.max("s1"), F.min("s1")).collect()[0] == (7, 0)


def _levenshtein(x: str, y: str) -> int:
    prev = list(range(len(y) + 1))
    for i, cx in enumerate(x, 1):
        cur = [i]
        for j, cy in enumerate(y, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cx != cy))
            )
        prev = cur
    return prev[-1]


def test_blocked_edit_distance_pairs_matches_bruteforce(spark):
    """Linkage pairs equal a Python double loop over every same-block
    pair, each pair once. One block is larger than ``BLOCK_SIZE``, so
    its pairs go through the blocked + round-robin expansion; other
    blocks reuse its key values in different combinations, and a row
    with a null id pairs with nothing (as in the SQL self-join)."""
    import random

    from extract_transform_load_template_multidb_spark.operators import (
        dedup as dd,
    )

    rng = random.Random(7)

    def name():
        return "".join(rng.choice("abc") for _ in range(5))

    big = dd.BLOCK_SIZE + 44
    rows = [(i, "b1", 1, name()) for i in range(big)]
    rows += [(1000 + i, "b1", 2, name()) for i in range(6)]
    rows += [(2000 + i, "b2", 1, name()) for i in range(6)]
    rows += [(3000, "b3", 3, name()), (None, "b1", 1, rows[0][3])]
    df = spark.createDataFrame(
        rows, "id bigint, brand string, grp int, name string"
    )
    got = [
        tuple(r)
        for r in dd.blocked_edit_distance_pairs(
            df, ("brand", "grp"), "name", id_col="id", max_distance=2
        ).collect()
    ]
    want = set()
    for ia, ba, ga, na in rows:
        for ib, bb, gb, nb in rows:
            if ia is None or ib is None or ia >= ib or (ba, ga) != (bb, gb):
                continue
            d = _levenshtein(na, nb)
            if d <= 2:
                want.add((ia, ib, d))
    assert len(got) == len(set(got))  # each pair exactly once
    assert set(got) == want
    assert any(a < dd.BLOCK_SIZE < b for a, b, _ in want)  # cross-slice


def test_near_dup_empty_text_copies_never_pair(spark):
    """Exact copies of a zero-token text have no MinHash signature, hence
    no bands — they must NOT appear as near-dup pairs (parity with the
    uncollapsed pipeline and the SQL oracle); normal duplicate cliques
    still pair with Jaccard exactly 1.0."""
    from pyspark.sql import functions as F

    from extract_transform_load_template_multidb_spark.operators import (
        dedup as dd,
    )

    docs = spark.createDataFrame(
        [
            (1, "... !!! ..."),   # tokenizes to nothing
            (2, "... !!! ..."),   # identical empty-token copy
            (3, "alpha beta gamma delta"),
            (4, "alpha beta gamma delta"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.near_dup_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) not in got
    assert got[(3, 4)] == 1.0

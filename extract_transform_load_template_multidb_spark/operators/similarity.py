"""Approximate-nearest-neighbor search over an embedding column.

Beyond-reference extension (SURVEY.md §7 phase 4). Two strategies over
``embeddings.embedding`` (``array<float>``):

- :func:`cosine_topk_bruteforce` — exact top-k: broadcast the (small) query
  set against the corpus, cosine per pair, windowed rank. The scale path for
  "few queries × huge corpus": one pass over the corpus, no corpus shuffle
  (the rank groups by query id, and rows per query can be pre-pruned with a
  per-partition top-k if k ≪ partition size).
- :func:`signlsh_topk` — sign-random-projection LSH: hash every vector to a
  small bucket code (sign of dot with p pseudo-random ±1 hyperplanes), then
  search only bucket-mates. At 100 TB the bucket join replaces the full
  corpus scan per query; recall is tuned by the number of planes/tables.

Numeric portability: elements are quantized ``floor(x*1000)`` to int64, so
dot products and squared norms are exact integer sums (order-independent —
safe under any partitioning), and the final cosine is a fixed-order IEEE
double expression every engine computes bit-identically. The pseudo-random
hyperplanes derive from md5 parity, reproducible in any engine.

All stages are built-in DataFrame ops (higher-order array functions —
``zip_with`` / ``aggregate`` / ``transform``); no Python or Pandas UDFs.
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame, Window, functions as F

QUANT_SCALE = 1000

# Hyperplane sign patterns depend only on (plane, dim) — constants, not
# data. They are precomputed once on the driver (same md5-parity formula
# the DuckDB oracle evaluates in SQL) and inlined as literal arrays, so
# bucketing a vector is pure multiply-add with ZERO runtime hashing; the
# expression form (`hyperplane_sign`) remains for cross-checking.
_MAX_DIM = 512


def _plane_signs(plane: int, dim: int = _MAX_DIM) -> list[int]:
    """±1 per dimension for one hyperplane: parity of the first md5 nibble
    of ``"plane:dim"`` — bit-identical to :func:`hyperplane_sign` and to
    the oracle's ``md5(p || ':' || d)`` SQL."""
    return [
        1
        if int(hashlib.md5(f"{plane}:{d}".encode()).hexdigest()[0], 16) & 1
        else -1
        for d in range(dim)
    ]


def quantize(vec: Column) -> Column:
    """array<float> → array<bigint>: floor(double(x) * 1000), exact."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * QUANT_SCALE).cast("long")
    )


def dot_long(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two quantized vectors.

    Higher-order array functions evaluate interpreted (outside
    whole-stage codegen) — fine at the scored-candidate volumes the LSH /
    IVF pruning leaves, which is the design point here. If a workload
    ever needs exhaustive corpus × many-queries scoring, the right swap
    is an Arrow-batched ``mapInPandas`` with a numpy int64 matmul over
    the same quantized values (bit-identical results, SIMD throughput) —
    keep the quantization so the oracle contract survives the swap.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def norm_sq(a: Column) -> Column:
    return dot_long(a, a)


def cosine(dot: Column, nsq_a: Column, nsq_b: Column) -> Column:
    """Fixed-order IEEE expression: double(dot) / (sqrt(na) * sqrt(nb))."""
    return dot.cast("double") / (
        F.sqrt(nsq_a.cast("double")) * F.sqrt(nsq_b.cast("double"))
    )


def _corpus_quantized(
    df: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    q = quantize(F.col(vec_col))
    return df.select(
        F.col(id_col), q.alias("qv"), norm_sq(q).alias("nsq")
    )


def _neighbor_cosines(joined: DataFrame, id_col: str) -> DataFrame:
    """(query_id, neighbor_id, cosine) of rows that pair a query's
    ``q_qv``/``q_nsq`` with a corpus vector's ``qv``/``nsq``."""
    return joined.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine(
            dot_long(F.col("q_qv"), F.col("qv")), F.col("q_nsq"), F.col("nsq")
        ).alias("cosine"),
    )


def _top_k(scored: DataFrame, k: int, score: str) -> DataFrame:
    """(query_id, neighbor_id, rnk, score): each query's ``k`` best
    neighbors of ``scored``, ties broken on neighbor id so results are
    total-ordered."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk", score)
    )


def cosine_topk_bruteforce(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k of ``queries`` against ``df``.

    Output: (query_id, neighbor_id, rnk, cosine). ``queries`` must be small
    enough to broadcast (the usual ANN shape); the corpus side streams
    through one narrow map + one rank shuffle keyed by query_id. Ties break
    on neighbor id so results are total-ordered.
    """
    corpus = _corpus_quantized(df, vec_col, id_col)
    qs = _corpus_quantized(queries, vec_col, id_col).select(
        F.col(id_col).alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("nsq").alias("q_nsq"),
    )
    scored = _neighbor_cosines(
        corpus.join(F.broadcast(qs), F.col("query_id") != F.col(id_col)),
        id_col,
    )
    return _top_k(scored, k, "cosine")


def hyperplane_sign(plane: Column, dim: Column) -> Column:
    """Deterministic pseudo-random ±1 from md5 parity of 'plane:dim'."""
    parity = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(plane.cast("string"), F.lit(":"), dim.cast("string"))
                ),
                1,
                1,
            ),
            16,
            10,
        )
        .cast("long")
        .bitwiseAND(F.lit(1))
    )
    return F.when(parity == 1, F.lit(1)).otherwise(F.lit(-1))


def signlsh_bucket(vec_q: Column, num_planes: int) -> Column:
    """Bucket code: bit p = [sum_d sign(p,d) * v_d >= 0], packed to int.

    The ±1 sign vectors are driver-precomputed literals
    (:func:`_plane_signs`), so each plane's signed sum is one
    ``aggregate`` over ``zip_with(vec, signs)`` — exact int math,
    multiply-add only, no per-row hashing.
    """
    # Guard the literal-table size: zip_with NULL-pads past _MAX_DIM,
    # which would silently poison every signed sum to NULL and put all
    # vectors in bucket 0 (degenerating LSH to a quadratic self-join).
    vec_q = F.when(
        F.size(vec_q) > _MAX_DIM,
        F.raise_error(
            F.lit(
                f"signlsh_bucket supports dim <= {_MAX_DIM}; raise "
                "_MAX_DIM in operators/similarity.py for wider embeddings"
            )
        ),
    ).otherwise(vec_q)
    bits = []
    for p in range(num_planes):
        # One array Literal per plane (not 512 element literals): keeps
        # the expression tree ~num_planes nodes, so plan build/analysis
        # stays O(planes) instead of O(planes × _MAX_DIM).
        signs = F.slice(
            F.lit(_plane_signs(p)),
            1,
            F.size(vec_q),
        )
        signed = F.aggregate(
            F.zip_with(vec_q, signs, lambda v, s: v * s.cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bits.append(
            F.when(signed >= 0, F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def signlsh_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 3,
    num_planes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: rank only corpus vectors in the query's LSH bucket.

    Output: (query_id, neighbor_id, rnk, cosine). The bucket equi-join is
    the scale lever — with p planes the expected candidate set is corpus/2^p
    per query, and multiple hash tables (different plane seeds) raise recall
    at linear cost.
    """
    corpus = _corpus_quantized(df, vec_col, id_col).withColumn(
        "bucket", signlsh_bucket(F.col("qv"), num_planes)
    )
    qs = corpus.join(
        queries.select(F.col(id_col)), id_col, "left_semi"
    ).select(
        F.col(id_col).alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("nsq").alias("q_nsq"),
        F.col("bucket"),
    )
    scored = _neighbor_cosines(
        corpus.join(F.broadcast(qs), "bucket").filter(
            F.col("query_id") != F.col(id_col)
        ),
        id_col,
    )
    return _top_k(scored, k, "cosine")


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
) -> DataFrame:
    """Assign each corpus vector to its nearest centroid by cosine
    (IVF coarse quantization). Output: (id, cell, plus corpus payload).

    ``corpus``/``centroids`` are quantized frames from
    :func:`_corpus_quantized`. The assignment is corpus × |centroids| dot
    products via a broadcast join + windowed argmin — with k_coarse
    centroids this is the standard IVF build cost; at very large k_coarse
    batch it through ``mapInPandas``+numpy instead. Ties break on the
    lowest centroid id (total order — required for oracle hashing).
    """
    cents = centroids.select(
        F.col(id_col).alias("__cid"),
        F.col("qv").alias("__cqv"),
        F.col("nsq").alias("__cnsq"),
    )
    scored = corpus.crossJoin(F.broadcast(cents)).select(
        "*",
        cosine(
            dot_long(F.col("qv"), F.col("__cqv")),
            F.col("nsq"),
            F.col("__cnsq"),
        ).alias("__ccos"),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("__ccos").desc(), F.col("__cid")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(id_col), F.col("qv"), F.col("nsq"),
            F.col("__cid").alias("cell"),
        )
    )


def ivf_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 3,
    n_centroids: int = 8,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-k: score only vectors in the query's ``nprobe``
    nearest inverted-file cells.

    Output: (query_id, neighbor_id, rnk, cosine). ``centroids`` (a frame
    with the same ``id_col``/``vec_col`` schema as the corpus — e.g. MLlib
    KMeans cluster centers with row-number ids) defines the inverted-file
    cells; when omitted, the first ``n_centroids`` corpus vectors stand in
    as a deterministic untrained quantizer (same plan shape, lower recall —
    recall vs brute force is pinned in ``tests/test_similarity.py``). The
    inverted file is the ``cell`` equi-join: per query, candidates shrink
    to the probed cells' posting lists — recall is tuned by ``nprobe`` at
    linear cost, exactly DiskANN/FAISS-IVF economics on a cluster.
    """
    corpus = _corpus_quantized(df, vec_col, id_col)
    if centroids is not None:
        cents = _corpus_quantized(centroids, vec_col, id_col)
    else:
        cents = corpus.filter(F.col(id_col) < n_centroids)
    assigned = ivf_assign(corpus, cents, id_col)

    # nprobe nearest cells per query (same scoring, rank ≤ nprobe)
    q = corpus.join(queries.select(F.col(id_col)), id_col, "left_semi")
    c2 = cents.select(
        F.col(id_col).alias("__cid"),
        F.col("qv").alias("__cqv"),
        F.col("nsq").alias("__cnsq"),
    )
    qscored = q.crossJoin(F.broadcast(c2)).select(
        F.col(id_col).alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("nsq").alias("q_nsq"),
        F.col("__cid").alias("cell"),
        cosine(
            dot_long(F.col("qv"), F.col("__cqv")),
            F.col("nsq"),
            F.col("__cnsq"),
        ).alias("__ccos"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("__ccos").desc(), F.col("cell")
    )
    probes = (
        qscored.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "q_qv", "q_nsq", "cell")
    )

    scored = _neighbor_cosines(
        assigned.join(F.broadcast(probes), "cell").filter(
            F.col("query_id") != F.col(id_col)
        ),
        id_col,
    )
    return _top_k(scored, k, "cosine")


def _subspace_explode(
    frame: DataFrame, m: int, sub_dim: int, id_col: str
) -> DataFrame:
    """(id, qv) → one row per subspace: (id, s, sub, sub_nsq).

    ``posexplode`` over an array of slices — a narrow map, no shuffle.
    """
    subs = F.array(
        *[F.slice(F.col("qv"), s * sub_dim + 1, sub_dim) for s in range(m)]
    )
    return frame.select(
        F.col(id_col), F.posexplode(subs).alias("s", "sub")
    ).withColumn("sub_nsq", norm_sq(F.col("sub")))


def _pq_codewords(
    df: DataFrame,
    corpus: DataFrame,
    m: int,
    n_codewords: int,
    vec_col: str,
    id_col: str,
    codebook: DataFrame | None,
) -> tuple[int, DataFrame]:
    """(sub_dim, codewords): the PQ codebook as (cid, s, cw, cw_nsq) rows,
    one per codeword per subspace. ``codebook`` (same schema as ``df``)
    supplies the codewords; when omitted the first ``n_codewords`` rows of
    the quantized ``corpus`` stand in."""
    # Slices past the end would silently shorten subvectors, so the
    # dimension must divide evenly into m subspaces.
    first_dim = df.select(F.size(F.col(vec_col)).alias("d")).limit(1)
    dim = first_dim.collect()[0]["d"]  # 1-row scalar fetch, driver-safe
    if dim % m:
        raise ValueError(f"embedding dim {dim} not divisible by m={m}")
    sub_dim = dim // m
    cb_src = (
        _corpus_quantized(codebook, vec_col, id_col)
        if codebook is not None
        else corpus.filter(F.col(id_col) < n_codewords)
    )
    codewords = _subspace_explode(cb_src, m, sub_dim, id_col).select(
        F.col(id_col).alias("cid"),
        "s",
        F.col("sub").alias("cw"),
        F.col("sub_nsq").alias("cw_nsq"),
    )
    return sub_dim, codewords


def pq_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = 4,
    n_codewords: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization approximate top-k (FAISS-PQ ADC economics as
    a Spark plan).

    The vector space splits into ``m`` subspaces; each corpus subvector is
    coarse-coded to its nearest of ``n_codewords`` codewords (exact-int L2
    argmin, ties to the lowest codeword id), so a corpus vector compresses
    to ``m`` small codes. A query is scored against a vector WITHOUT
    touching the original floats — asymmetric distance computation: the
    query's partial dot with every codeword of every subspace is a tiny
    ``m × n_codewords`` table, and the approximate dot is the sum of ``m``
    lookups; cosine then normalizes by the RECONSTRUCTED corpus norm.

    ``codebook`` (same schema as the corpus, e.g. per-subspace k-means
    centers with row-number ids) defines the codewords; when omitted the
    first ``n_codewords`` corpus vectors stand in as a deterministic
    untrained codebook (same plan shape, lower recall — pinned vs brute
    force in ``tests/test_similarity.py``).

    Output: (query_id, neighbor_id, rnk, cosine_pq).

    Scale shape: the codebook and the query partial-dot table broadcast
    (``m·n_codewords`` rows each); encoding is a narrow subspace explode +
    broadcast join + map-side-combinable min(struct) agg — shuffle volume
    is ``|corpus|·m`` structs, once, reusable across query batches; ADC
    scoring shuffles ``|corpus|·|queries|`` partial aggregates. No
    corpus × corpus join ever forms, and the per-vector storage the plan
    carries forward is the ``m`` codes — the PQ compression that makes
    billion-vector search fit a cluster's memory.
    """
    corpus = _corpus_quantized(df, vec_col, id_col)
    sub_dim, codewords = _pq_codewords(
        df, corpus, m, n_codewords, vec_col, id_col, codebook
    )

    # Encode: nearest codeword per (vector, subspace) by exact-int L2 —
    # dist = |x|² + |c|² − 2⟨x,c⟩; min(struct) is lexicographic, cid is
    # unique per subspace, so the argmin is total-ordered.
    corpus_subs = _subspace_explode(corpus, m, sub_dim, id_col)
    dists = corpus_subs.join(F.broadcast(codewords), "s").select(
        F.col(id_col),
        "s",
        F.struct(
            (
                F.col("sub_nsq")
                + F.col("cw_nsq")
                - 2 * dot_long(F.col("sub"), F.col("cw"))
            ).alias("dist"),
            F.col("cid").alias("cid"),
            F.col("cw_nsq").alias("cw_nsq"),
        ).alias("cand"),
    )
    codes = (
        dists.groupBy(id_col, "s")
        .agg(F.min("cand").alias("best"))
        .select(
            F.col(id_col),
            "s",
            F.col("best.cid").alias("code"),
            F.col("best.cw_nsq").alias("code_nsq"),
        )
    )

    # Query-side ADC table: partial dot of each query subvector with each
    # codeword — m·n_codewords rows per query, broadcastable.
    qs = corpus.join(queries.select(F.col(id_col)), id_col, "left_semi")
    q_subs = _subspace_explode(qs, m, sub_dim, id_col).select(
        F.col(id_col).alias("query_id"), "s", "sub"
    )
    q_norms = qs.select(
        F.col(id_col).alias("query_id"), F.col("nsq").alias("q_nsq")
    )
    adc = q_subs.join(F.broadcast(codewords), "s").select(
        "query_id",
        "s",
        F.col("cid").alias("code"),
        dot_long(F.col("sub"), F.col("cw")).alias("pdot"),
    )

    scored = (
        codes.join(F.broadcast(adc), ["s", "code"])
        .groupBy("query_id", id_col)
        .agg(
            F.sum("pdot").alias("adot"),
            F.sum("code_nsq").alias("recon_nsq"),
        )
        .filter(F.col("query_id") != F.col(id_col))
        .join(F.broadcast(q_norms), "query_id")
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            cosine(
                F.col("adot"), F.col("q_nsq"), F.col("recon_nsq")
            ).alias("cosine_pq"),
        )
    )
    return _top_k(scored, k, "cosine_pq")


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    reuse_corpus: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH bucket self-join.

    Output: (id_a < id_b, cosine ≥ threshold). Only bucket-mates are
    compared — the all-pairs O(n²) never materializes; at scale, overfull
    buckets get salted/split exactly like the MinHash banding join.
    """
    corpus = _corpus_quantized(df, vec_col, id_col).withColumn(
        "bucket", signlsh_bucket(F.col("qv"), num_planes)
    )
    if reuse_corpus:
        # Quantization + bucket hashing feed the bucket aggregation and
        # both id-keyed attach sides; a lazy local checkpoint
        # materializes the quantized corpus once instead of re-deriving
        # it per consumer (see ngram_jaccard_pairs' reuse_shingles for
        # the scale rationale).
        corpus = corpus.localCheckpoint(eager=False)
    # Round-11: bucket-mate pairs come from the same skew-proof blocked
    # expansion as MinHash buckets (operators/dedup) instead of a raw
    # bucket self-join. With 2^num_planes buckets, a self-join lands a
    # hot bucket's ENTIRE quadratic fan-out (pairs × the 64-element dot
    # product) on the one task that owns its join key — measured as a
    # serial ~0.9 s stage in every embedding-dedup query at sf0.1; AQE
    # cannot split a single key. The expansion spreads block-pairs
    # round-robin, and the quantized vectors re-attach by id (a small,
    # broadcast-able side at any bucket skew). Pair set and cosine are
    # unchanged: one bucket per vector, sorted-array expansion emits
    # exactly the id_a < id_b bucket-mates.
    from extract_transform_load_template_multidb_spark.operators.dedup import (
        expand_sorted_array_pairs,
    )

    buckets = (
        corpus.groupBy("bucket")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    # Spread the pair stream before the verify: the per-pair int64 dot
    # product is an interpreted higher-order expression (dot_long
    # docstring), and AQE coalesces the tiny bucket aggregation (2^p
    # rows) to one partition — measured 2.9 s of SERIAL scoring for 129k
    # pairs at sf0.1. The spread shuffles ids only (16 B/pair — noise
    # next to the scoring at any scale) and is pinned by number so AQE
    # cannot re-coalesce it.
    pairs = expand_sorted_array_pairs(buckets.select("__ids")).repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    a = corpus.select(
        F.col(id_col).alias("id_a"),
        F.col("qv").alias("qv_a"),
        F.col("nsq").alias("nsq_a"),
    )
    b = corpus.select(
        F.col(id_col).alias("id_b"),
        F.col("qv").alias("qv_b"),
        F.col("nsq").alias("nsq_b"),
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            cosine(
                dot_long(F.col("qv_a"), F.col("qv_b")),
                F.col("nsq_a"),
                F.col("nsq_b"),
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def cosine_topk_matmul(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k via Arrow-batched numpy int64 matmul — the SIMD
    swap-in for :func:`cosine_topk_bruteforce` promised in
    :func:`dot_long`'s docstring, bit-identical results.

    The (small) query matrix is quantized on the driver and shipped in
    the UDF closure; each corpus Arrow batch becomes one int64
    ``B @ Q.T`` (exact — |v|·dim ≪ 2^63), and only the batch-local top-k
    per query under the total order (cosine desc, neighbor_id asc)
    leaves Python: the union of per-batch top-k sets provably contains
    the global top-k, so the final rank window sees O(batches·q·k) rows,
    not the full n·q score matrix. Cosine uses the same fixed-order IEEE
    expression as :func:`cosine` (double(dot) / (sqrt·sqrt)), so the
    DuckDB oracle hash-matches the JVM path and this path alike.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    q_rows = (
        queries.select(id_col, vec_col).toPandas().sort_values(id_col)
    )
    q_ids = q_rows[id_col].to_numpy()
    Q = np.floor(
        np.stack(q_rows[vec_col].to_numpy()).astype("float64")
        * QUANT_SCALE
    ).astype("int64")
    q_nsq = (Q * Q).sum(axis=1)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            B = np.floor(
                np.stack(pdf[vec_col].to_numpy()).astype("float64")
                * QUANT_SCALE
            ).astype("int64")
            dots = B @ Q.T  # (n, q) exact int64
            nsq_b = (B * B).sum(axis=1)
            cos = dots.astype("float64") / (
                np.sqrt(q_nsq.astype("float64"))[None, :]
                * np.sqrt(nsq_b.astype("float64"))[:, None]
            )
            out = []
            for j, qid in enumerate(q_ids):
                mask = ids != qid
                cand_ids = ids[mask]
                cand_cos = cos[mask, j]
                # batch-local top-k under (cosine desc, neighbor asc)
                order = np.lexsort((cand_ids, -cand_cos))[:k]
                out.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": cand_ids[order],
                            "cosine": cand_cos[order],
                        }
                    )
                )
            yield pd.concat(out, ignore_index=True)

    scored = df.select(id_col, vec_col).mapInPandas(
        fn, "query_id long, neighbor_id long, cosine double"
    )
    return _top_k(scored, k, "cosine")


def pq_reconstruction_errors(
    df: DataFrame,
    m: int = 4,
    n_codewords: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Per-subspace PQ quantization-error audit for :func:`pq_topk`.

    For every corpus vector's subvector, the exact-int squared L2 to its
    assigned codeword (the same argmin encode as ``pq_topk``), rolled up
    per subspace: (s, n_vectors, total_sq_err, mean_sq_err). A subspace
    whose mean error dwarfs the others is where the codebook needs more
    codewords (or the dimensions need a rotation) — THE metric that
    decides when a PQ index must be retrained as the corpus drifts.

    Scale shape: identical to the encode half of ``pq_topk`` — narrow
    subspace explode, broadcast codebook join, map-side-combinable
    min(struct) argmin, then an m-row rollup. All error terms are exact
    int64; the single division per subspace is correctly-rounded IEEE.
    """
    corpus = _corpus_quantized(df, vec_col, id_col)
    sub_dim, codewords = _pq_codewords(
        df, corpus, m, n_codewords, vec_col, id_col, codebook
    )
    corpus_subs = _subspace_explode(corpus, m, sub_dim, id_col)
    dists = corpus_subs.join(F.broadcast(codewords), "s").select(
        F.col(id_col),
        "s",
        F.struct(
            (
                F.col("sub_nsq")
                + F.col("cw_nsq")
                - 2 * dot_long(F.col("sub"), F.col("cw"))
            ).alias("dist"),
            F.col("cid").alias("cid"),
        ).alias("cand"),
    )
    best = (
        dists.groupBy(id_col, "s")
        .agg(F.min("cand").alias("best"))
        .select("s", F.col("best.dist").alias("sq_err"))
    )
    return best.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum("sq_err").cast("long").alias("total_sq_err"),
        (
            F.sum("sq_err").cast("double") / F.count(F.lit(1))
        ).alias("mean_sq_err"),
    )


def cosine_range_search(
    df: DataFrame,
    queries: DataFrame,
    threshold: float,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """All corpus neighbors with cosine ≥ ``threshold`` per query — the
    RANGE-query companion to :func:`cosine_topk_bruteforce` (retrieval
    wants top-k; dedup/recall audits want *everything above a bar*).

    Output: (query_id, neighbor_id, cosine). Broadcast queries, ONE
    narrow corpus pass, and — unlike top-k — no rank shuffle at all:
    the threshold filter is row-local, so the whole operator is
    exchange-free after the broadcast. At 100 TB this is the cheapest
    shape similarity search can take; swap in the LSH-bucketed
    candidate generator when the query set itself is large.
    """
    corpus = _corpus_quantized(df, vec_col, id_col)
    qs = _corpus_quantized(queries, vec_col, id_col).select(
        F.col(id_col).alias("query_id"),
        F.col("qv").alias("q_qv"),
        F.col("nsq").alias("q_nsq"),
    )
    return _neighbor_cosines(
        corpus.join(F.broadcast(qs), F.col("query_id") != F.col(id_col)),
        id_col,
    ).filter(F.col("cosine") >= threshold)


def mmr_diversified_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 3,
    pool: int = 10,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: greedy λ·rel − (1−λ)·max
    sim-to-selected over a brute-force candidate pool.

    The retrieval-diversity operator (a top-k of near-duplicates is
    useless context): candidates come from :func:`cosine_topk_bruteforce`
    (broadcast queries, one corpus pass — the ONLY stage that scales
    with data volume), after which EVERYTHING lives on the bounded
    queries×pool frame. That frame plus its ≤ queries·pool candidate
    vectors is collected and the greedy walk runs as a DRIVER FOLD —
    the engine's bounded-driver-loop pattern (BPE merge table, Markov
    absorption walk): the previous unrolled per-step
    join+window+anti-join plan spent ~3 s of stage-scheduling floor on
    ≤200-row frames at sf0.1. Every similarity is the identical fixed
    IEEE dag over exact integer dot products of the quantized vectors
    (float(int) and long→double both round correctly; sqrt/mul/div are
    correctly-rounded IEEE in both runtimes), so the trajectory is
    engine-deterministic with ties broken on neighbor id — pinned
    against a numpy reference by hypothesis in
    ``tests/test_properties.py::test_mmr_greedy_matches_numpy_reference``.

    Output: (query_id, mmr_rank, vec_id, relevance, mmr_score);
    ids must be integral (the driver re-frame types them bigint).
    """
    spark = df.sparkSession
    # Pool generation via the Arrow/numpy matmul path (bit-identical to
    # cosine_topk_bruteforce, ~SIMD-fast on the exhaustive corpus ×
    # queries scoring this operator needs).
    cands = cosine_topk_matmul(
        df, queries, k=pool, vec_col=vec_col, id_col=id_col
    ).select("query_id", "neighbor_id", F.col("cosine").alias("rel"))
    cand_rows = cands.collect()  # bounded: |queries| × pool
    ids = sorted({r["neighbor_id"] for r in cand_rows})
    cvec = _corpus_quantized(
        df.where(F.col(id_col).isin(ids)), vec_col, id_col
    )
    vec_rows = {
        r[id_col]: (list(r["qv"]), r["nsq"]) for r in cvec.collect()
    }

    def sim_xy(x: int, y: int) -> float:
        qx, nx = vec_rows[x]
        qy, ny = vec_rows[y]
        d = sum(a * b for a, b in zip(qx, qy))  # exact int64 grid
        return float(d) / (math.sqrt(float(nx)) * math.sqrt(float(ny)))

    by_q: dict = {}
    for r in cand_rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["rel"])
        )
    out_rows = []
    for qid in sorted(by_q):
        pool_q = by_q[qid]
        rel = dict(pool_q)
        first = max(pool_q, key=lambda t: (t[1], -t[0]))
        selected = [first[0]]
        out_rows.append((qid, 1, first[0], first[1], first[1]))
        for step in range(2, k + 1):
            best = None
            for j, r in pool_q:
                if j in selected:
                    continue
                score = lam * r - (1.0 - lam) * max(
                    sim_xy(j, s) for s in selected
                )
                key = (score, -j)
                if best is None or key > best[0]:
                    best = (key, j, r, score)
            if best is None:
                break  # pool exhausted before rank k
            selected.append(best[1])
            out_rows.append((qid, step, best[1], best[2], best[3]))
    res = spark.createDataFrame(
        out_rows,
        "query_id bigint, mmr_rank int, neighbor_id bigint, "
        "rel double, mmr_score double",
    )
    return res.select(
        "query_id",
        "mmr_rank",
        F.col("neighbor_id").alias("vec_id"),
        F.round("rel", 6).alias("relevance"),
        F.round("mmr_score", 6).alias("mmr_score"),
    )

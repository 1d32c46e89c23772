"""Corpus-curation operators for training-data pipelines.

Beyond-reference extensions (SURVEY.md §7 phase 4, batch 2): the standard
curation steps between raw scrape and tokenizer — PII scrubbing,
deterministic sampling (uniform / stratified / group-aware split),
fixed-window document chunking, repetition-based quality, and sequence
packing. Everything is a pure DataFrame expression (JVM,
whole-stage-codegen) with exact md5-derived integer math, so the DuckDB
oracle reproduces results bit-for-bit.

Scale notes: sampling/split/scrub/repetition are narrow maps — zero
shuffle at any corpus size. Chunking is a map + explode (output ∝ corpus
tokens — irreducible). Packing windows over an explicit shard column so
the prefix sums parallelize; a global (unsharded) pack would serialize
into one task and is deliberately not offered.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from extract_transform_load_template_multidb_spark.operators.dedup import (
    tokenize,
    word_shingles_from_tokens,
)

# Conservative, engine-portable patterns (same regex text runs in Java's
# engine and DuckDB's RE2): local@domain.tld emails, 8+-digit phone-ish
# number runs, dotted-quad IPs.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d[\d ()-]{6,}\d"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def scrub_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Redact emails/phones/IPs with typed placeholder tokens.

    Output: (id, clean_text, n_emails, n_phones, n_ips). Emails are
    replaced first (their local parts would otherwise partly match the
    phone run pattern), then IPs, then phones — a fixed order both engines
    apply identically. Counts come from the pre-redaction text.
    """
    text = F.col(text_col)
    clean = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(clean, IPV4_RE, "<IP>")
    clean = F.regexp_replace(clean, PHONE_RE, "<PHONE>")
    return df.select(
        F.col(id_col),
        clean.alias("clean_text"),
        F.regexp_count(text, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(text, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(text, F.lit(IPV4_RE)).cast("long").alias("n_ips"),
    )


def hash_bucket(key: Column, buckets: int = 100) -> Column:
    """Deterministic engine-portable bucket in [0, buckets): first 8 md5
    nibbles of the stringified key, mod ``buckets``. The basis for every
    sampling/split operator here — reproducible across engines, runs, and
    cluster layouts (unlike ``rand()``/``TABLESAMPLE``)."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    return F.pmod(h, F.lit(buckets))


def _check_pct(name: str, pct: float) -> None:
    if not 0 <= pct <= 100:
        raise ValueError(f"{name}={pct} must be in [0, 100]")


def hash_sample(
    df: DataFrame, pct: int, key_col: str = "doc_id"
) -> DataFrame:
    """Keep a deterministic ~pct% sample: bucket(key) < pct.

    A narrow filter — the predicate reaches the scan, no shuffle, and the
    same rows are selected on every engine and every rerun.
    """
    _check_pct("pct", pct)
    return df.filter(hash_bucket(F.col(key_col)) < pct)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, int],
    key_col: str = "doc_id",
    default_pct: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling: stratum → percentage (0-100).

    The per-row decision still keys on ``key_col`` (salted with the
    stratum so strata sample independently); strata missing from
    ``fractions`` fall back to ``default_pct``. Exact analogue of
    ``DataFrame.sampleBy`` but reproducible cross-engine.
    """
    pct = F.lit(default_pct)
    for stratum, p in sorted(fractions.items()):
        _check_pct(f"fractions[{stratum!r}]", p)
        pct = F.when(F.col(strata_col) == stratum, F.lit(p)).otherwise(pct)
    salted = F.concat(
        F.col(strata_col).cast("string"),
        F.lit(":"),
        F.col(key_col).cast("string"),
    )
    return df.filter(hash_bucket(salted) < pct)


def group_split(
    df: DataFrame,
    group_col: str,
    test_pct: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """Train/test assignment that keeps whole groups on one side.

    Output: input rows + ``split`` ('train'|'test'). Splitting by the
    GROUP hash (not the row hash) is what prevents leakage when the group
    marks near-duplicate clusters or a shared source/site — every member
    lands on the same side. Narrow map, no shuffle.
    """
    _check_pct("test_pct", test_pct)
    return df.withColumn(
        "split",
        F.when(
            hash_bucket(F.col(group_col)) < test_pct, F.lit("test")
        ).otherwise(F.lit("train")),
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into overlapping fixed-token windows (the
    context-window preprocessing step before tokenizer + packing).

    Output: (id, chunk_idx, n_chunk_tokens, chunk_text). Windows start at
    0, stride, 2·stride, … (stride = chunk_tokens − overlap) while the
    start is inside the document; the final window may be short. One map +
    one explode; output volume ∝ corpus tokens — there is no cheaper
    shape.
    """
    stride = chunk_tokens - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than chunk_tokens")
    toks = tokenize(F.col(text_col))
    starts = F.when(
        F.size(toks) > 0,
        F.sequence(F.lit(0), F.size(toks) - 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda s: F.slice(toks, (s + 1).cast("int"), chunk_tokens),
    )
    return (
        df.select(F.col(id_col), chunks.alias("__chunks"))
        .select(
            F.col(id_col),
            F.posexplode("__chunks").alias("chunk_idx", "__c"),
        )
        .select(
            F.col(id_col),
            F.col("chunk_idx").cast("long"),
            F.size("__c").cast("long").alias("n_chunk_tokens"),
            F.array_join("__c", " ").alias("chunk_text"),
        )
    )


def repetition_ratio(
    df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplicate n-gram fraction per document — the standard boilerplate /
    spam-repetition quality signal (share of n-gram occurrences that are
    repeats of an earlier one). 0.0 for docs shorter than n tokens.

    Pure array expression: no explode, no shuffle.
    """
    toks = tokenize(F.col(text_col))
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)],
        ),
    )
    total = F.greatest(F.lit(0), F.size(toks) - (n - 1))
    distinct = F.size(F.array_distinct(grams))
    ratio = F.when(
        total > 0, F.lit(1.0) - distinct.cast("double") / total.cast("double")
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        total.cast("long").alias("n_ngrams"),
        ratio.alias("repetition_ratio"),
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark-contamination detection: corpus docs sharing ≥
    ``min_shared`` distinct n-gram word shingles with the eval/benchmark
    set (union of all eval items' shingles).

    Output: (id, n_shared) for contaminated docs — the removal list a
    training pipeline anti-joins against before tokenization.

    Scale shape: the eval set is the small side (benchmarks are KB-GB,
    the corpus is TB), so its distinct shingle set is BROADCAST; the
    corpus explodes its shingles (a narrow map — no exchange), hits are
    found by a map-side broadcast hash join, and the only shuffle is the
    per-doc count keyed by ``id_col``, carrying matched rows only. The
    corpus is never shuffled by shingle — the shape that matters at
    100 TB, where a shingle-keyed exchange of the corpus would dwarf the
    query. Shingle sets are distinct per side, so the join emits each
    (doc, shingle) hit exactly once and the count is exactly
    |doc_shingles ∩ eval_shingles|.
    """
    # Materialize token arrays before shingling: word_shingles references
    # its token input 2+3n times and Spark does not CSE across lambda
    # bodies — inlining tokenize() would re-run the regex split ~11×/row.
    ev = (
        eval_df.select(tokenize(F.col(text_col)).alias("__t"))
        .select(
            F.explode(word_shingles_from_tokens(F.col("__t"), n)).alias(
                "shingle"
            )
        )
        .distinct()
    )
    return (
        corpus.select(F.col(id_col), tokenize(F.col(text_col)).alias("__t"))
        .select(
            F.col(id_col),
            F.explode(word_shingles_from_tokens(F.col("__t"), n)).alias(
                "shingle"
            ),
        )
        .join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def split_paragraphs(
    df: DataFrame,
    max_tokens: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into paragraph units: blank-line-separated
    blocks, each further windowed into ≤ ``max_tokens``-token pieces when
    a bound is given (the normalization step before paragraph-level
    near-dedup — unbounded "paragraphs" defeat MinHash banding).

    Output: (id, para_idx, para_text) with ``para_idx`` densely numbered
    in document order (paragraph order, then window order within a
    paragraph). Pure array expressions + one posexplode — no shuffle at
    any corpus size. Paragraphs with zero tokens (e.g. punctuation-only
    blocks) are dropped.
    """
    paras = F.split(F.col(text_col), r"\n[ \t]*\n+")
    if max_tokens is None:
        wins = F.transform(paras, lambda p: F.array_join(tokenize(p), " "))
    else:
        # Two-level transform: tokenize each paragraph ONCE into a bound
        # lambda variable, then window it — inlining tokenize(p) at its 3
        # references would re-run the regex split per window (no CSE
        # across lambda bodies).
        tok_arrays = F.transform(paras, lambda p: tokenize(p))
        wins = F.flatten(
            F.transform(
                tok_arrays,
                lambda tp: F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(F.size(tp) - 1, F.lit(0)),
                        F.lit(max_tokens),
                    ),
                    lambda s: F.array_join(
                        F.slice(tp, (s + 1).cast("int"), max_tokens), " "
                    ),
                ),
            )
        )
    wins = F.filter(wins, lambda w: w != "")
    return df.select(F.col(id_col), wins.alias("__w")).select(
        F.col(id_col),
        F.posexplode("__w").alias("para_idx", "para_text"),
    ).withColumn("para_idx", F.col("para_idx").cast("long"))


def pack_sequences(
    df: DataFrame,
    target_tokens: int,
    shard_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign documents to fixed-token-budget training sequences
    ("packing"): within each shard, docs are taken in id order and the
    bin index is floor(exclusive-prefix-token-count / target) — a doc that
    straddles a boundary belongs to the bin it started in.

    Output: (id, shard, n_tokens, bin). The window partitions by
    ``shard_col`` — REQUIRED, because packing is a prefix sum and an
    unsharded prefix sum is a single-task global sort at 100 TB. Shards
    pack independently and in parallel (exactly how distributed training
    data is sharded anyway).
    """
    n_tokens = F.size(tokenize(F.col(text_col))).cast("long")
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prefix = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        df.select(
            F.col(id_col),
            F.col(shard_col).alias("shard"),
            n_tokens.alias("n_tokens"),
        )
        .withColumn(
            "bin", F.floor(prefix / F.lit(target_tokens)).cast("long")
        )
    )


def dedup_paragraphs_rebuild(
    df: DataFrame,
    max_tokens: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """C4-style paragraph-level exact dedup with document rebuild: every
    paragraph unit that repeats anywhere in the corpus keeps only its
    FIRST occurrence (min doc id, then min paragraph position); each
    document is then re-assembled from its surviving paragraphs.

    Output: (id, clean_text, n_kept, n_dropped) for every input doc —
    docs whose every paragraph was seen earlier come back with an empty
    ``clean_text`` (the caller's filter decides their fate).

    Scale shape: one shuffle keyed by paragraph content hash (the
    global first-occurrence window — paragraph-hash cardinality, heavy
    but irreducible for a global rule), one shuffle keyed by doc id for
    the rebuild. Both aggregate partial map-side. The first-occurrence
    rule is totally ordered (doc id, paragraph position), so the result
    is deterministic under any partitioning.
    """
    paras = split_paragraphs(df, max_tokens, text_col, id_col)
    w = Window.partitionBy(F.md5("para_text")).orderBy(id_col, "para_idx")
    kept = paras.withColumn("__rn", F.row_number().over(w))
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__rn") == 1,
                                F.struct("para_idx", "para_text"),
                            )
                        )
                    ),
                    lambda s: s["para_text"],
                ),
                " ",
            ).alias("clean_text"),
            F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.sum(F.when(F.col("__rn") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dropped"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
        )
    )


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    strata_col: str = "source",
    id_col: str = "doc_id",
    default_weight: float = 1.0,
) -> DataFrame:
    """Epoch-weighted dataset mixture: emit each document ``w`` times
    where ``w`` is its source's mixing weight — the "2.5 epochs of
    source A, 0.5 of B" recipe every LM training mix is specified in.

    Integer part = whole copies; fractional part = one more copy for a
    deterministic md5-bucketed subset (same machinery as
    :func:`hash_sample`, salted per stratum, so reruns and engines
    agree). Output: input columns + ``epoch`` (1-based copy index).

    A narrow map + explode — no shuffle at any corpus size; output
    volume = Σ w_s·|stratum s|, which is the irreducible cost of
    materialized oversampling (weight-aware loaders sample lazily
    instead; this operator is for pipelines that want the mix burned
    into the dataset).
    """
    whole = F.lit(int(default_weight))
    frac_pct = F.lit(int(round((default_weight % 1) * 100)))
    for stratum, w in sorted(weights.items()):
        if w < 0:
            raise ValueError(f"weights[{stratum!r}]={w} must be >= 0")
        whole = F.when(
            F.col(strata_col) == stratum, F.lit(int(w))
        ).otherwise(whole)
        frac_pct = F.when(
            F.col(strata_col) == stratum, F.lit(int(round((w % 1) * 100)))
        ).otherwise(frac_pct)
    salted = F.concat(
        F.col(strata_col).cast("string"),
        F.lit(":"),
        F.col(id_col).cast("string"),
        F.lit(":mix"),
    )
    n = whole + F.when(hash_bucket(salted) < frac_pct, 1).otherwise(0)
    copies = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return df.withColumn("epoch", F.explode(copies)).withColumn(
        "epoch", F.col("epoch").cast("long")
    )

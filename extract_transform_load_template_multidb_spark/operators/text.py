"""Text-analysis operators for training-data pipelines.

Beyond-reference extensions (SURVEY.md §7 phase 4): the reference's only
string-level rule is the NVARCHAR promotion regex (notebook ipynb:154); a
100 TB corpus pipeline additionally needs language ID, quality scoring,
token counting and content fingerprinting. All four are pure DataFrame
expressions — JVM-side, whole-stage-codegen-able, no Python UDFs — and all
use exact integer/regex math so a SQL oracle reproduces them bit-for-bit.

Scale notes: every operator here is a narrow map over ``documents`` except
the lexicon join in :func:`lang_id_scores` (broadcast — the lexicon is a few
dozen rows) and the per-doc groupBys (keyed by doc id, no skew: one group
per document). Nothing shuffles the corpus by content.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from extract_transform_load_template_multidb_spark.operators.dedup import tokenize

# Tiny per-language stopword lexicons for the n-gram/stopword language-ID
# heuristic. Deliberately ASCII-only and overlap-free enough for argmax.
LANG_LEXICON: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "it", "you", "that", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "ich", "zu"),
    "fr": ("le", "les", "et", "est", "une", "je", "pas", "pour", "vous", "dans"),
    "es": ("el", "los", "es", "un", "una", "que", "no", "por", "con", "para"),
}

# Deterministic tiebreak order for argmax (alphabetical).
_LANGS = tuple(sorted(LANG_LEXICON))

# "BPE-ish" pre-tokenization: runs of alphanumerics OR single punctuation
# marks — the shape a byte-pair encoder sees before merges.
BPE_TOKEN_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"


def token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token counts: whitespace words and BPE-ish pieces.

    Narrow projection — no shuffle, no UDF; ``regexp_count`` runs inside
    whole-stage codegen.
    """
    text = F.col(text_col)
    ws_tokens = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    return df.select(
        F.col(id_col),
        F.size(ws_tokens).alias("n_ws_tokens"),
        F.regexp_count(text, F.lit(BPE_TOKEN_PATTERN)).alias("n_bpe_tokens"),
        F.length(text).alias("n_chars"),
    )


def quality_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Quality-scoring features + composite score per document.

    Features follow the standard corpus-filtering recipe (length,
    punctuation density, stopword ratio): all ratios are int/int IEEE
    divisions and the score a fixed-order affine combination, so any engine
    computes identical doubles.
    """
    text = F.col(text_col)
    toks = tokenize(text)
    n_tokens = F.size(toks)
    n_chars = F.length(text)
    # characters that survive an a-z-only filter of the lowercased text
    n_alpha = F.length(F.regexp_replace(F.lower(text), r"[^a-z]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?'\"()]", ""))
    stop_hits = F.size(
        F.filter(toks, lambda w: w.isin(*LANG_LEXICON["en"]))
    )
    alpha_ratio = n_alpha / n_chars
    punct_ratio = n_punct / n_chars
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    len_score = F.least(F.lit(1.0), n_tokens / F.lit(100.0))
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        alpha_ratio.alias("alpha_ratio"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        (
            F.lit(0.4) * stop_ratio + F.lit(0.3) * len_score + F.lit(0.3) * alpha_ratio
        ).alias("quality_score"),
    )


def _collapse_by_text(df: DataFrame, text_col: str, id_col: str):
    """(groups, reps): exact-duplicate collapse for per-doc operators that
    are pure functions of the text — run the expensive stage on one rep
    per distinct text, then explode the group's id list over the result.
    Same proven pattern as the dedup operators (operators/dedup.py)."""
    groups = df.groupBy(F.md5(F.col(text_col)).alias("__th")).agg(
        F.min(id_col).alias("__rep"),
        F.collect_set(F.col(id_col)).alias("__ids"),
    )
    reps = df.join(
        groups.select(F.col("__rep").alias(id_col)), id_col, "left_semi"
    )
    return groups, reps


def _expand_to_docs(
    rep_result: DataFrame, groups: DataFrame, id_col: str
) -> DataFrame:
    """Rep-keyed result → per-doc rows (every clique member gets the rep's
    values; result columns other than the id pass through)."""
    payload = [c for c in rep_result.columns if c != id_col]
    return (
        rep_result.join(
            groups.select(F.col("__rep").alias(id_col), "__ids"), id_col
        )
        .select(F.explode("__ids").alias(id_col), *payload)
    )


def lang_id_scores(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stopword-hit language ID: per-doc hit count per language + argmax.

    Fully narrow: per language, the hit count (with multiplicity) is
    ``size(filter(tokens, w -> w IN lexicon))`` — a JVM array expression
    over each row's token array. No explode, no join, no groupBy, no
    duplicate-collapse round-trip: ZERO exchanges, so at 100 TB this is a
    pure map over the corpus scan (the earlier explode→broadcast-join→
    pivot form paid a corpus-scale shuffle on doc_id for the same
    numbers; the lexicon is ~10 words/language, far below the threshold
    where a broadcast-join lookup would win). Argmax breaks ties
    alphabetically; zero hits in every language → ``und``.
    """
    toks = tokenize(F.col(text_col))

    def _hits(words: tuple[str, ...]) -> Column:
        # A one-arg lambda is required: F.filter infers lambda arity, so a
        # `lang=lang` default would make it pass the array index too.
        return F.size(F.filter(toks, lambda w: w.isin(*words)))

    hit_cols = [
        _hits(LANG_LEXICON[lang]).alias(f"hits_{lang}") for lang in _LANGS
    ]
    out = df.select(F.col(id_col), *hit_cols)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in _LANGS])
    label = F.when(best == 0, F.lit("und"))
    for lang in _LANGS:  # alphabetical: first max wins
        label = label.when(F.col(f"hits_{lang}") == best, F.lit(lang))
    return out.select(
        F.col(id_col),
        *[F.col(f"hits_{lang}") for lang in _LANGS],
        label.alias("lang_pred"),
    )


def _hex_prefix_long(col: Column, nibbles: int) -> Column:
    return F.conv(F.substring(col, 1, nibbles), 16, 10).cast("long")


def fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Order-sensitive document fingerprint (positional rolling hash).

    Each (position, token) pair hashes to a 40-bit integer via md5; the
    fingerprint is their exact int64 sum (≤2^40 per term — no overflow below
    ~8M tokens/doc). Reordering, inserting or deleting any token changes the
    sum; pure integer math makes it engine-portable. Positions are 1-based
    to match SQL ``WITH ORDINALITY`` conventions. The per-token explode —
    the expensive stage — runs once per DISTINCT text; exact duplicates
    share the result.
    """
    groups, reps = _collapse_by_text(df, text_col, id_col)
    toks = reps.select(
        F.col(id_col),
        F.posexplode(tokenize(F.col(text_col))).alias("pos0", "w"),
    ).select(
        F.col(id_col),
        _hex_prefix_long(
            F.md5(F.concat((F.col("pos0") + 1).cast("string"), F.lit(":"), F.col("w"))),
            10,
        ).alias("h"),
    )
    rep_out = (
        reps.select(F.col(id_col))
        .join(
            toks.groupBy(id_col).agg(F.sum("h").alias("fingerprint")),
            id_col,
            "left",
        )
        .na.fill({"fingerprint": 0})
    )
    return _expand_to_docs(rep_out, groups, id_col)


def rare_ngram_ratio(
    df: DataFrame,
    n: int = 2,
    max_freq: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level n-gram novelty score — the integer-exact stand-in for
    an n-gram LM perplexity filter (CCNet-style quality signal): the
    fraction of a document's n-gram OCCURRENCES whose corpus-wide
    frequency is ≤ ``max_freq``. Gibberish and OCR noise score high
    (their n-grams appear nowhere else); boilerplate scores ~0.

    Output: (id, n_ngrams, n_rare, rare_ratio) for every input doc (docs
    shorter than n tokens score 0.0). All-integer counting plus one final
    division keeps the result bit-reproducible on any engine — a real
    log-prob LM sums floats whose addition order and libm rounding differ
    across engines, which the hash-compare harness would reject.

    Scale shape: two corpus-scale shuffles, both irreducible for a
    corpus-frequency model — the n-gram count groupBy (map-side partial)
    and the occurrence↔count equi-join (AQE handles the head-gram skew;
    the long tail is the majority of DISTINCT grams at web scale, so the
    count table is NOT broadcastable by design). The final per-doc
    aggregate shuffles matched occurrences keyed by doc id.
    """
    # Tokenize once into a concrete column — the gram expression
    # references its token input 2+n times and Spark does not CSE across
    # lambda bodies.
    toks = F.col("__t")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ",
                *[
                    F.element_at(toks, (i + j + 1).cast("int"))
                    for j in range(n)
                ],
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    occ = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("__t")
    ).select(F.col(id_col), F.explode(grams).alias("g"))
    counts = occ.groupBy("g").agg(F.count(F.lit(1)).alias("__c"))
    per_doc = (
        occ.join(counts, "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(
                F.when(F.col("__c") <= max_freq, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_rare"),
        )
    )
    return df.select(F.col(id_col)).join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.coalesce("n_ngrams", F.lit(0)).cast("long").alias("n_ngrams"),
        F.coalesce("n_rare", F.lit(0)).cast("long").alias("n_rare"),
        F.when(
            F.coalesce("n_ngrams", F.lit(0)) > 0,
            F.col("n_rare").cast("double") / F.col("n_ngrams").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("rare_ratio"),
    )


def quality_filter(
    df: DataFrame,
    min_tokens: int = 20,
    max_tokens: int = 1000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_repetition: float = 0.3,
    min_stopword_ratio: float = 0.02,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Composite Gopher/C4-style keep/drop verdict per document — the
    production filter rule assembled from the individual signals: token
    count bounds, mean word length bounds, duplicate-3-gram repetition
    cap, and a minimum stopword ratio (gibberish/non-prose gate).

    Output: (id, n_tokens, mean_word_len, repetition_3gram,
    stopword_ratio, ok_length, ok_word_len, ok_repetition, ok_stopwords,
    keep). All per-rule booleans ship alongside the verdict so a pipeline
    can audit WHY a document dropped (the filter-transparency practice of
    public corpus reports). Every ratio is one int/int IEEE division —
    engine-portable — and the whole thing is a zero-exchange narrow map:
    filters at any corpus size cost one scan.
    """
    toks = F.col("__t")
    n_tokens = F.size(toks)
    sum_wl = F.aggregate(
        toks, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_wl = F.when(
        n_tokens > 0, sum_wl.cast("double") / n_tokens.cast("double")
    ).otherwise(F.lit(0.0))
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, (i + 1).cast("int")),
            F.element_at(toks, (i + 2).cast("int")),
            F.element_at(toks, (i + 3).cast("int")),
        ),
    )
    total3 = F.greatest(F.lit(0), n_tokens - 2)
    rep3 = F.when(
        total3 > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(grams)).cast("double")
        / total3.cast("double"),
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(*LANG_LEXICON["en"])))
    stop_ratio = F.when(
        n_tokens > 0, stop_hits.cast("double") / n_tokens.cast("double")
    ).otherwise(F.lit(0.0))
    ok_length = (n_tokens >= min_tokens) & (n_tokens <= max_tokens)
    ok_wl = (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)
    ok_rep = rep3 <= max_repetition
    ok_stop = stop_ratio >= min_stopword_ratio
    return df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("__t")
    ).select(
        F.col(id_col),
        n_tokens.cast("long").alias("n_tokens"),
        mean_wl.alias("mean_word_len"),
        rep3.alias("repetition_3gram"),
        stop_ratio.alias("stopword_ratio"),
        ok_length.alias("ok_length"),
        ok_wl.alias("ok_word_len"),
        ok_rep.alias("ok_repetition"),
        ok_stop.alias("ok_stopwords"),
        (ok_length & ok_wl & ok_rep & ok_stop).alias("keep"),
    )


def bpe_pair_stats(
    df: DataFrame, text_col: str = "text", top_k: int = 20
) -> DataFrame:
    """One merge-selection step of BPE tokenizer training: the corpus-wide
    frequencies of ADJACENT character pairs inside whitespace words, top-k
    by count (ties on the pair string so the result is total-ordered).

    This is the statistic a byte-pair-encoding trainer computes each
    round before merging the winner; distributed, it is two narrow
    explodes (word, then in-word bigram positions via
    ``transform(sequence(...))``) feeding ONE map-side-combinable count —
    shuffle volume is the distinct-pair space (≤ alphabet², tiny), never
    the corpus. The top-k plans as TakeOrderedAndProject.

    Output: (pair, cnt, rnk).
    """
    words = df.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"),
                lambda w: F.length(w) >= 2,
            )
        ).alias("w")
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("pair"))
        .limit(top_k)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("pair"))
            ),
        )
    )


def char_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Shannon entropy (bits/char) of the character
    distribution — the gibberish/binary-blob detector quality signal
    (natural text sits ~4–4.5 bits; base64/hex/random bytes run higher,
    repeated-char spam far lower).

    Shape: ZERO exchanges — the whole computation is one narrow
    projection. The per-doc character counts come from a sorted-array
    run-length scan (sort the char array, mark run-end positions,
    difference adjacent end positions), all higher-order array
    functions in codegen: O(len·log len) per document with no explode,
    so the plan never materializes |corpus| character rows (the
    previous explode → groupBy → window shape cost 6.95 s at sf0.1 for
    what is a per-row expression). Per-char contributions are
    ``c · round(ln(c/n), 6)`` summed through DECIMAL(38,6) — the
    engine's float discipline — so the entropy is bit-reproducible
    under any partitioning and an oracle can rebuild it.

    Output: (doc_id, n_chars, n_distinct, entropy_bits).
    """
    n_int = F.length(F.col(text_col))
    base = (
        df.filter(n_int > 0)
        .select(
            "doc_id",
            n_int.cast("long").alias("n_chars"),
            F.array_sort(
                F.expr(
                    f"transform(sequence(1, length({text_col})), "
                    f"i -> substring({text_col}, i, 1))"
                )
            ).alias("__sorted"),
        )
        # 1-based positions where a character run ends (last position,
        # or the next char differs). F.get is 0-based and null-safe
        # out of bounds (no ANSI error at i = n).
        .select(
            "doc_id",
            "n_chars",
            F.filter(
                F.sequence(F.lit(1), F.col("n_chars").cast("int")),
                lambda i: (i == F.col("n_chars").cast("int"))
                | (
                    F.get(F.col("__sorted"), i - 1)
                    != F.get(F.col("__sorted"), i)
                ),
            ).alias("__ends"),
        )
        # Run lengths = end position minus the previous run's end.
        .select(
            "doc_id",
            "n_chars",
            F.zip_with(
                F.col("__ends"),
                F.concat(
                    F.array(F.lit(0)),
                    F.expr("slice(__ends, 1, size(__ends) - 1)"),
                ),
                lambda e, p: (e - p).cast("long"),
            ).alias("__counts"),
        )
    )
    s = F.aggregate(
        F.col("__counts"),
        F.lit(0).cast("decimal(38,6)"),
        lambda a, c: (
            a
            + (
                c
                * F.round(F.log(c.cast("double") / F.col("n_chars")), 6)
            ).cast("decimal(38,6)")
        ).cast("decimal(38,6)"),
    )
    return base.select(
        "doc_id",
        "n_chars",
        F.size("__counts").cast("long").alias("n_distinct"),
        (
            -(s.cast("double") / F.col("n_chars"))
            / F.lit(0.6931471805599453)
        ).alias("entropy_bits"),
    )


def bpe_learn_merges(
    df: DataFrame, n_merges: int = 4, text_col: str = "text"
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merges (Sennrich ACL'16): count
    adjacent symbol pairs weighted by word frequency, merge the argmax
    everywhere, repeat.

    Driver-coordinated iteration — the only driver traffic is ONE row per
    round (the argmax pair); pair counting and the merge rewrite stay
    distributed. Symbol sequences are encoded as a ``"(a)(b)(c)"`` string
    so the merge pass is a pure JVM ``replace``: non-overlapping
    left-to-right replacement of ``"(l)(r)"`` by ``"(lr)"`` is exactly
    the greedy BPE merge scan (adjacent matches cannot share characters
    in this encoding). The vocabulary table is cached across rounds; ties
    break on (freq desc, l, r) so the learned merges are total-ordered
    and reproducible.

    Output: (merge_rank, l, r, merged, pair_freq) — one row per merge.
    """
    spark = df.sparkSession
    toks = df.select(
        F.explode(
            F.filter(
                F.split(
                    F.lower(F.col(text_col)), r"[^a-z0-9]+"
                ),
                lambda w: w != "",
            )
        ).alias("word")
    )
    wfreq = toks.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    words = wfreq.select(
        F.regexp_replace("word", r"(.)", r"($1)").alias("sym"), "freq"
    ).cache()
    learned = []
    for rank in range(1, n_merges + 1):
        syms = words.select(
            F.split(
                F.regexp_replace("sym", r"^\(|\)$", ""), r"\)\("
            ).alias("a"),
            "freq",
        )
        pc = (
            syms.where(F.size("a") >= 2)
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(a) - 1),"
                        " k -> struct(a[k - 1] AS l, a[k] AS r))"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("pair_freq"))
        )
        best = pc.orderBy(
            F.col("pair_freq").desc(), F.col("l"), F.col("r")
        ).limit(1).collect()
        if not best:
            break
        b = best[0]
        learned.append(
            (rank, b.l, b.r, b.l + b.r, int(b.pair_freq))
        )
        nxt = words.select(
            F.replace(
                "sym",
                F.lit(f"({b.l})({b.r})"),
                F.lit(f"({b.l}{b.r})"),
            ).alias("sym"),
            "freq",
        ).cache()
        words.unpersist()
        words = nxt
    words.unpersist()
    return spark.createDataFrame(
        learned,
        "merge_rank long, l string, r string, merged string, "
        "pair_freq long",
    )

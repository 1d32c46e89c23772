"""Property-based checks (hypothesis) — SURVEY.md §5.4.

Random inputs assert the invariants the oracle fixtures can't sweep:
window-extract/retention complementarity over arbitrary date sets, DDL
generation over arbitrary schemas, tokenizer/shingle agreement with a pure
Python reference, and upsert idempotency over random key collisions.
"""

from __future__ import annotations

import datetime as dt
import itertools
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from extract_transform_load_template_multidb_spark import ddl, transforms
from extract_transform_load_template_multidb_spark.operators import dedup as dd

_SETTINGS = dict(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_dates = st.lists(
    st.dates(dt.date(2023, 1, 1), dt.date(2024, 12, 31)),
    min_size=1,
    max_size=40,
)


@given(dates=_dates, days=st.integers(1, 60))
@settings(**_SETTINGS)
def test_window_extract_and_retention_partition(spark, dates, days):
    """extract(≥ cutoff) and its retention complement (< cutoff) partition
    the input exactly — no row lost, none duplicated, for any date set."""
    df = spark.createDataFrame([(i, d) for i, d in enumerate(dates)],
                               "i long, d date")
    kept = transforms.window_filter(df, "d", days=days)
    cutoff = max(dates) - dt.timedelta(days=days)
    old = df.filter(F.col("d") < F.lit(cutoff))
    got = sorted(r["i"] for r in kept.unionByName(old).collect())
    assert got == sorted(range(len(dates)))
    assert kept.join(old, "i", "inner").count() == 0


_identifiers = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)
_types = st.sampled_from(
    [StringType(), LongType(), DoubleType(), BooleanType(),
     TimestampType(), DateType()]
)


@given(
    cols=st.dictionaries(_identifiers, _types, min_size=1, max_size=8),
    dialect=st.sampled_from(["mysql", "sqlserver", "postgresql", "bigquery"]),
)
@settings(max_examples=50, deadline=None)
def test_ddl_contains_every_column(cols, dialect):
    schema = StructType(
        [StructField(n, t, True) for n, t in cols.items()]
    )
    sql = ddl.create_table_sql("t", schema, dialect=dialect)
    assert sql.upper().startswith("CREATE TABLE")
    for name in cols:
        assert name in sql
    # one comma-separated definition per column, balanced parens
    assert sql.count(",") >= len(cols) - 1
    assert sql.count("(") == sql.count(")")


_TOKEN_RE = re.compile(r"[^a-z0-9]+")


def _py_tokens(text: str) -> list[str]:
    return [t for t in _TOKEN_RE.split(text.lower()) if t]


@given(text=st.text(max_size=120))
@settings(**_SETTINGS)
def test_tokenize_matches_python_reference(spark, text):
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(dd.tokenize(F.col("text")).alias("t")).collect()[0]["t"]
    assert got == _py_tokens(text)


@given(text=st.text(alphabet="ab c.!", max_size=60), n=st.integers(2, 4))
@settings(**_SETTINGS)
def test_shingles_match_python_reference(spark, text, n):
    toks = _py_tokens(text)
    want = sorted(
        {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    ) if len(toks) >= n else []
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(
        F.array_sort(dd.word_shingles(F.col("text"), n)).alias("s")
    ).collect()[0]["s"]
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 100)),
        min_size=1,
        max_size=20,
    )
)
@settings(**_SETTINGS)
def test_parquet_upsert_idempotent(spark, tmp_path_factory, rows):
    """Upserting the same batch twice equals once, for any key collisions
    (last write per key wins within Spark determinism: we dedupe input)."""
    from extract_transform_load_template_multidb_spark.sinks.parquet_sink import (
        ParquetSink,
    )

    # unique per key (upsert contract: right side unique on key)
    uniq = {k: v for k, v in rows}
    df = spark.createDataFrame(list(uniq.items()), "k long, v long")
    path = str(tmp_path_factory.mktemp("ups") / "t")
    sink = ParquetSink(path)
    sink.upsert(df, ("k",), spark)
    once = sorted(map(tuple, spark.read.parquet(path).collect()))
    sink.upsert(df, ("k",), spark)
    twice = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert once == twice == sorted(uniq.items())


_texts = st.lists(
    st.text(
        alphabet=st.sampled_from("abc xyz 0123 .,"), min_size=0, max_size=80
    ),
    min_size=1,
    max_size=12,
)


@given(texts=_texts, chunk=st.integers(2, 8), overlap=st.integers(0, 6))
@settings(**_SETTINGS)
def test_chunking_reconstructs_documents(spark, texts, chunk, overlap):
    """Dropping each chunk's overlap prefix (after the first) and
    concatenating reconstructs the token stream exactly — no token lost or
    duplicated by the windowing."""
    from extract_transform_load_template_multidb_spark.operators import (
        curation as cu,
    )

    if overlap >= chunk:
        overlap = chunk - 1
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = cu.chunk_documents(
        docs, chunk_tokens=chunk, overlap=overlap
    ).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_text"])
        )
    tok = dd.tokenize(F.col("text"))
    want = {
        r["doc_id"]: r["toks"]
        for r in docs.select("doc_id", tok.alias("toks")).collect()
    }
    for doc_id, toks in want.items():
        chunks = [t for _, t in sorted(by_doc.get(doc_id, []))]
        if not toks:
            assert chunks == []
            continue
        rebuilt: list[str] = []
        for i, c in enumerate(chunks):
            words = c.split(" ") if c else []
            rebuilt.extend(words if i == 0 else words[overlap:])
        assert rebuilt == toks, (doc_id, chunks, toks)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 50), st.sampled_from("abc")),
        min_size=1,
        max_size=30,
        unique_by=lambda r: r[0],
    ),
    pct_small=st.integers(0, 100),
    pct_big_delta=st.integers(0, 100),
)
@settings(**_SETTINGS)
def test_hash_sample_monotone_in_pct(spark, rows, pct_small, pct_big_delta):
    """Sampling is deterministic and monotone: pct1 ≤ pct2 → sample(pct1)
    ⊆ sample(pct2); pct=100 keeps everything."""
    from extract_transform_load_template_multidb_spark.operators import (
        curation as cu,
    )

    pct_big = min(100, pct_small + pct_big_delta)
    df = spark.createDataFrame(rows, "doc_id long, g string")
    small = {r["doc_id"] for r in cu.hash_sample(df, pct_small).collect()}
    big = {r["doc_id"] for r in cu.hash_sample(df, pct_big).collect()}
    assert small <= big
    assert {
        r["doc_id"] for r in cu.hash_sample(df, 100).collect()
    } == {r[0] for r in rows}


def _py_components(edges):
    """Pure-Python union-find ground truth: node → min reachable id."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}


_edges_strategy = st.lists(
    st.tuples(st.integers(0, 24), st.integers(0, 24)),
    min_size=1,
    max_size=50,
).filter(lambda es: any(a != b for a, b in es))

_small_pairs_strategy = st.lists(
    st.tuples(st.integers(0, 15), st.integers(0, 15)),
    min_size=1,
    max_size=25,
).filter(lambda ps: any(a != b for a, b in ps))


@given(pairs=_small_pairs_strategy)
@settings(**_SETTINGS)
def test_connected_components_match_python_union_find(spark, pairs):
    """The default route — two-phase contraction closed by driver
    union-find — agrees with a pure-Python union-find on arbitrary
    graphs."""
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r["node"]: r["component"]
        for r in dd.connected_components(df).collect()
    }
    assert got == _py_components(pairs)


@given(pairs=_small_pairs_strategy)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_star_contraction_matches_python_union_find(spark, pairs):
    """The distributed route — two-phase contraction closed by star
    contraction (``small_graph_edges=0``) — agrees with a pure-Python
    union-find on arbitrary graphs (fewer examples than the driver-closure
    twin: each star example pays several convergence-check actions)."""
    pairs = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        r["node"]: r["component"]
        for r in dd.connected_components(df, small_graph_edges=0).collect()
    }
    assert got == _py_components(pairs)


@given(edges=_edges_strategy)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cc_star_label_local_agree(spark, edges):
    """Both closures — star contraction and driver union-find — produce
    identical (node → min-id component) labelings whether they run on the
    raw canonical pairs or on the two-phase forest: they are rewrites of
    the same transitive closure, and a divergence on any random graph is
    a correctness bug in one of them."""
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "id_a long, id_b long"
    )
    raw = pairs.select(
        F.greatest("id_a", "id_b").alias("src"),
        F.least("id_a", "id_b").alias("dst"),
    )
    expected = _py_components(edges)
    routes = {
        "star_raw": dd._cc_star_contraction(raw, 25),
        "local_raw": dd._cc_union_find_local(raw),
        "two_phase_local": dd.connected_components(pairs),
        "two_phase_star": dd.connected_components(
            pairs, small_graph_edges=0
        ),
    }
    for name, comps in routes.items():
        got = {r["node"]: r["component"] for r in comps.collect()}
        assert got == expected, name


@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=0,
        max_size=60,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_triangle_stats_match_bruteforce(spark, pairs):
    """Degree-ordered distributed triangle counting equals a brute-force
    itertools census on random graphs (count is orientation-invariant)."""

    from extract_transform_load_template_multidb_spark.operators import (
        graph as G,
    )

    edges = sorted({(min(a, b), max(a, b)) for a, b in pairs if a != b})
    if not edges:
        return
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    row = G.triangle_stats(df).collect()[0]
    es = set(edges)
    nodes = sorted({v for e in edges for v in e})
    tri = sum(
        1
        for a, b, c in itertools.combinations(nodes, 3)
        if (a, b) in es and (b, c) in es and (a, c) in es
    )
    deg = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    assert row["n_triangles"] == tri
    assert row["n_nodes"] == len(nodes)
    assert row["n_edges"] == len(edges)
    assert row["n_wedges"] == sum(d * (d - 1) // 2 for d in deg.values())


@given(
    st.lists(
        st.tuples(st.integers(0, 18), st.integers(0, 18)),
        min_size=0,
        max_size=45,
    ),
    st.integers(1, 4),
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kcore_matches_bruteforce_peel(spark, pairs, k):
    """Distributed k-core peeling equals a driver-side peel on random
    graphs for k in 1..4 (the fixed point is unique)."""
    from extract_transform_load_template_multidb_spark.operators import (
        graph as G,
    )

    edges = sorted({(min(a, b), max(a, b)) for a, b in pairs if a != b})
    if not edges:
        return
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        (r["node"], r["degree"]) for r in G.kcore(df, k=k, max_iter=25).collect()
    }
    es = set(edges)
    while True:
        deg = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {v for v, d in deg.items() if d >= k}
        nes = {(a, b) for a, b in es if a in keep and b in keep}
        if nes == es:
            break
        es = nes
    deg = {}
    for a, b in es:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    assert got == set(deg.items())


@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_moving_median_matches_python_reference(spark, vals):
    """The collect_list/array_sort window median must equal a pure-Python
    trailing-7 median (with the same even-count midpoint average) for
    any value sequence."""
    import statistics

    rows = [(i, float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "i long, v double")
    from pyspark.sql import Window

    w = Window.orderBy("i").rowsBetween(-6, Window.currentRow)
    arr = F.array_sort(F.collect_list("v").over(w))
    n = F.size(arr)
    odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(arr, (n / 2).cast("int"))
        + F.element_at(arr, (n / 2 + 1).cast("int"))
    ) / 2.0
    got = {
        r["i"]: r["m"]
        for r in df.select(
            "i", F.when(n % 2 == 1, odd).otherwise(even).alias("m")
        ).collect()
    }
    for i in range(len(vals)):
        window = vals[max(0, i - 6) : i + 1]
        assert got[i] == pytest.approx(statistics.median(window), abs=1e-9)


@given(
    a=st.lists(st.integers(0, 50), min_size=2, max_size=40),
    b=st.lists(st.integers(0, 50), min_size=2, max_size=40),
)
@settings(**_SETTINGS)
def test_mann_whitney_matches_bruteforce(spark, a, b):
    """The distinct-value rank-sum U must equal the O(n·m) pairwise
    definition U = #{(i,j): a_i > b_j} + 0.5·#{a_i = b_j} for any
    integer samples (ties included)."""
    rows = [("click", float(x)) for x in a] + [
        ("purchase", float(x)) for x in b
    ]
    df = spark.createDataFrame(rows, "g string, x double")
    per_val = df.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.count(F.when(F.col("g") == "click", 1))
        .cast("long")
        .alias("cnt1"),
    )
    from pyspark.sql import Window

    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_val.withColumn(
        "c_less", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    )
    avg_rank = F.col("c_less") + (F.col("cnt") + 1) / F.lit(2.0)
    r1 = ranked.agg(
        F.sum(F.col("cnt1").cast("decimal(38,6)") * avg_rank)
        .cast("double")
        .alias("r1")
    ).collect()[0]["r1"]
    n1 = len(a)
    u_spark = r1 - n1 * (n1 + 1) / 2.0
    u_brute = sum(
        1.0 if x > y else (0.5 if x == y else 0.0) for x in a for y in b
    )
    assert u_spark == pytest.approx(u_brute, abs=1e-9)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=80,
    ),
    ps=st.lists(
        st.floats(min_value=0.0, max_value=1.0,
                  allow_nan=False, allow_infinity=False),
        min_size=1,
        max_size=4,
        unique=True,
    ),
)
def test_exact_percentiles_matches_spark_percentile(spark, data, ps):
    """The distributed running-count selector (queries/_util.
    exact_percentiles) must agree with Spark's own exact interpolated
    percentile aggregate on arbitrary grouped integer data and
    arbitrary fractions — the substitution contract behind the round-6
    rewrite of every ungrouped/low-cardinality percentile site."""
    from extract_transform_load_template_multidb_spark.queries._util import (
        exact_percentiles,
    )

    df = spark.createDataFrame(
        [(g, float(v)) for g, v in data], "g string, value double"
    )
    named = {f"p{i}": p for i, p in enumerate(ps)}
    ref = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(*[F.percentile("value", p).alias(a) for a, p in named.items()])
        .collect()
    }
    got = {
        r["g"]: r
        for r in exact_percentiles(df, ["g"], "value", named).collect()
    }
    assert set(ref) == set(got)
    for g in ref:
        for a in named:
            assert abs(ref[g][a] - got[g][a]) < 1e-9, (g, a)


_mattr_texts = st.lists(
    st.text(alphabet="ab cd", min_size=1, max_size=160),
    min_size=1,
    max_size=6,
)


@given(texts=_mattr_texts)
@settings(**_SETTINGS)
def test_mattr_identity_matches_bruteforce(
    spark, tmp_path_factory, texts
):
    """The linear last-occurrence identity used by
    text_mattr_lexical_diversity must equal the brute-force definition
    (mean over every 25-token window of distinct/25; plain TTR under 25
    tokens) on arbitrary token sequences."""
    import re as _re

    rows = [
        (i, t, "en", f"src{i}", len(t)) for i, t in enumerate(texts)
    ]
    pdir = tmp_path_factory.mktemp("mattr")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(pdir / "documents.parquet"))

    from extract_transform_load_template_multidb_spark.queries import (
        all_queries,
    )

    got = {
        r["doc_id"]: (r["n_tokens"], r["n_types"], r["mattr"])
        for r in all_queries()["text_mattr_lexical_diversity"](
            spark, str(pdir)
        ).collect()
    }
    W = 25
    for i, t in enumerate(texts):
        toks = [w for w in _re.split(r"[^a-z0-9]+", t.lower()) if w]
        if not toks:
            assert i not in got
            continue
        n = len(toks)
        if n >= W:
            vals = [
                len(set(toks[s : s + W])) / W for s in range(n - W + 1)
            ]
            expect = sum(vals) / len(vals)
        else:
            expect = len(set(toks)) / n
        nt, ty, mat = got[i]
        assert nt == n and ty == len(set(toks))
        assert abs(mat - expect) < 5e-7, (toks, mat, expect)


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-1, 1, allow_nan=False, width=32),
            min_size=4,
            max_size=4,
        ),
        min_size=6,
        max_size=12,
        unique_by=lambda v: tuple(v),
    )
)
@settings(**_SETTINGS)
def test_mmr_greedy_matches_numpy_reference(spark, vecs):
    """mmr_diversified_topk's unrolled window-argmax trajectory must equal
    a straightforward numpy greedy MMR over the same quantized integer
    dot products (λ·rel − (1−λ)·max-sim, ties on neighbor id)."""
    import math

    from extract_transform_load_template_multidb_spark.operators import (
        similarity as sim,
    )

    # Quantized reference mirroring operators/similarity.quantize.
    q = [[math.floor(float(x) * 1000) for x in v] for v in vecs]
    nsq = [sum(x * x for x in v) for v in q]
    if any(s == 0 for s in nsq):
        return  # zero vectors make cosine undefined; out of contract

    def cos(a, b):
        d = sum(x * y for x, y in zip(q[a], q[b]))
        return d / (math.sqrt(nsq[a]) * math.sqrt(nsq[b]))

    n = len(vecs)
    k, pool, lam = 3, 5, 0.7
    expect = {}
    for qid in (0, 1):
        cands = sorted(
            ((-cos(qid, j), j) for j in range(n) if j != qid)
        )[:pool]
        cands = [(j, -negc) for negc, j in cands]
        rel = dict(cands)
        sel = []
        first = max(cands, key=lambda t: (t[1], -t[0]))
        sel.append(first[0])
        out = [(qid, 1, first[0])]
        for step in range(2, k + 1):
            best = None
            for j, r in cands:
                if j in sel:
                    continue
                score = lam * r - (1 - lam) * max(
                    cos(j, s) for s in sel
                )
                cand = (score, -j)
                if best is None or cand > best[0]:
                    best = (cand, j)
            sel.append(best[1])
            out.append((qid, step, best[1]))
        for qid_, rank, vid in out:
            expect[(qid_, rank)] = vid

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    res = sim.mmr_diversified_topk(
        df,
        df.filter(F.col("vec_id") < 2),
        k=k,
        pool=pool,
        lam=lam,
    ).collect()
    got = {(r["query_id"], r["mmr_rank"]): r["vec_id"] for r in res}
    assert got == expect


@given(pairs=st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)),
    min_size=0, max_size=16,
))
@settings(**_SETTINGS)
def test_katz_matches_dense_reference(spark, pairs):
    """katz() must equal the dense x ← 1 + α·Aᵀx recurrence computed in
    plain Python over the same directed multigraph (parallel edges count
    once per occurrence, self-loops allowed — whatever the edge list
    says is what the operator must sum)."""
    from extract_transform_load_template_multidb_spark.operators import (
        graph as gr,
    )

    n, iters, alpha = 8, 3, 0.1
    x = [1.0] * n
    for _ in range(iters):
        # match the operator's decimal(38,12) contribution quantization
        x2 = [1.0] * n
        incoming = {}
        for s, d in pairs:
            incoming.setdefault(d, []).append(round(x[s], 12))
        for d, vals in incoming.items():
            x2[d] = 1.0 + alpha * sum(vals)
        x = x2
    edges = spark.createDataFrame(
        pairs or [(0, 0)], "src long, dst long"
    )
    if not pairs:
        edges = edges.filter("src < 0")
    nodes = spark.createDataFrame(
        [(i,) for i in range(n)], "node long"
    )
    got = {
        r["node"]: r["katz"]
        for r in gr.katz(edges, nodes, iterations=iters).collect()
    }
    for i in range(n):
        assert abs(got[i] - x[i]) < 1e-9, (i, got[i], x[i])


@given(
    st.lists(
        st.integers(min_value=1, max_value=200).map(float),
        min_size=3,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_theil_sen_lower_median_matches_bruteforce(spark, counts):
    """The distributed Theil–Sen rank pick equals the brute-force numpy
    lower median of all pairwise slopes on arbitrary daily series."""
    import datetime as _dt

    import numpy as np

    days = [_dt.date(2024, 1, 1) + _dt.timedelta(days=i) for i in range(len(counts))]
    from pyspark.sql import Window as W

    daily = spark.createDataFrame(
        list(zip(days, [int(c) for c in counts])), "day date, n long"
    )
    a = daily.selectExpr("day AS d1", "n AS n1")
    b = daily.selectExpr("day AS d2", "n AS n2")
    pairs = a.join(b, F.col("d1") < F.col("d2")).select(
        (
            (F.col("n2") - F.col("n1")).cast("double")
            / F.datediff("d2", "d1").cast("double")
        ).alias("slope"),
        "d1",
        "d2",
    )
    ranked = pairs.select(
        "slope",
        F.row_number().over(W.orderBy("slope", "d1", "d2")).alias("rk"),
        F.count(F.lit(1)).over(
            W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ).alias("np_"),
    )
    got = ranked.where(
        F.col("rk") == F.floor((F.col("np_") + F.lit(1)) / F.lit(2))
    ).collect()[0]["slope"]

    ns = np.array(counts)
    slopes = []
    for i in range(len(ns)):
        for j in range(i + 1, len(ns)):
            slopes.append((ns[j] - ns[i]) / (j - i))
    slopes.sort()
    want = slopes[(len(slopes) + 1) // 2 - 1]
    assert got == want


@given(
    st.lists(
        st.integers(min_value=100, max_value=100_000),
        min_size=2,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_trimmed_mean_interval_overlap_matches_numpy(spark, prices):
    """The running-count interval-overlap trim (agg_winsorized_trimmed_mean
    shape) equals numpy's explicit rank-based 10% trim, including ties."""
    import numpy as np
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [(p,) for p in prices], "price long"
    ).withColumn("g", F.lit(1))
    vals = df.groupBy("g", "price").agg(F.count(F.lit(1)).alias("c"))
    wrun = (
        W.partitionBy("g").orderBy("price")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wall = W.partitionBy("g")
    run = vals.select(
        "price", "c",
        F.sum("c").over(wrun).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    lo = F.floor(F.col("n") / 10)
    keep = F.greatest(
        F.least(F.col("cum"), F.col("n") - lo)
        - F.greatest(F.col("cum") - F.col("c"), lo),
        F.lit(0),
    )
    row = (
        run.select((F.col("price") * keep).alias("pk"), keep.alias("k"))
        .agg(F.sum("pk").alias("s"), F.sum("k").alias("k"))
        .collect()[0]
    )
    xs = np.sort(np.array(prices, dtype=np.int64))
    t = len(xs) // 10
    kept = xs[t: len(xs) - t] if t else xs
    assert row["k"] == len(kept)
    assert row["s"] == kept.sum()


def test_scurve_expectation_matches_numpy(spark, sf_dir):
    """dedup_band_scurve_tuning's repeated-squaring probabilities equal
    numpy's closed form 1-(1-s^r)^b on the actual pair stream, post the
    dyadic-grid snap."""
    import numpy as np

    from extract_transform_load_template_multidb_spark.operators import (
        dedup as dd,
    )
    from extract_transform_load_template_multidb_spark.catalog import (
        load_table,
    )
    from extract_transform_load_template_multidb_spark.queries.llm_data import (
        _scurve_cols,
    )

    pairs = dd.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.2
    )
    cols = _scurve_cols(F.col("jaccard"))
    got = pairs.select(
        "jaccard", *[c.alias(n) for n, c in cols.items()]
    ).toPandas()
    s = got["jaccard"].to_numpy()
    grid = 1048576.0
    for b, r in ((16, 1), (8, 2), (4, 4), (2, 8)):
        want = np.floor((1.0 - (1.0 - s**r) ** b) * grid + 0.5) / grid
        assert np.array_equal(got[f"b{b}_r{r}"].to_numpy(), want), (b, r)


@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=40),
        min_size=2,
        max_size=24,
    ),
    n=st.integers(1, 3),
    threshold=st.sampled_from([0.25, 0.5, 0.9]),
)
@settings(**_SETTINGS)
def test_ngram_jaccard_allpairs_equals_index(spark, texts, n, threshold):
    """strategy='allpairs' (round-11: the dense/small-universe kernel the
    LSH recall audit's exact arm uses) emits EXACTLY the inverted-index
    pair set with equal jaccard values, for any t > 0 — including corpora
    with exact-duplicate cliques, shingle-less (short) docs, and empty
    texts. Tiny alphabet on purpose: maximal shingle collisions."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    idx = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in dd.ngram_jaccard_pairs(df, n=n, threshold=threshold).collect()
    }
    ap = {
        (r.id_a, r.id_b, round(r.jaccard, 12))
        for r in dd.ngram_jaccard_pairs(
            df, n=n, threshold=threshold, strategy="allpairs"
        ).collect()
    }
    assert idx == ap


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 99),  # doc id pool with collisions
            st.lists(st.integers(0, 5), min_size=3, max_size=3),  # band vec
        ),
        min_size=2,
        max_size=30,
        unique_by=lambda r: r[0],
    )
)
@settings(**_SETTINGS)
def test_banded_unique_pairs_equals_classic(spark, rows):
    """banded_unique_pairs (min-shared-band emission, no distinct()
    exchange) emits exactly the classic candidate set — every (a < b)
    whose band vectors are equal at some position — each pair exactly
    once. Tiny band-value domain on purpose so buckets collide maximally,
    including identical buckets across bands and cross-band hash-value
    reuse."""
    bands_all = spark.createDataFrame(
        [(i, [int(h) for h in hs]) for i, hs in rows],
        "doc_id long, __bhs array<long>",
    )
    classic = {
        (min(i, j), max(i, j))
        for (i, hi), (j, hj) in itertools.combinations(rows, 2)
        if any(x == y for x, y in zip(hi, hj))
    }
    uniq = [
        tuple(r)
        for r in dd.banded_unique_pairs(bands_all, "doc_id", n_bands=3)
        .collect()
    ]
    assert set(uniq) == classic
    assert len(uniq) == len(set(uniq))  # no duplicates → no distinct needed


def test_ngram_jaccard_allpairs_rejects_zero_threshold(spark):
    """At t = 0 the strategies genuinely differ (the index never emits
    J=0 pairs); the operator must refuse rather than quietly diverge."""
    df = spark.createDataFrame([(0, "a b"), (1, "c d")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="threshold > 0"):
        dd.ngram_jaccard_pairs(df, n=1, threshold=0.0, strategy="allpairs")


def test_gif_index_histogram_matches_numpy(spark):
    """gif_index_histogram through the REAL encode->decode path equals
    numpy bincount features on random indexed images."""
    import numpy as np
    import pandas as pd

    from extract_transform_load_template_multidb_spark.operators import (
        gif as G,
        multimodal as mm,
    )

    rng = np.random.default_rng(47)
    rows = []
    truth = {}
    for aid in range(6):
        npal = int(rng.integers(4, 64))
        pal = rng.integers(0, 256, (npal, 3), dtype=np.uint8)
        idx = rng.integers(0, npal, (int(rng.integers(2, 9)), int(rng.integers(2, 9))), dtype=np.uint8)
        rows.append((aid, bytearray(G.encode_gif87a(idx, pal))))
        counts = np.bincount(idx.ravel(), minlength=npal)
        modal = int(np.argmax(counts))
        # palette padded to power-of-two table by the encoder
        k = 0
        while (2 << k) < npal:
            k += 1
        truth[aid] = (
            int((counts > 0).sum()), modal, int(counts[modal]),
            tuple(int(x) for x in pal[modal]),
        )
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    out = {
        r["asset_id"]: r
        for r in mm.gif_index_histogram(df).collect()
    }
    for aid, (nd, modal, mc, rgb) in truth.items():
        r = out[aid]
        assert r["err"] is None
        assert r["n_distinct_idx"] == nd
        assert r["modal_idx"] == modal
        assert r["modal_count"] == mc
        assert (r["modal_r"], r["modal_g"], r["modal_b"]) == rgb


def test_bpe_apply_replace_chain_matches_reference(spark):
    """The literal replace-chain BPE application equals a pure-Python
    greedy merge apply on a hand corpus (merges must not cross word
    boundaries, ranks apply in order, counts are per-word symbols)."""
    merges = [("a", "b"), ("ab", "c"), ("d", "e")]
    docs = ["ab abc de xyz", "ababc ddee", ""]

    def ref_tokens(text):
        total = 0
        for w in text.split():
            syms = list(w)
            for l, r in merges:
                i = 0
                out = []
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == l
                        and syms[i + 1] == r
                    ):
                        out.append(l + r)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            total += len(syms)
        return total

    df = spark.createDataFrame([(t,) for t in docs], "text string")
    sym = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " "),
        r"([a-z0-9])",
        r"($1)",
    )
    for l, r in merges:
        sym = F.replace(sym, F.lit(f"({l})({r})"), F.lit(f"({l}{r})"))
    nt = F.length(sym) - F.length(F.replace(sym, F.lit("("), F.lit("")))
    got = [r["nt"] for r in df.select(nt.alias("nt")).collect()]
    assert got == [ref_tokens(t) for t in docs]


@given(
    va=st.floats(-1000, 1000, allow_nan=False, allow_subnormal=True),
    delta=st.floats(-0.51, 0.51, allow_nan=False),
)
@settings(**_SETTINGS)
def test_band_join_bucket_cover_is_lossless(va, delta):
    """The ε-band bucket-decomposition lemma join_value_band_bucketed
    relies on, at the FLOAT level the query actually evaluates: any
    pair accepted by the verify predicate ``v_a − ε ≤ v_b ≤ v_a + ε``
    (IEEE doubles, so the band edges carry up to half an ulp of
    widening) has bucket(v_b) within ±2 of bucket(v_a), where
    bucket(v) = floor(v/ε). Probing five buckets therefore never drops
    an accepted pair. The ±1 version of this lemma is FALSE in floats —
    hypothesis found va=-2.2e-313, vb=0.5 (buckets -1 and +1, accepted
    because va+0.5 rounds to exactly 0.5), which is why the query
    probes ±2."""
    import math

    eps = 0.5
    vb = va + delta
    if not (va - eps <= vb <= va + eps):  # the query's own predicate
        return
    assert abs(math.floor(vb / eps) - math.floor(va / eps)) <= 2


@given(
    vec=st.lists(
        st.floats(-10, 10, allow_nan=False, width=32),
        min_size=1,
        max_size=64,
    ).filter(lambda v: max(abs(x) for x in v) > 0)
)
@settings(**_SETTINGS)
def test_int8_quantization_error_bound(vec):
    """sim_int8_quantization_error's formula, replicated in numpy: the
    clamped int8 code is always in [-127, 127], and every unsaturated
    element's reconstruction error is ≤ half a quantization step
    (0.5/scale), so the per-vector MSE the query reports is bounded by
    (0.5/scale)² for saturation-free vectors."""
    import numpy as np

    x = np.asarray(vec, dtype=np.float64)
    maxabs = np.abs(x).max()
    scale = 127.0 / maxabs
    qr = np.floor(x * scale + 0.5)
    qi = np.clip(qr, -127, 127)
    assert qi.min() >= -127 and qi.max() <= 127
    deq = qi / scale
    unsat = np.abs(qr) <= 127
    step = 0.5 / scale
    # tiny float headroom: the bound is exact in real arithmetic
    assert np.all(np.abs(x[unsat] - deq[unsat]) <= step * (1 + 1e-12))


@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 6),          # user_id
            st.integers(0, 400),        # event day offset
            st.booleans(),              # True → event row, False → order
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_bucketed_cogroup_profile_matches_per_user_reference(rows):
    """The vectorized pandas body of pyfunc_cogrouped_user_profile
    (the REAL `_bucketed_profile`, imported — not a copy) must equal
    the naive per-user reference: counts from each side and the day lag
    between last event and last order, NULL unless the user has
    both."""
    import numpy as np
    import pandas as pd

    from extract_transform_load_template_multidb_spark.queries.pyfunc import (
        _bucketed_profile,
    )

    base = np.datetime64("2024-01-01")
    ev = pd.DataFrame(
        [
            {"user_id": u, "ts": pd.Timestamp(base + np.timedelta64(d, "D"))}
            for (u, d, is_ev) in rows
            if is_ev
        ]
    )
    od = pd.DataFrame(
        [
            {
                "user_id": u,
                "o_orderdate": pd.Timestamp(base + np.timedelta64(d, "D")),
            }
            for (u, d, is_ev) in rows
            if not is_ev
        ]
    )
    if ev.empty:
        ev = pd.DataFrame({"user_id": pd.Series(dtype="int64"),
                           "ts": pd.Series(dtype="datetime64[ns]")})
    if od.empty:
        od = pd.DataFrame({"user_id": pd.Series(dtype="int64"),
                           "o_orderdate": pd.Series(dtype="datetime64[ns]")})

    m = _bucketed_profile(ev, od)
    got = {}
    for _, r in m.iterrows():
        lag = (
            None
            if pd.isna(r["event_after_order_days"])
            else int(r["event_after_order_days"])
        )
        got[int(r["user_id"])] = (int(r["n_events"]), int(r["n_orders"]), lag)

    # naive per-user reference
    users = set(ev["user_id"]) | set(od["user_id"])
    for u in users:
        ue = ev[ev["user_id"] == u]
        uo = od[od["user_id"] == u]
        lag = None
        if len(ue) and len(uo):
            lag = int(
                (
                    np.datetime64(ue["ts"].max(), "D")
                    - np.datetime64(uo["o_orderdate"].max(), "D")
                ).astype("int64")
            )
        assert got[int(u)] == (len(ue), len(uo), lag), u


@given(
    series=st.lists(
        st.tuples(
            st.integers(0, 4),  # user
            st.integers(0, 40),  # day offset
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_kalman_entity_fold_matches_scalar_recursion(spark, series):
    """The bucketed applyInPandas per-entity Kalman (queries/pyfunc.py::
    _bucketed_kalman) must equal the plain scalar recursion per user —
    same IEEE op order as the recursive-CTE oracle (x0 = first y,
    p0 = 1, q = 0.01, r = 4), final state per user."""
    import pandas as pd

    from extract_transform_load_template_multidb_spark.queries.pyfunc import (
        _bucketed_kalman,
    )

    base = dt.date(2024, 1, 1)
    # Daily counts per (user, day) — the rollup the query feeds the fold.
    counts: dict[tuple[int, int], int] = {}
    for u, d in series:
        counts[(u, d)] = counts.get((u, d), 0) + 1
    pdf = pd.DataFrame(
        {
            "user_id": pd.Series(
                [u for (u, _d) in counts], dtype="int64"
            ),
            "day": [base + dt.timedelta(days=d) for (_u, d) in counts],
            "y": pd.Series(
                [float(c) for c in counts.values()], dtype="float64"
            ),
        }
    )
    got = _bucketed_kalman(pdf).set_index("user_id")

    expect = {}
    for u in sorted({u for (u, _d) in counts}):
        days = sorted(d for (uu, d) in counts if uu == u)
        ys = [float(counts[(u, d)]) for d in days]
        x, p = ys[0], 1.0
        for yv in ys[1:]:
            pp = p + 0.01
            g = pp / (pp + 4.0)
            x = x + g * (yv - x)
            p = (1.0 - g) * pp
        expect[u] = (len(ys), base + dt.timedelta(days=days[-1]), x, p)

    assert set(got.index) == set(expect)
    for u, (nd, last, x, p) in expect.items():
        row = got.loc[u]
        assert row["n_days"] == nd
        assert row["last_day"] == last
        assert row["level"] == x  # bit-exact, same op order
        assert row["variance"] == p

"""Advanced relational coverage: temporal joins, navigation windows,
percentiles, pivot, grouping sets, subqueries, array aggregation.

Completes the SURVEY.md §2.5 gap list beyond the first relational batch —
every query oracle-checked against DuckDB (its native ASOF JOIN verifies
our union+carry-forward as-of implementation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from extract_transform_load_template_multidb_spark.operators.dedup import (
    _fan_out,
)
from extract_transform_load_template_multidb_spark.catalog import load_table
from extract_transform_load_template_multidb_spark.operators import (
    temporal as tp,
)
from extract_transform_load_template_multidb_spark.queries import query
from extract_transform_load_template_multidb_spark.queries._util import (
    DEC,
    daily_revenue,
    dsum,
    exact_percentiles,
    exact_percentiles_from_counts,
    sql_dsum,
)

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def copurchase_pairs(
    li: DataFrame,
    min_support: int = 2,
    weight_col: str | None = None,
    checkpoint: bool = True,
) -> DataFrame:
    """(part_a < part_b) co-purchase pairs supported by ≥ ``min_support``
    orders — the shared edge generator for the link-pred / clustering /
    label-propagation graph family.

    ONE groupBy builds the distinct sorted part list per order
    (bounded: TPC-H orders hold ≤7 parts, so the per-group array and
    its i<j combinations are constant-size — skew-safe at any corpus
    size), and the pair explode is a pure array expression; the pair
    groupBy then counts supporting orders. This replaces the previous
    distinct → self-join → pair-groupBy chain at every call site
    (3 shuffles → 2; measured 1.8 s → 1.25 s at sf0.1 for the pair
    stage alone). Eagerly checkpointed by default because every caller
    references the pair list several times (both arms of sym, wedge
    joins, anti-joins) — without truncation Spark re-executes the
    generator per reference (measured 9.4 s vs ~2 s at sf0.1)."""
    op = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    pairs = (
        op.where(F.size("ps") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(ps) - 2),"
                    " i -> transform(sequence(i + 1, size(ps) - 1),"
                    "      j -> struct(get(ps, i) AS pa,"
                    "                  get(ps, j) AS pb))))"
                )
            ).alias("pr")
        )
        .groupBy(
            F.col("pr.pa").alias("part_a"), F.col("pr.pb").alias("part_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("__w"))
        .where(F.col("__w") >= min_support)
    )
    pairs = (
        pairs.withColumnRenamed("__w", weight_col)
        if weight_col
        else pairs.drop("__w")
    )
    return pairs.localCheckpoint(eager=True) if checkpoint else pairs


_ASOF_ORACLE = """
WITH r AS (
    SELECT o_custkey, o_orderdate,
           count(*) AS n_orders_day,
           max(o_orderkey) AS last_orderkey
    FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, e.ts, r.last_orderkey, r.n_orders_day
FROM events e
ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
"""


@query("join_asof_latest_order", oracle=_ASOF_ORACLE)
def join_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each event picks up the user's latest order at-or-before
    the event time.

    Implemented as union + window carry-forward (one shuffle of |L|+|R|,
    no inequality join); DuckDB's native ASOF JOIN is the oracle.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    day_orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.count(F.lit(1)).alias("n_orders_day"),
            F.max("o_orderkey").alias("last_orderkey"),
        )
    )
    return tp.asof_join(
        ev,
        day_orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=("last_orderkey", "n_orders_day"),
    )


_RANGE_ORACLE = """
SELECT o.o_orderkey, count(e.ts) AS n_in_range
FROM orders o
LEFT JOIN events e
  ON e.user_id = o.o_custkey
 AND e.ts >= o.o_orderdate
 AND e.ts < o.o_orderdate + INTERVAL 7 DAY
GROUP BY o.o_orderkey
"""


@query("join_range_week_after_order", oracle=_RANGE_ORACLE)
def join_range_week_after_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: events of the ordering customer within 7 days after the
    order (equi-join on the key, literal band as join filter)."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_week_end", F.col("o_orderdate") + F.expr("INTERVAL 7 DAY")
    )
    ev = load_table(spark, sf_dir, "events")
    return tp.range_join_count(
        orders,
        ev,
        left_key="o_custkey",
        right_key="user_id",
        right_ts="ts",
        lo_ts="o_orderdate",
        hi_ts="o_week_end",
        group_cols=("o_orderkey",),
    )


_NAV_ORACLE = """
SELECT event_id, user_id, ts,
       lag(ts)  OVER w AS prev_ts,
       lead(ts) OVER w AS next_ts,
       epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@query("window_lead_lag", oracle=_NAV_ORACLE)
def window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation window functions: per-user prev/next event time and gap."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        prev.alias("prev_ts"),
        F.lead("ts").over(w).alias("next_ts"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(prev)).alias("gap_us"),
    )


_PCTL_ORACLE = """
SELECT event_type,
       count(*) AS n,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.9) AS p90,
       min(value) AS vmin,
       max(value) AS vmax
FROM events
WHERE NOT isnan(value) AND NOT isinf(value)
GROUP BY event_type
"""


@query("agg_percentiles", oracle=_PCTL_ORACLE)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group, via the distributed
    running-count selection (`exact_percentiles`): `F.percentile` would
    buffer every distinct value of a group in one reducer's memory —
    OOM-shaped at 100 TB — while this collapses to value counts
    map-side and external-sorts. n/min/max ride the same single pass."""
    ev = load_table(spark, sf_dir, "events").filter(
        ~F.isnan("value")
        & ~F.col("value").isin(float("inf"), float("-inf"))
    )
    return exact_percentiles(
        ev,
        ["event_type"],
        "value",
        {"p50": 0.5, "p90": 0.9},
        extras={"n": "n", "vmin": "min", "vmax": "max"},
    ).select("event_type", "n", "p50", "p90", "vmin", "vmax")


_PIVOT_ORACLE = f"""
SELECT user_id,
       {', '.join(
           "CAST(SUM(CASE WHEN event_type = "
           f"'{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
           for t in _EVENT_TYPES)}
FROM events
GROUP BY user_id
"""


@query("agg_pivot_event_types", oracle=_PIVOT_ORACLE)
def agg_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: one column per event type (explicit value list — never let
    pivot run its distinct-scan at scale)."""
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    return out.select(
        "user_id", *[F.col(t).alias(f"n_{t}") for t in _EVENT_TYPES]
    )


_GSETS_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
       COUNT(*) AS n_items, {sql_dsum('l_quantity', 'sum_qty')}
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


@query("agg_grouping_sets", oracle=_GSETS_ORACLE)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (not derivable from rollup/cube) via the SQL
    surface, with GROUPING() disambiguation of the null rows."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_gsets"
    )
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
               CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
               COUNT(*) AS n_items, {sql_dsum('l_quantity', 'sum_qty')}
        FROM lineitem_gsets
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


_CORR_ORACLE = """
WITH t AS (
    SELECT l_partkey,
           0.5 * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                  / COUNT(l_quantity)) AS thresh
    FROM lineitem GROUP BY l_partkey
)
SELECT l.l_partkey, count(*) AS n_small
FROM lineitem l JOIN t ON l.l_partkey = t.l_partkey
WHERE l.l_quantity < t.thresh
GROUP BY l.l_partkey
"""


@query("subquery_correlated_avg", oracle=_CORR_ORACLE)
def subquery_correlated_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 pattern: rows below half their group's average (the
    correlated scalar subquery decorrelated into an aggregate + self-join —
    exactly Catalyst's RewriteCorrelatedScalarSubquery plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    thresh = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (
            0.5
        * (
            F.sum(F.col("l_quantity").cast("decimal(38,6)")).cast("double")
            / F.count("l_quantity")
        )
        ).alias("thresh")
    )
    return (
        li.join(thresh, li.l_partkey == thresh.t_partkey)
        .filter(F.col("l_quantity") < F.col("thresh"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_small"))
    )


_UNCORR_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 2 * (
    SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
           / COUNT(o_totalprice)
    FROM orders
)
"""


@query("subquery_scalar_global", oracle=_UNCORR_ORACLE)
def subquery_scalar_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: orders above 2× the global average
    (1-row aggregate broadcast against the scan)."""
    orders = load_table(spark, sf_dir, "orders")
    avg1 = orders.agg(
        (
            2
            * (
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast(
                    "double"
                )
                / F.count("o_totalprice")
            )
        ).alias("__thresh")
    )
    return (
        orders.join(
            F.broadcast(avg1), F.col("o_totalprice") > F.col("__thresh")
        )
        .select("o_orderkey", "o_totalprice")
    )


_SKETCH_ORACLE = """
SELECT event_type,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS users_ok,
       TRUE AS p50_ok,
       TRUE AS p90_ok
FROM events
WHERE NOT isnan(value) AND NOT isinf(value)
GROUP BY event_type
"""


@query("agg_approx_sketches", oracle=_SKETCH_ORACLE)
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based profiling: HyperLogLog++ distinct counts and t-digest
    percentiles per event type — THE 100 TB substitutes for the exact
    forms (`agg_count_distinct`, `agg_percentiles`): one pass, bounded
    memory, no sort.

    Sketch estimates are engine-specific, so the raw estimates cannot be
    hash-compared cross-engine. Instead the query returns tolerance
    verdicts: each sketch estimate is compared against the exact value
    computed in the same aggregation, and the oracle asserts the verdicts
    are TRUE (plus the exact distinct count as a hash-checked anchor). A
    sketch drifting out of tolerance flips a boolean and fails the hash
    compare — an honest, portable check.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        ~F.isnan("value")
        & ~F.col("value").isin(float("inf"), float("-inf"))
    )
    agg = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.percentile_approx("value", 0.5, 10000).alias("approx_p50"),
        F.percentile_approx("value", 0.9, 10000).alias("approx_p90"),
    )
    # Exact rank neighborhoods bounding the approx answers: with
    # accuracy=10000 the rank error is ~n/10000, far inside ±5 pct-pts.
    # Distributed running-count selection, not F.percentile — the exact
    # side of this audit must not itself be the thing that OOMs at scale.
    bounds = exact_percentiles(
        ev,
        ["event_type"],
        "value",
        {"p45": 0.45, "p55": 0.55, "p85": 0.85, "p95": 0.95},
    ).withColumnRenamed("event_type", "b_type")
    agg = agg.join(
        F.broadcast(bounds), agg.event_type == bounds.b_type
    )
    tol = F.greatest(
        (F.col("exact_users") * F.lit(0.05)).cast("double"), F.lit(2.0)
    )
    return agg.select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_users") - F.col("exact_users")).cast("double")
            <= tol
        ).alias("users_ok"),
        (
            (F.col("approx_p50") >= F.col("p45"))
            & (F.col("approx_p50") <= F.col("p55"))
        ).alias("p50_ok"),
        (
            (F.col("approx_p90") >= F.col("p85"))
            & (F.col("approx_p90") <= F.col("p95"))
        ).alias("p90_ok"),
    )


_COLLECT_ORACLE = """
SELECT c_custkey,
       len(list(o_orderkey)) AS n_orders,
       array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys_csv
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


@query("agg_collect_sorted", oracle=_COLLECT_ORACLE)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: deterministic (sorted) collect_list, surfaced as
    its CSV rendering plus the element count.

    Unsorted collect is partition-order-dependent — sorting makes it
    honest. Only hashable scalar columns are returned (the driver's
    canonicalizer sorts/hashes pandas columns, and a raw list column is
    unhashable there); the CSV pins exactly the same semantics as the
    array itself.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    keys = F.array_sort(F.collect_list("o_orderkey"))
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .groupBy("c_custkey")
        .agg(
            F.size(keys).cast("long").alias("n_orders"),
            F.array_join(keys, ",").alias("orderkeys_csv"),
        )
    )


_ARRAY_OPS_ORACLE = """
SELECT vec_id,
       len(embedding) AS dim,
       embedding[1] AS first_elem,
       list_max(embedding) AS vmax,
       list_min(embedding) AS vmin,
       list_sort(embedding)[1] AS sorted_first
FROM embeddings
"""


@query("scalar_array_ops", oracle=_ARRAY_OPS_ORACLE)
def scalar_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar functions over the embedding column (size / index /
    min / max / sort) — all codegen'd, no UDF."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_elem"),
        F.array_max("embedding").alias("vmax"),
        F.array_min("embedding").alias("vmin"),
        F.element_at(F.array_sort("embedding"), 1).alias("sorted_first"),
    )


_SALTED_AGG_ORACLE = """
SELECT event_type,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       count(*) AS n_events,
       CAST(min(event_id) AS BIGINT) AS min_event_id,
       CAST(max(event_id) AS BIGINT) AS max_event_id
FROM events GROUP BY event_type
"""


@query("agg_salted_hot_keys", oracle=_SALTED_AGG_ORACLE)
def agg_salted_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key aggregation through :func:`operators.skew.salted_agg`:
    ``event_type`` has ~5 values, so at 100 TB one reducer would own each
    key's entire partition. The salted form spreads every key over 16
    partial groups (first shuffle on (key, salt)), then merges 16 rows
    per key (second shuffle) — identical algebraic result, no single-task
    hot spot. Decimal routing keeps the double sum exact under either
    grouping, so the oracle (a plain GROUP BY) hash-matches."""
    from extract_transform_load_template_multidb_spark.operators.skew import (
        salted_agg,
    )
    from extract_transform_load_template_multidb_spark.queries._util import (
        DEC,
    )

    ev = load_table(spark, sf_dir, "events")
    return salted_agg(
        ev,
        keys=["event_type"],
        partial_aggs=[
            F.sum(F.col("value").cast(DEC)).alias("__psum"),
            F.count(F.lit(1)).alias("__pcnt"),
            F.min("event_id").alias("__pmin"),
            F.max("event_id").alias("__pmax"),
        ],
        merge_aggs=[
            F.sum("__psum").cast("double").alias("sum_value"),
            F.sum("__pcnt").alias("n_events"),
            F.min("__pmin").alias("min_event_id"),
            F.max("__pmax").alias("max_event_id"),
        ],
        salt_from=["event_id"],
        n_salts=16,
    )


_MAP_OPS_ORACLE = """
SELECT user_id,
       CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
       CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
           AS n_click,
       CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT)
           AS n_purchase
FROM events GROUP BY user_id
"""


@query("scalar_map_ops", oracle=_MAP_OPS_ORACLE)
def scalar_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column functions: build a per-user event_type→count map
    with ``map_from_entries``, then read it back with ``size``/
    ``element_at`` — all JVM map expressions (maps themselves never leave
    the plan: the driver compare can't hash them, and a map column in a
    100 TB sink is an anti-pattern anyway; project scalars out). One
    two-key shuffle + one user-key shuffle, both partial-aggregated.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    maps = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))
        ).alias("m")
    )
    return maps.select(
        "user_id",
        F.size(F.map_keys(F.col("m"))).cast("long").alias("n_types"),
        F.coalesce(F.element_at("m", F.lit("click")), F.lit(0))
        .cast("long")
        .alias("n_click"),
        F.coalesce(F.element_at("m", F.lit("purchase")), F.lit(0))
        .cast("long")
        .alias("n_purchase"),
    )


# ---------------------------------------------------------------------------
# Z-order layout (round 5): the Morton code itself, oracle-checked
# ---------------------------------------------------------------------------

from extract_transform_load_template_multidb_spark.operators import (  # noqa: E402
    layout as ly,
)

_Z_BITS = 12


def _z_interleave_sql(bu: str, bt: str, bits: int) -> str:
    terms = []
    for j in range(bits):
        terms.append(f"((({bu} >> {j}) & 1) << {j * 2})")
        terms.append(f"((({bt} >> {j}) & 1) << {j * 2 + 1})")
    return " + ".join(terms)


_ZVALUE_ORACLE = f"""
WITH zb AS (
    SELECT min(user_id) AS ulo, max(user_id) AS uhi,
           min(epoch_us(ts)) AS tlo, max(epoch_us(ts)) AS thi
    FROM events
),
zs AS (
    SELECT event_id,
           greatest(0, least({(1 << _Z_BITS) - 1},
               ((user_id - zb.ulo) * {(1 << _Z_BITS) - 1})
                   // greatest(zb.uhi - zb.ulo, 1))) AS bu,
           greatest(0, least({(1 << _Z_BITS) - 1},
               ((epoch_us(ts) - zb.tlo) * {(1 << _Z_BITS) - 1})
                   // greatest(zb.thi - zb.tlo, 1))) AS bt
    FROM events, zb
)
SELECT event_id,
       CAST({_z_interleave_sql("bu", "bt", _Z_BITS)} AS BIGINT) AS zval
FROM zs
"""


@query("layout_zvalue_events", oracle=_ZVALUE_ORACLE)
def layout_zvalue_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-value per event over (user_id, ts) — the integer-exact
    clustering key behind ``operators/layout.py:zorder_write`` (Delta/
    Iceberg OPTIMIZE ZORDER BY semantics): bucketize each dimension to
    2^12 with integer-division normalization, interleave the bits with
    shifts/ors. Pure whole-stage-codegen expressions; the write path
    range-partitions on this key so every interleaved column gets bounded
    per-file min/max spans (locality proven in tests/test_layout.py)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    return ly.with_z_value(ev, ["user_id", "ts"], bits=_Z_BITS).select(
        "event_id", F.col("__z").alias("zval")
    )


_DIST_MEDIAN_ORACLE = """
WITH clean AS (
    SELECT event_type, event_id, value
    FROM events WHERE value IS NOT NULL AND NOT isnan(value)
),
r AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM clean
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n,
       (max(CASE WHEN rn = (n + 1) // 2 THEN value END)
        + max(CASE WHEN rn = (n + 2) // 2 THEN value END)) / 2
           AS median_value
FROM r GROUP BY event_type
"""


@query("agg_exact_median_distributed", oracle=_DIST_MEDIAN_ORACLE)
def agg_exact_median_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT grouped median with no per-group materialization — the
    scale-safe alternative the ``pyfunc_grouped_median`` docstring points
    to: rank rows in-place with a window (one shuffle keyed by group;
    the sort is per-partition, never global), pick the middle one/two
    positions by rank, midpoint-average for even counts. Works for 5
    groups × 20 TB where groupBy().applyInPandas would pin each group on
    one executor; the window/groupBy pair reuses a single exchange
    (plan-pinned). NaN/NULL values are excluded up front so the order
    statistic is defined identically on every engine."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & ~F.isnan("value")
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .alias("n"),
    )
    lo = F.expr("(n + 1) div 2")
    hi = F.expr("(n + 2) div 2")
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        (
            (
                F.max(F.when(F.col("rn") == lo, F.col("value")))
                + F.max(F.when(F.col("rn") == hi, F.col("value")))
            )
            / 2
        ).alias("median_value"),
    )


_ASOF_TOL_ORACLE = """
WITH r AS (
    SELECT o_custkey, o_orderdate,
           count(*) AS n_orders_day,
           max(o_orderkey) AS last_orderkey
    FROM orders GROUP BY o_custkey, o_orderdate
)
SELECT e.event_id, e.user_id, e.ts,
       CASE WHEN r.o_orderdate IS NOT NULL
                 AND date_diff('day', r.o_orderdate, CAST(e.ts AS DATE)) <= 7
            THEN r.last_orderkey END AS last_orderkey,
       CASE WHEN r.o_orderdate IS NOT NULL
                 AND date_diff('day', r.o_orderdate, CAST(e.ts AS DATE)) <= 7
            THEN r.n_orders_day END AS n_orders_day
FROM events e
ASOF LEFT JOIN r ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
"""


@query("join_asof_tolerance", oracle=_ASOF_TOL_ORACLE)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join with a 7-day staleness bound — the market-data /
    feature-store variant: a match older than the tolerance is stale and
    reads as NULL instead. Same union + window carry-forward single
    shuffle as the unbounded as-of; the bound is a row-local post-carry
    predicate, so the 100 TB cost is unchanged."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    day_orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.count(F.lit(1)).alias("n_orders_day"),
            F.max("o_orderkey").alias("last_orderkey"),
        )
    )
    return tp.asof_join(
        ev,
        day_orders,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=("last_orderkey", "n_orders_day"),
        tolerance_days=7,
    )


_FUNNEL_ORACLE = """
WITH w AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t1
    FROM events
),
w1 AS (SELECT DISTINCT user_id, t1 FROM w),
w2 AS (
    SELECT e.user_id, w1.t1,
           min(CASE WHEN e.event_type = 'click' AND e.ts > w1.t1
                    THEN e.ts END) AS t2
    FROM events e JOIN w1 USING (user_id)
    GROUP BY e.user_id, w1.t1
),
w3 AS (
    SELECT e.user_id, w2.t1, w2.t2,
           min(CASE WHEN e.event_type = 'purchase' AND e.ts > w2.t2
                    THEN e.ts END) AS t3
    FROM events e JOIN w2 USING (user_id)
    GROUP BY e.user_id, w2.t1, w2.t2
)
SELECT CAST(count(CASE WHEN t1 IS NOT NULL THEN 1 END) AS BIGINT)
           AS n_step_view,
       CAST(count(CASE WHEN t2 IS NOT NULL THEN 1 END) AS BIGINT)
           AS n_step_click,
       CAST(count(CASE WHEN t3 IS NOT NULL THEN 1 END) AS BIGINT)
           AS n_step_purchase
FROM w3
"""


@query("window_funnel_steps", oracle=_FUNNEL_ORACLE)
def window_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users whose earliest 'view' precedes a 'click'
    that precedes a 'purchase' — per-step completion counts with strict
    event-order semantics (a purchase before the click does not count).

    Plan shape: all three conditional step-minima ride windows over the
    SAME user partition, so Catalyst plans one exchange keyed by user_id
    and three Window/aggregate levels on top — never a per-step self-join
    of the fact table (3 corpus shuffles at 100 TB) and never a per-user
    event-array materialization (unbounded per-user state)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    w = Window.partitionBy("user_id")
    t1 = F.min(
        F.when(F.col("event_type") == "view", F.col("ts"))
    ).over(w)
    step1 = ev.withColumn("t1", t1)
    t2 = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
            F.col("ts"),
        )
    ).over(w)
    step2 = step1.withColumn("t2", t2)
    t3 = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("t2")),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        step2.withColumn("t3", t3)
        .groupBy("user_id")
        .agg(
            F.max("t1").alias("t1"),
            F.max("t2").alias("t2"),
            F.max("t3").alias("t3"),
        )
    )
    return per_user.agg(
        F.count(F.when(F.col("t1").isNotNull(), 1))
        .cast("long")
        .alias("n_step_view"),
        F.count(F.when(F.col("t2").isNotNull(), 1))
        .cast("long")
        .alias("n_step_click"),
        F.count(F.when(F.col("t3").isNotNull(), 1))
        .cast("long")
        .alias("n_step_purchase"),
    )


_SALTED_JOIN_ORACLE = """
WITH dim AS (
    SELECT event_type, COUNT(*) AS type_count FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, d.type_count
FROM events e JOIN dim d USING (event_type)
"""


@query("join_salted_skew", oracle=_SALTED_JOIN_ORACLE)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi-join through :func:`operators.skew.
    salted_broadcast_left`: ``event_type`` has ~5 values, so a plain
    shuffle join would put each key's entire fact side on one task. The
    salted form scatters the fact rows over 8 salts (deterministic hash
    of event_id) and replicates the 5-row dim 8× — every (key, salt)
    shuffle partition carries ~1/8 of a hot key. Identical result set to
    the plain join the oracle runs."""
    from extract_transform_load_template_multidb_spark.operators.skew import (
        salted_broadcast_left,
    )

    ev = load_table(spark, sf_dir, "events")
    fact = ev.select("event_id", "event_type")
    dim = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("type_count"))
    return salted_broadcast_left(
        fact, dim, "event_type", n_salts=8, salt_from=["event_id"]
    ).select("event_id", "event_type", "type_count")


_MODE_ORACLE = """
WITH counts AS (
    SELECT event_type, user_id, COUNT(*) AS cnt
    FROM events GROUP BY event_type, user_id
),
ranked AS (
    SELECT event_type, user_id, cnt,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY cnt DESC, user_id) AS rn
    FROM counts
)
SELECT event_type, user_id AS modal_user, cnt AS modal_count
FROM ranked WHERE rn = 1
"""


@query("agg_mode_per_group", oracle=_MODE_ORACLE)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group (most frequent user per event type,
    ties to the lowest user id): two map-side-combinable aggregations —
    count per (group, value), then lexicographic max of
    struct(cnt, -value) — with NO window function, so no per-group sort
    at scale (Spark's built-in ``mode`` is tie-nondeterministic and
    useless under hash verification)."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    best = counts.groupBy("event_type").agg(
        F.max(
            F.struct(F.col("cnt"), (-F.col("user_id")).alias("nid"))
        ).alias("b")
    )
    return best.select(
        "event_type",
        (-F.col("b.nid")).alias("modal_user"),
        F.col("b.cnt").alias("modal_count"),
    )


_NTILE_ORACLE = """
WITH spend AS (
    SELECT o_custkey AS custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS total_spend
    FROM orders GROUP BY o_custkey
)
SELECT custkey, total_spend,
       ntile(4) OVER (ORDER BY total_spend DESC, custkey) AS spend_quartile
FROM spend
"""


@query("window_ntile_quartiles", oracle=_NTILE_ORACLE)
def window_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend quartiles via ntile(4): decimal-routed spend sum,
    total-ordered ntile (ties on custkey) — the cohort-bucketing window
    shape. The global ORDER BY window is a single-partition sort by
    construction; at scale bucket by approx quantile cutpoints instead
    (the ntile form is for reporting-sized inputs like this per-customer
    rollup, |customers| ≪ |orders|)."""
    from extract_transform_load_template_multidb_spark.queries._util import (
        DEC,
    )

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias(
            "total_spend"
        )
    )
    w = Window.orderBy(F.col("total_spend").desc(), F.col("custkey"))
    return spend.select(
        "custkey", "total_spend", F.ntile(4).over(w).alias("spend_quartile")
    )


_PRANK_ORACLE = """
WITH spend AS (
    SELECT o_custkey AS custkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS total_spend
    FROM orders GROUP BY o_custkey
)
SELECT custkey, total_spend,
       percent_rank() OVER (ORDER BY total_spend, custkey) AS pct_rank,
       cume_dist() OVER (ORDER BY total_spend, custkey) AS cume
FROM spend
"""


@query("window_percent_rank_cume", oracle=_PRANK_ORACLE)
def window_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank + cume_dist over customer spend (total-ordered on
    (spend, custkey)) — the relative-standing window functions; both are
    rank/(n-1)-style exact rational-in-double expressions, so any engine
    agrees bit-for-bit on a total order."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        dsum(F.col("o_totalprice"), "total_spend")
    )
    w = Window.orderBy("total_spend", "custkey")
    return spend.select(
        "custkey",
        "total_spend",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# Regression moments as EXACT integer sums: y is quantized to 1e-3
# (floor(y*1000), the engine's QUANT_SCALE discipline — floor of the
# identical double is engine-portable where double->DECIMAL casts are
# not: Spark casts via the double's shortest string repr, DuckDB via the
# binary expansion, and x*y products land between 6dp grid points).
# Slope/intercept un-scale by 1000 at the end; Pearson corr is
# scale-invariant. The closed forms are then fixed-order double
# expressions over bit-identical exact sums.
_TREND_ORACLE = """
WITH pts AS (
    SELECT event_type,
           epoch_us(ts) // 1000000 AS x,
           CAST(floor(value * 1000) AS BIGINT) AS yq
    FROM events
    WHERE value IS NOT NULL AND isfinite(value) AND NOT isnan(value)
),
s AS (
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(yq AS DECIMAL(38,0))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * yq AS DECIMAL(38,0))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(yq * yq AS DECIMAL(38,0))) AS DOUBLE) AS syy
    FROM pts GROUP BY event_type
)
SELECT event_type, n,
       ((n * sxy - sx * sy) / (n * sxx - sx * sx)) / 1000 AS slope,
       ((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n) / 1000
           AS intercept,
       (n * sxy - sx * sy)
         / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS corr
FROM s
"""


@query("agg_linear_trend", oracle=_TREND_ORACLE)
def agg_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend of value over event time per event type
    (slope/intercept/Pearson corr) — the drift-detection aggregate. The
    five regression moments are exact integer sums over 1e-3-quantized
    values (one map-side combinable pass), and the closed-form results
    are fixed-order double expressions over them — bit-reproducible
    where the engines' built-in one-pass regr_*/corr aggregates are
    not."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    pts = ev.filter(
        v.isNotNull() & ~F.isnan(v) & (F.abs(v) != float("inf"))
    ).select(
        "event_type",
        F.expr("unix_micros(ts) div 1000000").alias("x"),
        F.floor(v * 1000).cast("long").alias("yq"),
    )
    DEC0 = "decimal(38,0)"
    s = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(DEC0)).cast("double").alias("sx"),
        F.sum(F.col("yq").cast(DEC0)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("yq")).cast(DEC0)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(DEC0)).cast("double").alias("sxx"),
        F.sum((F.col("yq") * F.col("yq")).cast(DEC0)).cast("double").alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = (
        F.col("n"), F.col("sx"), F.col("sy"),
        F.col("sxy"), F.col("sxx"), F.col("syy"),
    )
    slope_s = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "event_type",
        "n",
        (slope_s / 1000).alias("slope"),
        (((sy - slope_s * sx) / n) / 1000).alias("intercept"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("corr"),
    )


_BOOL_AGG_ORACLE = """
SELECT user_id,
       bool_and(value >= 0) AS all_nonneg,
       bool_or(event_type = 'error') AS any_error,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
           AS n_purchases
FROM events
WHERE user_id IS NOT NULL AND NOT isnan(value) AND isfinite(value)
GROUP BY user_id
"""


@query("agg_bool_flags", oracle=_BOOL_AGG_ORACLE)
def agg_bool_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregates (every/any) + conditional count per user — the
    flag-rollup shape of audit queries; one map-side-combinable pass."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    return (
        ev.filter(
            F.col("user_id").isNotNull()
            & ~F.isnan(v)
            & (F.abs(v) != float("inf"))
        )
        .groupBy("user_id")
        .agg(
            F.every(v >= 0).alias("all_nonneg"),
            F.some((F.col("event_type") == "error")).alias("any_error"),
            F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
        )
    )


_ATTRIBUTION_ORACLE = """
WITH stream AS (
    SELECT user_id, event_id, ts,
           last_value(CASE WHEN event_type = 'click' THEN event_id END
                      IGNORE NULLS) OVER w AS click_id,
           last_value(CASE WHEN event_type = 'click' THEN ts END
                      IGNORE NULLS) OVER w AS click_ts,
           event_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT user_id, event_id AS purchase_id, ts AS purchase_ts,
       click_id, click_ts,
       CAST(epoch_us(ts) - epoch_us(click_ts) AS BIGINT) AS lag_us
FROM stream
WHERE event_type = 'purchase'
  AND click_ts IS NOT NULL
  AND epoch_us(ts) - epoch_us(click_ts) <= 1800 * 1000000
"""


@query("window_last_touch_attribution", oracle=_ATTRIBUTION_ORACLE)
def window_last_touch_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch attribution: each purchase credits the most recent
    click by the same user within 30 minutes. Single-sort formulation —
    a strictly-historical IGNORE NULLS running window carries the last
    click along the per-user event stream, so attribution needs NO
    self-join (the naive event×event range join is quadratic in bursty
    users; this is one exchange + one sort, linear per key)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_id = F.when(F.col("event_type") == "click", F.col("event_id"))
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    stream = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.last(click_id, ignorenulls=True).over(w).alias("click_id"),
        F.last(click_ts, ignorenulls=True).over(w).alias("click_ts"),
    )
    lag_us = F.unix_micros("ts") - F.unix_micros("click_ts")
    return stream.where(
        (F.col("event_type") == "purchase")
        & F.col("click_ts").isNotNull()
        & (lag_us <= 1800 * 1_000_000)
    ).select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        "click_id",
        "click_ts",
        lag_us.cast("long").alias("lag_us"),
    )


_SKEW_KURT_ORACLE = """
WITH s AS (
    SELECT event_type,
           CAST(count(value) AS DOUBLE) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2,
           CAST(SUM(CAST(value * value * value AS DECIMAL(38,6)))
                AS DOUBLE) AS s3,
           CAST(SUM(CAST(value * value * value * value AS DECIMAL(38,6)))
                AS DOUBLE) AS s4
    FROM events
    WHERE NOT isnan(value) AND isfinite(value)
    GROUP BY event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n,
       s1 / n AS mean_val,
       round((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n)
            * (s1 / n))
         / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness,
       round((s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n)
            * (s2 / n) - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
         / pow(s2 / n - (s1 / n) * (s1 / n), 2.0) - 3, 6)
           AS excess_kurtosis
FROM s
"""


@query("agg_skew_kurtosis", oracle=_SKEW_KURT_ORACLE)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis per group from raw power
    sums (Σv..Σv⁴ decimal-routed, so the one-pass moments are
    order-independent and bit-reproducible; the closed-form combination
    is scalar double math quantized to 6 decimals — last-ulp decimal→
    double cast drift between engines is below the quantum). One
    map-side-combinable aggregate — the distribution-shape profile a data
    steward reads next to mean/std. At 100 TB identical plan: partial
    power sums merge associatively."""
    ev = load_table(spark, sf_dir, "events").filter(
        ~F.isnan("value")
        & ~F.col("value").isin(float("inf"), float("-inf"))
    )
    v = F.col("value")
    s = ev.groupBy("event_type").agg(
        F.count(v).cast("double").alias("n"),
        F.sum(v.cast("decimal(38,6)")).cast("double").alias("s1"),
        F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("s2"),
        F.sum((v * v * v).cast("decimal(38,6)")).cast("double").alias("s3"),
        F.sum((v * v * v * v).cast("decimal(38,6)"))
        .cast("double")
        .alias("s4"),
    )
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mean = s1 / n
    m2 = s2 / n - mean * mean
    skew = (s3 / n - 3 * mean * (s2 / n) + 2 * mean * mean * mean) / F.pow(
        m2, 1.5
    )
    kurt = (
        s4 / n
        - 4 * mean * (s3 / n)
        + 6 * mean * mean * (s2 / n)
        - 3 * mean * mean * mean * mean
    ) / F.pow(m2, 2.0) - 3
    return s.select(
        "event_type",
        n.cast("long").alias("n"),
        mean.alias("mean_val"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
    )


_CORR_ORACLE = """
WITH s AS (
    SELECT l_returnflag,
           CAST(count(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS sy,
           CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
                AS DOUBLE) AS sxy,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
                AS DOUBLE) AS sxx,
           CAST(SUM(CAST(l_extendedprice * l_extendedprice
                         AS DECIMAL(38,6))) AS DOUBLE) AS syy
    FROM lineitem
    GROUP BY l_returnflag
)
SELECT l_returnflag,
       CAST(n AS BIGINT) AS n,
       round((sxy - sx * sy / n)
         / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 6)
           AS corr_qty_price
FROM s
"""


@query("agg_corr_per_group", oracle=_CORR_ORACLE)
def agg_corr_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group from decimal-routed cross moments
    (Σx, Σy, Σxy, Σx², Σy²) — the bit-reproducible form of ``corr()``
    (the builtin's double accumulation is merge-order-dependent and
    cannot hash-match an oracle run); the final scalar is quantized to 6
    decimals to absorb last-ulp cast drift. Same one-pass, partial-merge
    plan shape as the builtin."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x.cast("decimal(38,6)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(38,6)")).cast("double").alias("sy"),
        F.sum((x * y).cast("decimal(38,6)")).cast("double").alias("sxy"),
        F.sum((x * x).cast("decimal(38,6)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(38,6)")).cast("double").alias("syy"),
    )
    n = F.col("n")
    corr = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (
        F.sqrt(F.col("sxx") - F.col("sx") * F.col("sx") / n)
        * F.sqrt(F.col("syy") - F.col("sy") * F.col("sy") / n)
    )
    return s.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        F.round(corr, 6).alias("corr_qty_price"),
    )


_ENTROPY_ORACLE = """
WITH c AS (
    SELECT user_id, event_type, count(*) AS k
    FROM events GROUP BY user_id, event_type
),
tot AS (
    SELECT user_id, CAST(SUM(k) AS BIGINT) AS n FROM c GROUP BY user_id
)
SELECT c.user_id,
       any_value(t.n) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CAST(-k * round(
               ln(CAST(k AS DOUBLE) / t.n), 6
           ) AS DECIMAL(38,6))) AS DOUBLE) / t.n AS entropy_nats
FROM c JOIN tot t USING (user_id)
GROUP BY c.user_id, t.n
"""


@query("agg_entropy_categorical", oracle=_ENTROPY_ORACLE)
def agg_entropy_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioural-diversity / data-mixing signal (a user or corpus source
    with near-zero entropy is one-note; training mixtures target high
    aggregate entropy). ln() outputs are quantized to 6 decimals then
    decimal-summed, the same portability discipline as the LM-scoring
    queries, so the aggregate is order-independent and hash-stable. Two
    map-side-combinable aggregations on one user_id exchange."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("k")
    )
    w = Window.partitionBy("user_id")
    c = c.withColumn("n", F.sum("k").over(w).cast("long"))
    term = (
        -F.col("k")
        * F.round(F.log(F.col("k").cast("double") / F.col("n")), 6)
    ).cast("decimal(38,6)")
    return c.groupBy("user_id", "n").agg(
        F.any_value("n").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        (F.sum(term).cast("double") / F.col("n")).alias("entropy_nats"),
    ).drop("n")


_VARIANT_ORACLE = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CASE WHEN json_valid(props) THEN 'OBJECT<k: BIGINT>' END
           AS variant_schema,
       CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod
FROM events
"""


@query("scalar_variant_ops", oracle=_VARIANT_ORACLE)
def scalar_variant_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT surface: ``parse_json`` to the binary
    semi-structured type, typed path extraction with ``variant_get``,
    runtime schema inference with ``schema_of_variant`` — the
    shred-on-read column that replaces string-JSON re-parsing per
    expression (VARIANT parses once per row; three json_extract calls
    on a string column parse three times). The oracle reproduces the
    extracted VALUES with plain JSON functions — what's checked is the
    extraction semantics, not the binary encoding."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    return ev.select(
        "event_id",
        F.variant_get(v, "$.k", "bigint").alias("k"),
        F.schema_of_variant(v).alias("variant_schema"),
        (F.variant_get(v, "$.k", "bigint") % 10).alias("k_mod"),
    )


_HLL_MERGE_ORACLE = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS merged_within_tol
FROM events
GROUP BY event_type
"""


@query("agg_hll_sketch_merge", oracle=_HLL_MERGE_ORACLE)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch storage: per-DAY DataSketches HLL binaries
    (``hll_sketch_agg``) unioned into a per-type total
    (``hll_union_agg``) whose estimate must land within 5% of the exact
    distinct count. This is the property `approx_count_distinct` alone
    doesn't give you: the sketch BINARY is a storable, re-mergeable
    partial — daily sketches roll up to monthly without rescanning
    history (the sketch form of etl_mv_incremental_refresh). Estimates
    are engine-specific, so the oracle checks a tolerance verdict plus
    the hash-anchored exact count (the agg_approx_sketches pattern)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.hll_sketch_agg("user_id").alias("sketch"),
        F.count_distinct("user_id").alias("day_users"),
    )
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
            "merged_estimate"
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(
                F.col("merged_estimate") - F.col("exact_users")
            )
            / F.col("exact_users")
            <= 0.05
        ).alias("merged_within_tol"),
    )


_TIME_TO_PURCHASE_ORACLE = """
WITH stream AS (
    SELECT user_id, event_id, ts, event_type,
           first_value(CASE WHEN event_type = 'purchase' THEN ts END
                       IGNORE NULLS) OVER w AS next_purchase_ts
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT user_id, event_id AS view_id, ts AS view_ts, next_purchase_ts,
       CAST(epoch_us(next_purchase_ts) - epoch_us(ts) AS BIGINT)
           AS lead_us
FROM stream
WHERE event_type = 'view' AND next_purchase_ts IS NOT NULL
"""


@query("window_time_to_purchase", oracle=_TIME_TO_PURCHASE_ORACLE)
def window_time_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-looking attribution: for every product view, the time
    until the same user's NEXT purchase (any horizon) — the
    time-to-convert distribution input. The mirror of
    window_last_touch_attribution: one strictly-future IGNORE NULLS
    window carries the next purchase along the per-user stream, no
    self-join, one key exchange."""
    ev = load_table(spark, sf_dir, "events")
    # first_value over a strictly-future (1, unboundedFollowing) frame is
    # a shrinking frame Spark re-aggregates per row — O(n²) per user.
    # The reversed-order running form is value-identical ((ts, event_id)
    # is a total order) and incremental O(n); see ts_interpolate_linear.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    p_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    stream = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.last(p_ts, ignorenulls=True).over(w).alias("next_purchase_ts"),
    )
    return stream.where(
        (F.col("event_type") == "view")
        & F.col("next_purchase_ts").isNotNull()
    ).select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
        "next_purchase_ts",
        (
            F.unix_micros("next_purchase_ts") - F.unix_micros("ts")
        ).cast("long").alias("lead_us"),
    )


_SHARE_OF_PARENT_ORACLE = """
WITH rev AS (
    SELECT r.r_name AS region, n.n_name AS nation,
           SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS nation_rev_dec
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, n.n_name
)
SELECT region, nation,
       CAST(nation_rev_dec AS DOUBLE) AS nation_rev,
       CAST(nation_rev_dec AS DOUBLE)
         / CAST(SUM(nation_rev_dec) OVER (PARTITION BY region) AS DOUBLE)
           AS share_of_region
FROM rev
"""


@query("window_share_of_parent", oracle=_SHARE_OF_PARENT_ORACLE)
def window_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent: each nation's revenue as a fraction
    of its region's total — the drill-down ratio every BI rollup needs,
    computed as a window sum over the already-aggregated level (25
    nations — the window costs nothing; the heavy work is the one
    fact-side aggregation with broadcast dimension joins). Revenue stays
    DECIMAL through the window sum (a double window accumulation would be
    merge-order-dependent); only the final ratio is a scalar double
    division."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias(
                "nation_rev_dec"
            )
        )
    )
    w = Window.partitionBy("region")
    return rev.select(
        "region",
        "nation",
        F.col("nation_rev_dec").cast("double").alias("nation_rev"),
        (
            F.col("nation_rev_dec").cast("double")
            / F.sum("nation_rev_dec").over(w).cast("double")
        ).alias("share_of_region"),
    )


_PARETO_ORACLE = """
WITH rev AS (
    SELECT o_custkey,
           SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS r
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT r,
           SUM(r) OVER (ORDER BY r DESC, o_custkey
                        ROWS UNBOUNDED PRECEDING) AS cum_r,
           SUM(r) OVER () AS total_r,
           row_number() OVER (ORDER BY r DESC, o_custkey) AS i,
           COUNT(*) OVER () AS n
    FROM rev
)
SELECT CAST(any_value(n) AS BIGINT) AS n_customers,
       CAST(min(CASE WHEN cum_r >= total_r * 0.8 THEN i END) AS BIGINT)
           AS n_top_for_80pct,
       CAST(min(CASE WHEN cum_r >= total_r * 0.8 THEN i END) AS DOUBLE)
         / any_value(n) AS top_fraction
FROM ranked
"""


@query("window_pareto_concentration", oracle=_PARETO_ORACLE)
def window_pareto_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pareto concentration: how few customers produce 80% of revenue —
    the 80/20 check behind account prioritization and skew planning (a
    tiny n_top_for_80pct also predicts hot-key trouble in any
    customer-keyed shuffle). Per-customer decimal revenue, one ordered
    running sum with a deterministic tiebreak, and the threshold rank;
    all comparisons in exact DECIMAL (total·0.8 included), only the
    final fraction is a double."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("r")
    )
    w_cum = (
        W.orderBy(F.col("r").desc(), F.col("o_custkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy()
    ranked = rev.select(
        F.sum("r").over(w_cum).alias("cum_r"),
        F.sum("r").over(w_all).alias("total_r"),
        F.row_number()
        .over(W.orderBy(F.col("r").desc(), F.col("o_custkey")))
        .alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    hit = F.when(
        F.col("cum_r") >= F.col("total_r") * 0.8, F.col("i")
    )
    return ranked.agg(
        F.any_value("n").cast("long").alias("n_customers"),
        F.min(hit).cast("long").alias("n_top_for_80pct"),
        (
            F.min(hit).cast("double")
            / F.any_value("n").cast("double")
        ).alias("top_fraction"),
    )


_AFFINITY_ORACLE = """
WITH ut AS (
    SELECT DISTINCT user_id, event_type FROM events
),
counts AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM ut GROUP BY event_type
),
tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_both
    FROM ut a
    JOIN ut b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY a.event_type, b.event_type
)
SELECT p.type_a, p.type_b, p.n_both, ca.n_users AS n_a, cb.n_users AS n_b,
       CAST(p.n_both AS DOUBLE) * t.n
         / (CAST(ca.n_users AS DOUBLE) * cb.n_users) AS lift
FROM pairs p
JOIN counts ca ON ca.event_type = p.type_a
JOIN counts cb ON cb.event_type = p.type_b
CROSS JOIN tot t
"""


@query("agg_type_affinity_lift", oracle=_AFFINITY_ORACLE)
def agg_type_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity over event types: for every type pair, the
    users doing both and the LIFT (observed co-occurrence over the
    independence expectation, >1 = affinity) — association mining's core
    statistic as a self-join on the distinct (user, type) set, which at
    5 types is at most 10 pairs out of the aggregation. Integer-exact
    counts; lift is one scalar double expression."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    counts = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_users")
    )
    tot = ev.agg(F.count_distinct("user_id").alias("n"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    ca = counts.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    cb = counts.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ca), "type_a")
        .join(F.broadcast(cb), "type_b")
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            (
                F.col("n_both").cast("double") * F.col("n")
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
    )


_NORMALIZE_ORACLE = """
WITH finite AS (
    SELECT event_id, event_type, value FROM events
    WHERE NOT isnan(value) AND isfinite(value)
),
stats AS (
    SELECT event_type,
           min(value) AS vmin, max(value) AS vmax,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2
    FROM finite GROUP BY event_type
)
SELECT f.event_id, f.event_type, f.value,
       (f.value - vmin) / (vmax - vmin) AS minmax_scaled,
       round((f.value - s1 / n)
         / sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS zscore
FROM finite f JOIN stats USING (event_type)
"""


@query("feature_normalize_per_group", oracle=_NORMALIZE_ORACLE)
def feature_normalize_per_group(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Feature normalization, the ML-preprocessing staple: per-group
    min-max scaling and z-scores in one pass — a broadcast 5-row stats
    table mapped back over the stream (the fact side never shuffles).
    Moments are decimal-routed; z-scores quantize to 6 decimals (the
    engine-portability discipline), min-max is exact scalar IEEE."""
    ev = load_table(spark, sf_dir, "events")
    finite = ev.where(
        ~F.isnan("value")
        & ~F.col("value").isin(float("inf"), float("-inf"))
    ).select("event_id", "event_type", "value")
    stats = finite.groupBy("event_type").agg(
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("double")
        .alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(38,6)"))
        .cast("double")
        .alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    z = (F.col("value") - s1 / n) / F.sqrt(
        (s2 - s1 * s1 / n) / (n - 1)
    )
    return finite.join(F.broadcast(stats), "event_type").select(
        "event_id",
        "event_type",
        "value",
        (
            (F.col("value") - F.col("vmin"))
            / (F.col("vmax") - F.col("vmin"))
        ).alias("minmax_scaled"),
        F.round(z, 6).alias("zscore"),
    )


_WMEDIAN_ORACLE = """
WITH w AS (
    SELECT l_returnflag, l_extendedprice AS price,
           CAST(l_quantity AS BIGINT) AS wt
    FROM lineitem
),
cum AS (
    SELECT l_returnflag, price, wt,
           SUM(wt) OVER (PARTITION BY l_returnflag
                         ORDER BY price, wt
                         ROWS UNBOUNDED PRECEDING) AS cum_wt,
           SUM(wt) OVER (PARTITION BY l_returnflag) AS total_wt
    FROM w
)
SELECT l_returnflag,
       CAST(any_value(total_wt) AS BIGINT) AS total_weight,
       min(CASE WHEN 2 * cum_wt >= total_wt THEN price END)
           AS weighted_median_price
FROM cum
GROUP BY l_returnflag
"""


@query("agg_weighted_median", oracle=_WMEDIAN_ORACLE)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median: the price at which half the total QUANTITY
    (not half the rows) lies below — the volume-weighted central price a
    plain median misstates whenever line sizes vary. Ordered running
    weight sum per group with a deterministic (price, weight) order,
    threshold at 2·cum ≥ total in pure integer arithmetic — no doubles
    anywhere until the answer itself, which is a data value."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("long").alias("wt"),
    )
    w_cum = (
        W.partitionBy("l_returnflag")
        .orderBy("price", "wt")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("l_returnflag")
    cum = li.select(
        "l_returnflag",
        "price",
        F.sum("wt").over(w_cum).alias("cum_wt"),
        F.sum("wt").over(w_all).alias("total_wt"),
    )
    hit = F.when(
        2 * F.col("cum_wt") >= F.col("total_wt"), F.col("price")
    )
    return cum.groupBy("l_returnflag").agg(
        F.any_value("total_wt").cast("long").alias("total_weight"),
        F.min(hit).alias("weighted_median_price"),
    )


_ORDER_GAP_ORACLE = """
WITH gaps AS (
    SELECT o_custkey,
           datediff('day',
                    lag(o_orderdate) OVER (
                        PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey),
                    o_orderdate) AS gap_days
    FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(min(gap_days) AS BIGINT) AS min_gap,
       quantile_cont(CAST(gap_days AS DOUBLE), 0.5) AS p50_gap,
       quantile_cont(CAST(gap_days AS DOUBLE), 0.9) AS p90_gap,
       CAST(max(gap_days) AS BIGINT) AS max_gap
FROM gaps WHERE gap_days IS NOT NULL
"""


@query("ts_inter_order_gaps", oracle=_ORDER_GAP_ORACLE)
def ts_inter_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution: day gaps between each
    customer's consecutive orders, summarized by exact percentiles — the
    repurchase-cycle profile behind replenishment forecasts and
    dormancy thresholds (q22's 'dormant' cutoff should come from THIS
    distribution, not a guess). Integer day gaps from one per-customer
    window; the summary is a single global aggregate."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days")
    ).where(F.col("gap_days").isNotNull())
    # One global group: F.percentile here would buffer every distinct
    # gap count on the single final reducer. The running-count selector
    # collapses to ~hundreds of distinct day-gaps map-side and returns
    # n/min/max from the same pass.
    return exact_percentiles(
        gaps,
        [],
        "gap_days",
        {"p50_gap": 0.5, "p90_gap": 0.9},
        extras={"n_gaps": "n", "min_gap": "min", "max_gap": "max"},
    ).select(
        "n_gaps",
        F.col("min_gap").cast("long").alias("min_gap"),
        "p50_gap",
        "p90_gap",
        F.col("max_gap").cast("long").alias("max_gap"),
    )


_MEANS_ORACLE = """
WITH pos AS (
    SELECT event_type, value FROM events
    WHERE NOT isnan(value) AND isfinite(value) AND value > 0
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(exp(CAST(SUM(CAST(round(ln(value), 6) AS DECIMAL(38,6)))
                      AS DOUBLE) / COUNT(*)), 6) AS geometric_mean,
       COUNT(*) / CAST(SUM(CAST(round(1.0 / value, 6) AS DECIMAL(38,6)))
                       AS DOUBLE) AS harmonic_mean
FROM pos
GROUP BY event_type
"""


@query("agg_geo_harmonic_means", oracle=_MEANS_ORACLE)
def agg_geo_harmonic_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic means per group — the right averages for
    ratios/growth factors and for rates, where the arithmetic mean
    overstates. Both are transforms of order-independent sums: ln() and
    reciprocals quantize to 6 decimals then accumulate in DECIMAL (the
    LM-scoring discipline), so the one-pass aggregate hash-matches the
    oracle; the final exp() is rounded to the 6-dp hash grid because
    libm and java.lang.Math legitimately disagree by 1 ulp (IEEE only
    mandates correct rounding for +-*/ and sqrt, not transcendentals).
    Positive finite values only — both means are undefined otherwise."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    pos = ev.where(
        ~F.isnan(v) & (F.abs(v) != float("inf")) & (v > 0)
    )
    ln_q = F.round(F.log(v), 6).cast("decimal(38,6)")
    inv_q = F.round(1.0 / v, 6).cast("decimal(38,6)")
    n = F.count(F.lit(1))
    return pos.groupBy("event_type").agg(
        n.alias("n"),
        F.round(F.exp(F.sum(ln_q).cast("double") / n), 6).alias(
            "geometric_mean"
        ),
        (n / F.sum(inv_q).cast("double")).alias("harmonic_mean"),
    )


_TRANSITIONS_ORACLE = """
WITH seq AS (
    SELECT o_custkey, o_orderstatus AS s,
           lead(o_orderstatus) OVER (
               PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS s_next
    FROM orders
),
trans AS (
    SELECT s AS from_status, s_next AS to_status,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE s_next IS NOT NULL
    GROUP BY s, s_next
),
totals AS (
    SELECT from_status, SUM(n) AS t FROM trans GROUP BY from_status
)
SELECT tr.from_status, tr.to_status, tr.n,
       CAST(tr.n AS DOUBLE) / tt.t AS p_transition
FROM trans tr JOIN totals tt USING (from_status)
"""


@query("window_status_transitions", oracle=_TRANSITIONS_ORACLE)
def window_status_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over order statuses: for each
    customer's consecutive orders, count (status → next status) and
    normalize per source state — the sequence model behind
    next-state prediction and anomaly scoring on lifecycle flows. One
    per-customer window + two tiny rollups; probabilities are scalar
    double divisions of exact counts."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = o.select(
        F.col("o_orderstatus").alias("from_status"),
        F.lead("o_orderstatus").over(w).alias("to_status"),
    ).where(F.col("to_status").isNotNull())
    trans = seq.groupBy("from_status", "to_status").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = trans.groupBy("from_status").agg(F.sum("n").alias("t"))
    return trans.join(F.broadcast(totals), "from_status").select(
        "from_status",
        "to_status",
        F.col("n").cast("long").alias("n"),
        (F.col("n").cast("double") / F.col("t")).alias("p_transition"),
    )


_ABC_ORACLE = """
WITH rev AS (
    SELECT l_partkey,
           SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS r
    FROM lineitem GROUP BY l_partkey
),
ranked AS (
    SELECT l_partkey, r,
           SUM(r) OVER (ORDER BY r DESC, l_partkey
                        ROWS UNBOUNDED PRECEDING) AS cum_r,
           SUM(r) OVER () AS total_r
    FROM rev
),
classed AS (
    SELECT l_partkey,
           CASE WHEN cum_r <= total_r * 0.80 THEN 'A'
                WHEN cum_r <= total_r * 0.95 THEN 'B'
                ELSE 'C' END AS abc_class,
           r
    FROM ranked
)
SELECT abc_class,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(r) AS DOUBLE) AS class_revenue
FROM classed GROUP BY abc_class
"""


@query("window_abc_classification", oracle=_ABC_ORACLE)
def window_abc_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ABC inventory classification: parts banded by cumulative revenue
    share (A ≤ 80%, B ≤ 95%, C rest) — the stock-priority segmentation
    warehouses run monthly. The running share uses DECIMAL cumulative
    sums over a deterministic (revenue, key) order; class boundaries
    compare decimal·constant, and the only doubles are the reported
    class totals. The window runs over the per-part AGGREGATE (not the
    fact table) — at 100 TB that's the parts dimension, not lineitem."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias("r")
    )
    w_cum = (
        W.orderBy(F.col("r").desc(), F.col("l_partkey"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy()
    ranked = rev.select(
        "l_partkey",
        "r",
        F.sum("r").over(w_cum).alias("cum_r"),
        F.sum("r").over(w_all).alias("total_r"),
    )
    cls = (
        F.when(F.col("cum_r") <= F.col("total_r") * 0.80, "A")
        .when(F.col("cum_r") <= F.col("total_r") * 0.95, "B")
        .otherwise("C")
    )
    return ranked.select(cls.alias("abc_class"), "r").groupBy(
        "abc_class"
    ).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("r").cast("double").alias("class_revenue"),
    )


_COPURCHASE_ORACLE = """
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM op a
    JOIN op b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
)
SELECT part_a, part_b, n_orders
FROM pairs
WHERE n_orders >= 2
ORDER BY n_orders DESC, part_a, part_b
LIMIT 20
"""


@query("join_copurchase_part_pairs", oracle=_COPURCHASE_ORACLE)
def join_copurchase_part_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Co-purchase mining: part pairs appearing in the same order at
    least twice, top-20 — the 'frequently bought together' candidate
    join. The self-join keys on l_orderkey, so fan-out is bounded by
    lines-per-order squared (TPC-H ~4 lines → ~6 pairs per order), never
    corpus-quadratic; the top-20 plans as TakeOrderedAndProject with a
    total-order tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = copurchase_pairs(
        li, min_support=2, weight_col="n_orders", checkpoint=False
    )
    return pairs.orderBy(
        F.col("n_orders").desc(), F.col("part_a"), F.col("part_b")
    ).limit(20)


_RFM_ORACLE = """
WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
cust AS (
    SELECT o_custkey,
           datediff('day', max(o_orderdate), any_value(a.mx))
               AS recency_days,
           CAST(COUNT(*) AS BIGINT) AS frequency,
           SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS monetary
    FROM orders, anchor a
    GROUP BY o_custkey
),
scored AS (
    SELECT o_custkey,
           ntile(4) OVER (ORDER BY recency_days, o_custkey) AS r,
           ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS f,
           ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m
    FROM cust
)
SELECT CAST(r * 100 + f * 10 + m AS BIGINT) AS rfm_segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM scored GROUP BY r * 100 + f * 10 + m
"""


@query("agg_rfm_segments", oracle=_RFM_ORACLE)
def agg_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: customers quartiled on Recency / Frequency /
    Monetary (deterministic custkey tiebreaks; monetary stays DECIMAL
    so its ordering is exact) and bucketed into the classic 111–444
    segment codes — the CRM workhorse. Quartiling runs over the
    per-customer AGGREGATE; the segment rollup is a tiny count."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    cust = (
        o.crossJoin(F.broadcast(anchor))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.any_value("mx"), F.max("o_orderdate")).alias(
                "recency_days"
            ),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias(
                "monetary"
            ),
        )
    )
    r = F.ntile(4).over(W.orderBy("recency_days", "o_custkey"))
    f = F.ntile(4).over(
        W.orderBy(F.col("frequency").desc(), F.col("o_custkey"))
    )
    m = F.ntile(4).over(
        W.orderBy(F.col("monetary").desc(), F.col("o_custkey"))
    )
    scored = cust.select(
        (r * 100 + f * 10 + m).cast("long").alias("rfm_segment")
    )
    return scored.groupBy("rfm_segment").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


_PRICE_DISPERSION_ORACLE = """
WITH per_part AS (
    SELECT l_partkey,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           min(l_extendedprice / l_quantity) AS min_unit_price,
           max(l_extendedprice / l_quantity) AS max_unit_price
    FROM lineitem
    WHERE l_quantity > 0
    GROUP BY l_partkey
)
SELECT l_partkey, n_suppliers, min_unit_price, max_unit_price,
       max_unit_price / min_unit_price AS spread_ratio
FROM per_part
WHERE n_suppliers >= 3
ORDER BY max_unit_price / min_unit_price DESC, l_partkey
LIMIT 20
"""


@query("agg_part_price_dispersion", oracle=_PRICE_DISPERSION_ORACLE)
def agg_part_price_dispersion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Procurement price dispersion: per part sold by ≥3 suppliers, the
    unit-price min/max and spread ratio, top-20 widest — the
    negotiation-target list (a 3× spread on the same part is money on
    the table). Unit price is a row-local scalar division; min/max/
    distinct-count in one aggregate; top-20 plans as
    TakeOrderedAndProject with a key tiebreak."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity") > 0
    )
    unit = F.col("l_extendedprice") / F.col("l_quantity")
    per_part = li.groupBy("l_partkey").agg(
        F.count_distinct("l_suppkey").cast("long").alias("n_suppliers"),
        F.min(unit).alias("min_unit_price"),
        F.max(unit).alias("max_unit_price"),
    )
    return (
        per_part.where(F.col("n_suppliers") >= 3)
        .select(
            "l_partkey",
            "n_suppliers",
            "min_unit_price",
            "max_unit_price",
            (
                F.col("max_unit_price") / F.col("min_unit_price")
            ).alias("spread_ratio"),
        )
        .orderBy(F.col("spread_ratio").desc(), F.col("l_partkey"))
        .limit(20)
    )


_TRIG_ORACLE = """
SELECT event_id,
       round(sin(radians(value)), 6) AS sin_v,
       round(cos(radians(value)), 6) AS cos_v,
       round(atan2(value, 10.0), 6) AS atan2_v,
       round(degrees(atan(value / 100.0)), 6) AS angle_deg
FROM events
WHERE NOT isnan(value) AND isfinite(value)
"""


@query("scalar_trig_functions", oracle=_TRIG_ORACLE)
def scalar_trig_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigonometric scalar surface (sin/cos/atan2/degrees/radians) —
    the geo-bearing / phase-feature math. JVM Math and C libm differ in
    the last ulp for transcendentals, so outputs quantize to 6 decimals
    (same discipline as ln/pow elsewhere); everything stays in
    whole-stage codegen."""
    ev = load_table(spark, sf_dir, "events").where(
        ~F.isnan("value")
        & ~F.col("value").isin(float("inf"), float("-inf"))
    )
    v = F.col("value")
    return ev.select(
        "event_id",
        F.round(F.sin(F.radians(v)), 6).alias("sin_v"),
        F.round(F.cos(F.radians(v)), 6).alias("cos_v"),
        F.round(F.atan2(v, F.lit(10.0)), 6).alias("atan2_v"),
        F.round(F.degrees(F.atan(v / 100.0)), 6).alias("angle_deg"),
    )


_DENSITY2D_ORACLE = """
SELECT CAST(floor(l_quantity / 10) AS BIGINT) AS qty_bucket,
       CAST(floor(l_extendedprice / 10000) AS BIGINT) AS price_bucket,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
GROUP BY CAST(floor(l_quantity / 10) AS BIGINT),
         CAST(floor(l_extendedprice / 10000) AS BIGINT)
"""


@query("agg_density_grid_2d", oracle=_DENSITY2D_ORACLE)
def agg_density_grid_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D density grid over (quantity, extended price) — the binned
    heatmap a scatter plot becomes at 100 TB (plotting raw points is a
    driver collect; binning makes visualization a map-side-combinable
    aggregate whose output is the PLOT, not the data). floor-bucketing
    is exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.floor(F.col("l_quantity") / 10)
        .cast("long")
        .alias("qty_bucket"),
        F.floor(F.col("l_extendedprice") / 10000)
        .cast("long")
        .alias("price_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"))


_LORENZ_ORACLE = """
WITH rev AS (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS r
    FROM orders GROUP BY o_custkey
),
deciled AS (
    SELECT r, ntile(10) OVER (ORDER BY r, o_custkey) AS decile
    FROM rev
),
per_decile AS (
    SELECT decile, SUM(r) AS dr, CAST(COUNT(*) AS BIGINT) AS n_cust
    FROM deciled GROUP BY decile
),
tot AS (SELECT SUM(dr) AS t FROM per_decile)
SELECT CAST(decile AS BIGINT) AS decile, n_cust,
       CAST(dr AS DOUBLE) AS decile_revenue,
       CAST(SUM(dr) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
            AS DOUBLE) / CAST(t.t AS DOUBLE) AS cum_revenue_share
FROM per_decile, tot t
"""


@query("agg_lorenz_curve", oracle=_LORENZ_ORACLE)
def agg_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of customer revenue: cumulative revenue share at
    each population decile (poorest first) — the curve whose area gap IS
    the Gini, giving the shape behind curation_source_gini's single
    number. Deciles by ntile with deterministic tiebreaks; revenue stays
    DECIMAL through both the decile sums and the cumulative window, so
    only the reported shares are doubles."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("r")
    )
    deciled = rev.select(
        "r",
        F.ntile(10).over(W.orderBy("r", "o_custkey")).alias("decile"),
    )
    per_decile = deciled.groupBy("decile").agg(
        F.sum("r").alias("dr"), F.count(F.lit(1)).alias("n_cust")
    )
    tot = per_decile.agg(F.sum("dr").alias("t"))
    w = W.orderBy("decile").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return per_decile.crossJoin(F.broadcast(tot)).select(
        F.col("decile").cast("long").alias("decile"),
        "n_cust",
        F.col("dr").cast("double").alias("decile_revenue"),
        (
            F.sum("dr").over(w).cast("double")
            / F.col("t").cast("double")
        ).alias("cum_revenue_share"),
    )


_TOPK_SHARE_ORACLE = """
WITH tr AS (
    SELECT n_name,
           SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n_name
),
ranked AS (
    SELECT n_name, rev,
           row_number() OVER (ORDER BY rev DESC, n_name) AS rnk
    FROM tr
),
tot AS (SELECT SUM(rev) AS t FROM tr)
SELECT CASE WHEN rnk <= 5 THEN n_name ELSE 'OTHER' END AS nation_group,
       CAST(COUNT(*) AS BIGINT) AS n_nations,
       CAST(SUM(rev) AS DOUBLE) AS revenue,
       CAST(SUM(rev) AS DOUBLE) / CAST(any_value(t.t) AS DOUBLE)
           AS revenue_share
FROM ranked, tot t
GROUP BY CASE WHEN rnk <= 5 THEN n_name ELSE 'OTHER' END
"""


@query("agg_topn_with_other_rollup", oracle=_TOPK_SHARE_ORACLE)
def agg_topn_with_other_rollup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-N with OTHER rollup: the five highest-revenue nations named,
    everything else collapsed into one OTHER row with its share — the
    presentation aggregate every dashboard needs (a raw top-N silently
    drops the tail; OTHER keeps totals honest). Rank over the per-nation
    aggregate, conditional regroup, decimal-exact revenue."""
    from pyspark.sql import Window as W

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    tr = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias(
                "rev"
            )
        )
    )
    ranked = tr.select(
        "n_name",
        "rev",
        F.row_number()
        .over(W.orderBy(F.col("rev").desc(), F.col("n_name")))
        .alias("rnk"),
    )
    tot = tr.agg(F.sum("rev").alias("t"))
    grp = F.when(F.col("rnk") <= 5, F.col("n_name")).otherwise("OTHER")
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(grp.alias("nation_group"))
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.sum("rev").cast("double").alias("revenue"),
            (
                F.sum("rev").cast("double")
                / F.any_value("t").cast("double")
            ).alias("revenue_share"),
        )
    )


_DECILE_MIGRATION_ORACLE = """
WITH ra AS (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS r
    FROM orders WHERE o_orderdate < TIMESTAMP '1998-06-01'
    GROUP BY o_custkey
),
rb AS (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS r
    FROM orders WHERE o_orderdate >= TIMESTAMP '1998-06-01'
    GROUP BY o_custkey
),
da AS (
    SELECT o_custkey,
           ntile(5) OVER (ORDER BY r, o_custkey) AS q_before
    FROM ra
),
db AS (
    SELECT o_custkey,
           ntile(5) OVER (ORDER BY r, o_custkey) AS q_after
    FROM rb
)
SELECT CAST(q_before AS BIGINT) AS q_before,
       CAST(q_after AS BIGINT) AS q_after,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM da JOIN db USING (o_custkey)
GROUP BY q_before, q_after
"""


@query("window_decile_migration", oracle=_DECILE_MIGRATION_ORACLE)
def window_decile_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-quintile migration matrix: each customer's revenue quintile
    before vs after a period split — the up/down-grade flow behind churn
    and CLV narratives (the diagonal is stability; the lower triangle is
    declining accounts worth a call). Quintiles per period with
    deterministic tiebreaks on DECIMAL revenue; the matrix is one join +
    count over the per-customer aggregates."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-06-01").cast("timestamp")

    def quintiles(df: DataFrame, alias: str) -> DataFrame:
        rev = df.groupBy("o_custkey").agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("r")
        )
        return rev.select(
            "o_custkey",
            F.ntile(5)
            .over(W.orderBy("r", "o_custkey"))
            .cast("long")
            .alias(alias),
        )

    da = quintiles(o.where(F.col("o_orderdate") < cutoff), "q_before")
    db = quintiles(o.where(F.col("o_orderdate") >= cutoff), "q_after")
    return da.join(db, "o_custkey").groupBy(
        "q_before", "q_after"
    ).agg(F.count(F.lit(1)).alias("n_customers"))


_CONDITIONAL_ORACLE = """
SELECT o_orderkey,
       least(o_totalprice, 100000.0) AS capped_price,
       greatest(o_totalprice, 50000.0) AS floored_price,
       nullif(o_orderstatus, 'O') AS status_unless_open,
       coalesce(nullif(o_orderpriority, '1-URGENT'), 'TOP') AS prio_class,
       CASE WHEN o_totalprice BETWEEN 50000 AND 100000
            THEN 'mid' ELSE 'edge' END AS price_band
FROM orders
"""


@query("scalar_conditional_funcs", oracle=_CONDITIONAL_ORACLE)
def scalar_conditional_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional scalar surface: least/greatest clamping, nullif
    sentinel-to-NULL, coalesce fallback chains, BETWEEN banding — the
    defensive-SQL idioms of every cleaning layer, all whole-stage
    codegen."""
    o = load_table(spark, sf_dir, "orders")
    tp = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.least(tp, F.lit(100000.0)).alias("capped_price"),
        F.greatest(tp, F.lit(50000.0)).alias("floored_price"),
        F.nullif(F.col("o_orderstatus"), F.lit("O")).alias(
            "status_unless_open"
        ),
        F.coalesce(
            F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")),
            F.lit("TOP"),
        ).alias("prio_class"),
        F.when(tp.between(50000, 100000), "mid")
        .otherwise("edge")
        .alias("price_band"),
    )


_EXPOSURE_ORACLE = """
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(COUNT(*) FILTER (WHERE c_acctbal < 0) AS BIGINT)
           AS n_negative,
       CAST(SUM(CAST(CASE WHEN c_acctbal < 0 THEN c_acctbal
                          ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE)
           AS negative_exposure,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
           AS net_balance
FROM customer
GROUP BY c_mktsegment
"""


@query("agg_negative_exposure", oracle=_EXPOSURE_ORACLE)
def agg_negative_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Credit exposure per market segment: how many customers carry a
    negative balance and the summed magnitude of that exposure next to
    the segment's net position — the receivables-risk slice finance asks
    for first. Conditional decimal sums keep both totals exact; one
    map-side-combinable aggregate."""
    c = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal")
    neg = F.when(bal < 0, bal).otherwise(F.lit(0))
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.count(F.when(bal < 0, 1)).cast("long").alias("n_negative"),
        F.sum(neg.cast("decimal(38,6)"))
        .cast("double")
        .alias("negative_exposure"),
        F.sum(bal.cast("decimal(38,6)"))
        .cast("double")
        .alias("net_balance"),
    )


_BASKET_SIZE_TREND_ORACLE = """
WITH per_order AS (
    SELECT l_orderkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           SUM(CAST(l_quantity AS DECIMAL(38,6))) AS total_qty
    FROM lineitem GROUP BY l_orderkey
),
dated AS (
    SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS month,
           p.n_lines, p.total_qty
    FROM per_order p JOIN orders o ON o.o_orderkey = p.l_orderkey
)
SELECT month,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(n_lines) AS DOUBLE) / COUNT(*) AS avg_lines,
       CAST(SUM(total_qty) AS DOUBLE) / COUNT(*) AS avg_qty
FROM dated GROUP BY month
"""


@query("agg_basket_size_trend", oracle=_BASKET_SIZE_TREND_ORACLE)
def agg_basket_size_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size trend: average lines and quantity per order by month —
    the order-composition drift a merchandiser watches (shrinking
    baskets with steady order counts is a different problem from
    shrinking orders). Per-order rollup first, then the date join and
    monthly means; decimal sums, scalar divisions."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias(
            "total_qty"
        ),
    )
    dated = per_order.join(
        o.select("o_orderkey", "o_orderdate"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ).select(
        F.date_trunc("month", F.col("o_orderdate"))
        .cast("date")
        .alias("month"),
        "n_lines",
        "total_qty",
    )
    return dated.groupBy("month").agg(
        F.count(F.lit(1)).alias("n_orders"),
        (
            F.sum("n_lines").cast("double") / F.count(F.lit(1))
        ).alias("avg_lines"),
        (
            F.sum("total_qty").cast("double") / F.count(F.lit(1))
        ).alias("avg_qty"),
    )


_HHI_ORACLE = """
WITH srev AS (
    SELECT s.s_nationkey, l.l_suppkey,
           SUM(CAST(l.l_extendedprice AS DECIMAL(38,6))) AS r
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY s.s_nationkey, l.l_suppkey
),
tot AS (
    SELECT s_nationkey, SUM(r) AS t,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers
    FROM srev GROUP BY s_nationkey
)
SELECT sr.s_nationkey AS nationkey,
       any_value(t2.n_suppliers) AS n_suppliers,
       CAST(SUM(CAST(round(
           (CAST(sr.r AS DOUBLE) / t2.t)
           * (CAST(sr.r AS DOUBLE) / t2.t) * 10000, 6)
       AS DECIMAL(38,6))) AS DOUBLE) AS hhi
FROM srev sr JOIN tot t2 USING (s_nationkey)
GROUP BY sr.s_nationkey
"""


@query("agg_supplier_hhi", oracle=_HHI_ORACLE)
def agg_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue per
    nation (×10 000, the regulator's scale: <1 500 competitive, >2 500
    concentrated) — the supply-chain fragility score. Share-squared
    terms quantize to 6 decimals then decimal-sum (order independent);
    per-supplier revenue stays DECIMAL to the division."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    srev = (
        li.join(
            F.broadcast(sup.select("s_suppkey", "s_nationkey")),
            F.col("s_suppkey") == F.col("l_suppkey"),
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(38,6)")
            ).alias("r")
        )
    )
    tot = srev.groupBy("s_nationkey").agg(
        F.sum("r").alias("t"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    share = F.col("r").cast("double") / F.col("t")
    term = F.round(share * share * 10000, 6).cast("decimal(38,6)")
    return (
        srev.join(F.broadcast(tot), "s_nationkey")
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.any_value("n_suppliers").alias("n_suppliers"),
            F.sum(term).cast("double").alias("hhi"),
        )
    )


_SURVIVAL_ORACLE = """
WITH spans AS (
    SELECT user_id,
           datediff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE)))
               AS lifetime_days
    FROM events GROUP BY user_id
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM spans)
SELECT CAST(k AS BIGINT) AS day_k,
       CAST((SELECT COUNT(*) FROM spans
             WHERE lifetime_days >= k) AS BIGINT) AS n_surviving,
       CAST((SELECT COUNT(*) FROM spans WHERE lifetime_days >= k)
            AS DOUBLE) / t.n AS survival_rate
FROM (SELECT unnest(range(0, 31, 5)) AS k), tot t
"""


@query("agg_survival_curve", oracle=_SURVIVAL_ORACLE)
def agg_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survival curve of user lifetimes: the fraction of users whose
    observed activity span reaches day k, sampled at k = 0,5,…,30 —
    the Kaplan-Meier-style retention readout product teams plot (here
    without censoring, since the window is closed). Lifetimes from one
    per-user aggregate; each curve point is a conditional count against
    the broadcast total."""
    ev = load_table(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.datediff(
            F.max(F.col("ts").cast("date")),
            F.min(F.col("ts").cast("date")),
        ).alias("lifetime_days")
    )
    ks = spans.sparkSession.range(0, 31, 5).select(
        F.col("id").alias("day_k")
    )
    tot = spans.agg(F.count(F.lit(1)).alias("n"))
    joined = ks.crossJoin(spans).groupBy("day_k").agg(
        F.count(
            F.when(F.col("lifetime_days") >= F.col("day_k"), 1)
        )
        .cast("long")
        .alias("n_surviving")
    )
    return joined.crossJoin(F.broadcast(tot)).select(
        "day_k",
        "n_surviving",
        (
            F.col("n_surviving").cast("double") / F.col("n")
        ).alias("survival_rate"),
    )


_SEASONAL_INDEX_ORACLE = """
WITH monthly AS (
    SELECT CAST(month(o_orderdate) AS BIGINT) AS month_num,
           SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS rev,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY month(o_orderdate)
),
base AS (
    SELECT CAST(SUM(rev) AS DOUBLE) / 12 AS mean_month_rev FROM monthly
)
SELECT month_num, n_orders,
       CAST(rev AS DOUBLE) AS revenue,
       round(CAST(rev AS DOUBLE) / b.mean_month_rev, 6)
           AS seasonal_index
FROM monthly, base b
"""


@query("agg_seasonal_index", oracle=_SEASONAL_INDEX_ORACLE)
def agg_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly seasonal indices: each calendar month's revenue against
    the mean month (index 1.0 = average; the multiplier a demand
    forecast deseasonalizes with). Calendar-month rollup across all
    years, decimal revenue, 6-decimal quantized index."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.month("o_orderdate").cast("long").alias("month_num")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("rev"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    base = monthly.agg(
        (F.sum("rev").cast("double") / 12).alias("mean_month_rev")
    )
    return monthly.crossJoin(F.broadcast(base)).select(
        "month_num",
        "n_orders",
        F.col("rev").cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.col("mean_month_rev"), 6
        ).alias("seasonal_index"),
    )


_PRIORITY_SLA_ORACLE = """
WITH lines AS (
    SELECT o.o_orderpriority,
           datediff('day', o.o_orderdate, l.l_shipdate) AS days_to_ship
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       quantile_cont(CAST(days_to_ship AS DOUBLE), 0.5) AS p50_days,
       quantile_cont(CAST(days_to_ship AS DOUBLE), 0.95) AS p95_days,
       CAST(COUNT(*) FILTER (WHERE days_to_ship > 90) AS BIGINT)
           AS n_over_90d,
       CAST(COUNT(*) FILTER (WHERE days_to_ship > 90) AS DOUBLE)
         / COUNT(*) AS sla_breach_rate
FROM lines GROUP BY o_orderpriority
"""


@query("agg_priority_sla_compliance", oracle=_PRIORITY_SLA_ORACLE)
def agg_priority_sla_compliance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SLA compliance by order priority: ship-latency percentiles and
    the 90-day breach rate per priority class — the fulfilment
    scorecard (if URGENT ships no faster than LOW, the priority field
    is theater, and this table proves it). Day latencies from one join;
    exact interpolated percentiles per class."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lines = li.join(
        o.select("o_orderkey", "o_orderpriority", "o_orderdate"),
        F.col("o_orderkey") == F.col("l_orderkey"),
    ).select(
        "o_orderpriority",
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias(
            "days_to_ship"
        ),
    )
    # Collapse the fact stream to (priority, integer-day) counts in ONE
    # partial-aggregable pass — a few hundred rows — then percentiles
    # (distributed running-count selection, not a one-reducer
    # F.percentile buffer), totals, and the breach rate all derive from
    # that tiny frame.
    vc = lines.groupBy(
        "o_orderpriority",
        F.col("days_to_ship").cast("double").alias("d"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    pct = exact_percentiles_from_counts(
        vc,
        ["o_orderpriority"],
        "d",
        "cnt",
        {"p50_days": 0.5, "p95_days": 0.95},
        extras={"n_lines": "n"},
    )
    late = vc.groupBy(F.col("o_orderpriority").alias("l_prio")).agg(
        F.sum(F.when(F.col("d") > 90, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_over_90d")
    )
    return pct.join(
        F.broadcast(late), pct.o_orderpriority == late.l_prio
    ).select(
        "o_orderpriority",
        "n_lines",
        "p50_days",
        "p95_days",
        "n_over_90d",
        (
            F.col("n_over_90d").cast("double") / F.col("n_lines")
        ).alias("sla_breach_rate"),
    )


_RETURN_RATE_ORACLE = """
WITH per_supp AS (
    SELECT l_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(*) FILTER (WHERE l_returnflag = 'R') AS BIGINT)
               AS n_returned
    FROM lineitem GROUP BY l_suppkey
)
SELECT l_suppkey,
       n_lines, n_returned,
       CAST(n_returned AS DOUBLE) / n_lines AS return_rate
FROM per_supp
WHERE n_lines >= 30
ORDER BY CAST(n_returned AS DOUBLE) / n_lines DESC, l_suppkey
LIMIT 15
"""


@query("agg_supplier_return_rates", oracle=_RETURN_RATE_ORACLE)
def agg_supplier_return_rates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supplier quality control: the 15 highest return rates among
    suppliers with ≥30 shipped lines — the vendor-scorecard cut that a
    raw return count would mis-rank (high volume ≠ high rate) and a
    no-minimum rate would fill with 1-of-1 noise. One aggregate +
    TakeOrderedAndProject with a key tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    per_supp = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.when(F.col("l_returnflag") == "R", 1))
        .cast("long")
        .alias("n_returned"),
    )
    rate = F.col("n_returned").cast("double") / F.col("n_lines")
    return (
        per_supp.where(F.col("n_lines") >= 30)
        .select("l_suppkey", "n_lines", "n_returned",
                rate.alias("return_rate"))
        .orderBy(F.col("return_rate").desc(), F.col("l_suppkey"))
        .limit(15)
    )


_COHORT_REV_ORACLE = """
WITH firsts AS (
    SELECT o_custkey,
           CAST(date_trunc('year', min(o_orderdate)) AS DATE)
               AS cohort_year
    FROM orders GROUP BY o_custkey
),
rev AS (
    SELECT f.cohort_year,
           CAST(date_trunc('year', o.o_orderdate) AS DATE) AS order_year,
           SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS r,
           CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active
    FROM orders o JOIN firsts f USING (o_custkey)
    GROUP BY f.cohort_year, CAST(date_trunc('year', o.o_orderdate) AS DATE)
)
SELECT cohort_year, order_year, n_active,
       CAST(r AS DOUBLE) AS revenue
FROM rev
"""


@query("agg_cohort_revenue_matrix", oracle=_COHORT_REV_ORACLE)
def agg_cohort_revenue_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cohort REVENUE matrix: customers grouped by first-order year,
    revenue and active count tracked per subsequent year — the
    money-weighted companion to the user-count retention matrix (a
    cohort can retain users while its spend collapses; this shows
    which). First-order year broadcast back; decimal revenue."""
    o = load_table(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("year", F.min("o_orderdate"))
        .cast("date")
        .alias("cohort_year")
    )
    return (
        o.join(F.broadcast(firsts), "o_custkey")
        .groupBy(
            "cohort_year",
            F.date_trunc("year", F.col("o_orderdate"))
            .cast("date")
            .alias("order_year"),
        )
        .agg(
            F.count_distinct("o_custkey").cast("long").alias("n_active"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("revenue"),
        )
    )


_PRICE_QTY_ELASTICITY_ORACLE = """
WITH pts AS (
    SELECT l_partkey,
           CAST(round(ln(l_extendedprice / l_quantity), 6)
                AS DECIMAL(38,6)) AS lx,
           CAST(round(ln(CAST(l_quantity AS DOUBLE)), 6)
                AS DECIMAL(38,6)) AS ly
    FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0
),
s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(lx) AS DOUBLE) AS sx,
           CAST(SUM(ly) AS DOUBLE) AS sy,
           CAST(SUM(CAST(round(CAST(lx AS DOUBLE) * CAST(ly AS DOUBLE), 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(round(CAST(lx AS DOUBLE) * CAST(lx AS DOUBLE), 6)
                    AS DECIMAL(38,6))) AS DOUBLE) AS sxx
    FROM pts
)
SELECT CAST(n AS BIGINT) AS n_lines,
       round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6)
           AS log_log_elasticity
FROM s
"""


@query("agg_price_elasticity", oracle=_PRICE_QTY_ELASTICITY_ORACLE)
def agg_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-log price elasticity of quantity: the OLS slope of ln(qty) on
    ln(unit price) — the classic demand-curve estimate (negative slope =
    normal good; near zero = price-insensitive). ln terms quantize to 6
    then all four moments accumulate in DECIMAL; the slope is one scalar
    expression, quantized."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    lx = F.round(
        F.log(F.col("l_extendedprice") / F.col("l_quantity")), 6
    ).cast("decimal(38,6)")
    ly = F.round(
        F.log(F.col("l_quantity").cast("double")), 6
    ).cast("decimal(38,6)")
    pts = li.select(lx.alias("lx"), ly.alias("ly"))
    sxy_t = F.round(
        F.col("lx").cast("double") * F.col("ly").cast("double"), 6
    ).cast("decimal(38,6)")
    sxx_t = F.round(
        F.col("lx").cast("double") * F.col("lx").cast("double"), 6
    ).cast("decimal(38,6)")
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("lx").cast("double").alias("sx"),
        F.sum("ly").cast("double").alias("sy"),
        F.sum(sxy_t).cast("double").alias("sxy"),
        F.sum(sxx_t).cast("double").alias("sxx"),
    )
    n = F.col("n")
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / n
    )
    return s.select(
        n.cast("long").alias("n_lines"),
        F.round(slope, 6).alias("log_log_elasticity"),
    )


_REORDER_RATE_ORACLE = """
WITH pairs AS (
    SELECT DISTINCT o.o_custkey, l.l_partkey, o.o_orderkey
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
per_cp AS (
    SELECT o_custkey, l_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM pairs GROUP BY o_custkey, l_partkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customer_part_pairs,
       CAST(COUNT(*) FILTER (WHERE n_orders >= 2) AS BIGINT)
           AS n_reordered,
       CAST(COUNT(*) FILTER (WHERE n_orders >= 2) AS DOUBLE)
         / COUNT(*) AS reorder_rate,
       CAST(max(n_orders) AS BIGINT) AS max_repeat_orders
FROM per_cp
"""


@query("agg_reorder_rate", oracle=_REORDER_RATE_ORACLE)
def agg_reorder_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder rate: of all (customer, part) pairs ever ordered, the
    fraction ordered in two or more DISTINCT orders — the repeat-demand
    signal behind subscription and replenishment bets. Distinct triple
    first (multi-line orders must not fake repeats), then the pair
    rollup and one summary."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        li.join(
            o.select("o_orderkey", "o_custkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .select("o_custkey", "l_partkey", "o_orderkey")
        .distinct()
    )
    per_cp = pairs.groupBy("o_custkey", "l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    rep = F.when(F.col("n_orders") >= 2, 1)
    return per_cp.agg(
        F.count(F.lit(1)).alias("n_customer_part_pairs"),
        F.count(rep).cast("long").alias("n_reordered"),
        (F.count(rep).cast("double") / F.count(F.lit(1))).alias(
            "reorder_rate"
        ),
        F.max("n_orders").cast("long").alias("max_repeat_orders"),
    )


_EXISTS_FLAGS_ORACLE = """
SELECT p.p_partkey, p.p_brand,
       EXISTS (SELECT 1 FROM lineitem l
               WHERE l.l_partkey = p.p_partkey AND l.l_quantity >= 45)
           AS has_heavy_line,
       NOT EXISTS (SELECT 1 FROM lineitem l
                   WHERE l.l_partkey = p.p_partkey
                     AND l.l_returnflag = 'R')
           AS never_returned
FROM part p
WHERE p.p_partkey IN (SELECT l_partkey FROM lineitem)
"""


@query("subquery_exists_flags", oracle=_EXISTS_FLAGS_ORACLE)
def subquery_exists_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS / NOT EXISTS / IN-subquery predicates, decorrelated the way
    Catalyst's RewritePredicateSubquery does: the IN becomes a left-semi
    join and both EXISTS flags collapse into ONE pre-aggregated boolean
    table (``bool_or`` per part) joined inner — a single lineitem pass
    instead of three correlated probes, and the per-part flag table is
    dimension-sized so the join broadcasts at any corpus scale."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    flags = li.groupBy(F.col("l_partkey").alias("f_partkey")).agg(
        F.max(F.col("l_quantity") >= 45).alias("has_heavy_line"),
        (~F.max(F.col("l_returnflag") == "R")).alias("never_returned"),
    )
    # Inner join == the IN semi-join (flags exists iff the part has lines).
    return part.join(
        F.broadcast(flags), part.p_partkey == flags.f_partkey
    ).select("p_partkey", "p_brand", "has_heavy_line", "never_returned")


_MOVING_MEDIAN_ORACLE = """
WITH e AS (
    SELECT event_id, user_id, ts,
           CASE WHEN isinf(value) OR isnan(value) THEN 0 ELSE value END AS v
    FROM events
)
SELECT event_id, user_id, ts,
       median(v) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
           AS mov_median
FROM e
"""


@query("window_moving_median", oracle=_MOVING_MEDIAN_ORACLE)
def window_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving median (7-row trailing frame) per user — the robust smoother
    Spark lacks as a native window function. Implemented as
    ``array_sort(collect_list)`` over the bounded ROWS frame plus a
    middle-element pick (even counts interpolate like DuckDB's
    ``median``); the frame is 7 rows, so per-row state is O(7) — no
    whole-partition materialization, safe at any user count."""
    ev = load_table(spark, sf_dir, "events")
    safe = F.when(
        F.isnan("value") | F.col("value").isin(float("inf"), float("-inf")),
        F.lit(0.0),
    ).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list(safe).over(w))
    n = F.size(arr)
    odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    even = (
        F.element_at(arr, (n / 2).cast("int"))
        + F.element_at(arr, (n / 2 + 1).cast("int"))
    ) / 2.0
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(n % 2 == 1, odd).otherwise(even).alias("mov_median"),
    )


_CHI2_ORACLE = """
WITH obs AS (
    SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
           CAST(COUNT(*) AS DOUBLE) AS n
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2
),
row_m AS (SELECT seg, SUM(n) AS rn FROM obs GROUP BY seg),
col_m AS (SELECT pri, SUM(n) AS cn FROM obs GROUP BY pri),
tot AS (SELECT SUM(n) AS t FROM obs)
SELECT CAST(tot.t AS BIGINT) AS n_orders,
       CAST((COUNT(DISTINCT obs.seg) - 1)
            * (COUNT(DISTINCT obs.pri) - 1) AS BIGINT) AS dof,
       ROUND(SUM(POWER(obs.n - row_m.rn * col_m.cn / tot.t, 2)
                 / (row_m.rn * col_m.cn / tot.t)), 6) AS chi2,
       ROUND(SQRT(SUM(POWER(obs.n - row_m.rn * col_m.cn / tot.t, 2)
                      / (row_m.rn * col_m.cn / tot.t))
                  / (tot.t * LEAST(COUNT(DISTINCT obs.seg) - 1,
                                   COUNT(DISTINCT obs.pri) - 1))), 6)
           AS cramers_v
FROM obs
JOIN row_m USING (seg)
JOIN col_m USING (pri)
CROSS JOIN tot
GROUP BY tot.t
"""


@query("agg_chi_square_independence", oracle=_CHI2_ORACLE)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence (market segment × order priority)
    with Cramér's V effect size. One fact-table aggregation to the R×C
    contingency cells, then marginals derived FROM the cells (no second
    fact pass) and broadcast back — the whole test costs one shuffle of
    R×C≈25 rows regardless of fact size. Cell counts are exact integers,
    so the only float work is the final 25-term reduction, rounded to
    the hash grid."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    obs = (
        o.join(F.broadcast(c.select("c_custkey", "c_mktsegment")),
               o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    row_m = obs.groupBy("seg").agg(F.sum("n").alias("rn"))
    col_m = obs.groupBy("pri").agg(F.sum("n").alias("cn"))
    tot = obs.agg(F.sum("n").alias("t"))
    exp = F.col("rn") * F.col("cn") / F.col("t")
    cell = F.pow(F.col("n") - exp, 2) / exp
    return (
        obs.join(F.broadcast(row_m), "seg")
        .join(F.broadcast(col_m), "pri")
        .crossJoin(F.broadcast(tot))
        .groupBy("t")
        .agg(
            F.first("t").cast("long").alias("n_orders"),
            (
                (F.count_distinct("seg") - 1)
                * (F.count_distinct("pri") - 1)
            ).cast("long").alias("dof"),
            F.round(F.sum(cell), 6).alias("chi2"),
            F.round(
                F.sqrt(
                    F.sum(cell)
                    / (
                        F.first("t")
                        * F.least(
                            F.count_distinct("seg") - 1,
                            F.count_distinct("pri") - 1,
                        )
                    )
                ),
                6,
            ).alias("cramers_v"),
        )
        .drop("t")
    )


_LINKPRED_ORACLE = """
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
    FROM op a
    JOIN op b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= 2
),
sym AS (
    SELECT part_a AS a, part_b AS b FROM pairs
    UNION ALL
    SELECT part_b AS a, part_a AS b FROM pairs
),
two_hop AS (
    SELECT x.b AS a, y.b AS b, CAST(COUNT(*) AS BIGINT) AS common_neighbors
    FROM sym x JOIN sym y ON x.a = y.a AND x.b < y.b
    GROUP BY x.b, y.b
)
SELECT t.a AS part_a, t.b AS part_b, t.common_neighbors
FROM two_hop t
LEFT JOIN pairs p ON p.part_a = t.a AND p.part_b = t.b
WHERE p.part_a IS NULL
ORDER BY t.common_neighbors DESC, t.a, t.b
LIMIT 30
"""


@query("graph_linkpred_common_neighbors", oracle=_LINKPRED_ORACLE)
def graph_linkpred_common_neighbors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Common-neighbors link prediction on the co-purchase graph: for
    part pairs NOT yet co-purchased, count shared co-purchase partners
    (paths of length 2) and surface the top-30 — the classic
    'recommend what neighbors bought' candidate generator. The wedge
    join keys on the shared middle vertex, so cost is Σ deg(v)² over the
    ≥2-support edge set (support pruning IS the hub-degree cap that
    keeps this subquadratic at 100 TB); existing edges drop out via a
    left-anti join and top-30 plans as TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = copurchase_pairs(li, min_support=2)
    sym = pairs.selectExpr("part_a AS a", "part_b AS b").unionAll(
        pairs.selectExpr("part_b AS a", "part_a AS b")
    )
    x = sym.alias("x")
    y = sym.alias("y")
    two_hop = (
        x.join(
            y,
            (F.col("x.a") == F.col("y.a"))
            & (F.col("x.b") < F.col("y.b")),
        )
        .groupBy(
            F.col("x.b").alias("a"), F.col("y.b").alias("b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    return (
        two_hop.join(
            pairs,
            (two_hop.a == pairs.part_a) & (two_hop.b == pairs.part_b),
            "left_anti",
        )
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "common_neighbors",
        )
        .orderBy(
            F.col("common_neighbors").desc(), "part_a", "part_b"
        )
        .limit(30)
    )


_WELCH_ORACLE = """
WITH g AS (
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2
    FROM events
    WHERE NOT isnan(value) AND isfinite(value)
      AND event_type IN ('click', 'purchase')
    GROUP BY event_type
),
st AS (
    SELECT event_type, n, s1 / n AS mean,
           (s2 - (s1 / n) * s1) / (n - 1) AS var
    FROM g
),
ab AS (
    SELECT a.n AS n1, a.mean AS m1, a.var AS v1,
           b.n AS n2, b.mean AS m2, b.var AS v2
    FROM st a, st b
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
)
SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_purchase,
       m1 AS mean_click, m2 AS mean_purchase,
       (m1 - m2) / sqrt(v1 / n1 + v2 / n2) AS t_stat,
       ((v1 / n1 + v2 / n2) * (v1 / n1 + v2 / n2))
           / (((v1 / n1) * (v1 / n1)) / (n1 - 1)
              + ((v2 / n2) * (v2 / n2)) / (n2 - 1)) AS welch_df
FROM ab
"""


@query("agg_welch_t_test", oracle=_WELCH_ORACLE)
def agg_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event populations
    (click vs purchase values) with the Welch–Satterthwaite df — the A/B
    comparison primitive. Sufficient statistics (n, Σx, Σx²) accumulate
    exactly in DECIMAL in ONE fact pass; everything after is a fixed
    dag of correctly-rounded IEEE +-*/ and sqrt on those exact sums, so
    the t-stat is bit-identical across engines with no output rounding.
    The two 1-row stats join as a broadcast — constant cost at any
    fact size."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    g = (
        ev.where(
            ~F.isnan(v)
            & (F.abs(v) != float("inf"))
            & F.col("event_type").isin("click", "purchase")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(v.cast("decimal(38,6)")).cast("double").alias("s1"),
            F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("s2"),
        )
    )
    st = g.select(
        "event_type",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        (
            (F.col("s2") - (F.col("s1") / F.col("n")) * F.col("s1"))
            / (F.col("n") - 1)
        ).alias("var"),
    )
    a = st.where(F.col("event_type") == "click").select(
        F.col("n").alias("n1"), F.col("mean").alias("m1"),
        F.col("var").alias("v1"),
    )
    b = st.where(F.col("event_type") == "purchase").select(
        F.col("n").alias("n2"), F.col("mean").alias("m2"),
        F.col("var").alias("v2"),
    )
    se1 = F.col("v1") / F.col("n1")
    se2 = F.col("v2") / F.col("n2")
    return a.crossJoin(F.broadcast(b)).select(
        F.col("n1").cast("long").alias("n_click"),
        F.col("n2").cast("long").alias("n_purchase"),
        F.col("m1").alias("mean_click"),
        F.col("m2").alias("mean_purchase"),
        ((F.col("m1") - F.col("m2")) / F.sqrt(se1 + se2)).alias("t_stat"),
        (
            ((se1 + se2) * (se1 + se2))
            / (
                (se1 * se1) / (F.col("n1") - 1)
                + (se2 * se2) / (F.col("n2") - 1)
            )
        ).alias("welch_df"),
    )


_LATERAL_ORACLE = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders
         WHERE o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
"""


@query("join_lateral_topn_orders", oracle=_LATERAL_ORACLE)
def join_lateral_topn_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row LIMIT: each customer's
    top-2 orders by price — the SQL-standard spelling of per-group
    top-n. Catalyst decorrelates the correlated ORDER BY+LIMIT into a
    join plus per-key group-limit (the same physical shape as the
    window-rank rewrite), so the lateral NEVER executes per-row — this
    query pins that decorrelation. Same answer as
    ``window_rank_topn_per_group``'s pattern; the surface under test is
    the LATERAL SQL API."""
    from extract_transform_load_template_multidb_spark.catalog import (
        load_table as _lt,
    )

    _lt(spark, sf_dir, "customer").createOrReplaceTempView(
        "_lat_customer"
    )
    _lt(spark, sf_dir, "orders").createOrReplaceTempView("_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM _lat_customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM _lat_orders
                 WHERE o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o
        """
    )


_ANY_ALL_ORACLE = """
SELECT s.s_suppkey, s.s_nationkey, s.s_acctbal,
       s.s_acctbal > ALL (SELECT c.c_acctbal FROM customer c
                          WHERE c.c_nationkey = s.s_nationkey)
           AS beats_all_customers,
       s.s_acctbal > ANY (SELECT c.c_acctbal FROM customer c
                          WHERE c.c_nationkey = s.s_nationkey)
           AS beats_any_customer
FROM supplier s
"""


@query("subquery_any_all_quantified", oracle=_ANY_ALL_ORACLE)
def subquery_any_all_quantified(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantified comparisons (> ALL / > ANY correlated subqueries),
    which Spark SQL lacks, decorrelated by hand the way a rewriter
    would: > ALL becomes a comparison against the group MAX (empty
    group ⇒ TRUE), > ANY against the group MIN (empty group ⇒ FALSE).
    One dimension-sized per-nation extrema table, broadcast — the
    supplier scan streams through untouched at any scale. (Fixture
    balances are non-NULL; with NULLs the rewrite needs the
    three-valued count(*)/count(col) guards.)"""
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    ext = c.groupBy(F.col("c_nationkey").alias("n_key")).agg(
        F.max("c_acctbal").alias("max_bal"),
        F.min("c_acctbal").alias("min_bal"),
    )
    joined = s.join(
        F.broadcast(ext), s.s_nationkey == F.col("n_key"), "left"
    )
    return joined.select(
        "s_suppkey",
        "s_nationkey",
        "s_acctbal",
        F.when(F.col("max_bal").isNull(), F.lit(True))
        .otherwise(F.col("s_acctbal") > F.col("max_bal"))
        .alias("beats_all_customers"),
        F.when(F.col("min_bal").isNull(), F.lit(False))
        .otherwise(F.col("s_acctbal") > F.col("min_bal"))
        .alias("beats_any_customer"),
    )


_MWU_ORACLE = """
WITH v AS (
    SELECT event_type AS g, value AS x FROM events
    WHERE NOT isnan(value) AND isfinite(value)
      AND event_type IN ('click', 'purchase')
),
per_val AS (
    SELECT x,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(*) FILTER (WHERE g = 'click') AS BIGINT) AS cnt1
    FROM v GROUP BY x
),
ranked AS (
    SELECT x, cnt, cnt1,
           COALESCE(SUM(cnt) OVER (ORDER BY x
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS c_less
    FROM per_val
),
tot AS (
    SELECT CAST(SUM(cnt1) AS BIGINT) AS n1,
           CAST(SUM(cnt - cnt1) AS BIGINT) AS n2,
           CAST(SUM(CAST(cnt1 AS DECIMAL(38,6))
                    * (c_less + (cnt + 1) / CAST(2 AS DOUBLE)))
                AS DOUBLE) AS r1
    FROM ranked
)
SELECT n1, n2, r1 AS rank_sum_click,
       r1 - n1 * (n1 + 1) / CAST(2 AS DOUBLE) AS u_click,
       CAST(n1 AS DOUBLE) * n2
           - (r1 - n1 * (n1 + 1) / CAST(2 AS DOUBLE)) AS u_purchase
FROM tot
"""


@query("agg_mann_whitney_u", oracle=_MWU_ORACLE)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (rank-sum) statistic between two event populations
    — the nonparametric sibling of ``agg_welch_t_test`` for skewed or
    heavy-tailed metrics. Computed WITHOUT ranking individual rows: one
    groupBy collapses the data to distinct values with per-group counts,
    tie-averaged ranks come from a running count over that (much
    smaller) value table, and the rank-sum is an exact decimal dot
    product — so the shuffle is bounded by distinct values, never rows,
    and every output is exact integer-or-half arithmetic (bit-identical
    cross-engine)."""
    from pyspark.sql import Window as Win

    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    filt = ev.where(
        ~F.isnan(v)
        & (F.abs(v) != float("inf"))
        & F.col("event_type").isin("click", "purchase")
    ).select(F.col("event_type").alias("g"), v.alias("x"))
    per_val = filt.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.count(F.when(F.col("g") == "click", 1)).cast("long").alias(
            "cnt1"
        ),
    )
    w = Win.orderBy("x").rowsBetween(Win.unboundedPreceding, -1)
    ranked = per_val.withColumn(
        "c_less", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    )
    avg_rank = F.col("c_less") + (F.col("cnt") + 1) / F.lit(2.0)
    tot = ranked.agg(
        F.sum("cnt1").cast("long").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt1")).cast("long").alias("n2"),
        F.sum((F.col("cnt1").cast("decimal(38,6)") * avg_rank))
        .cast("double")
        .alias("r1"),
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / F.lit(2.0)
    return tot.select(
        "n1",
        "n2",
        F.col("r1").alias("rank_sum_click"),
        u1.alias("u_click"),
        (F.col("n1").cast("double") * F.col("n2") - u1).alias(
            "u_purchase"
        ),
    )


_ARGMAX_ORACLE = """
SELECT c_nationkey,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       arg_max(c_custkey, c_acctbal * 10000000.0 - c_custkey)
           AS richest_custkey,
       max(c_acctbal) AS richest_balance,
       arg_min(c_custkey, c_acctbal * 10000000.0 + c_custkey)
           AS poorest_custkey,
       min(c_acctbal) AS poorest_balance
FROM customer
GROUP BY c_nationkey
"""


@query("agg_argmax_min_by_max_by", oracle=_ARGMAX_ORACLE)
def agg_argmax_min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin aggregation (``max_by``/``min_by``): each nation's
    richest and poorest customer in ONE pass — no rank window, no
    self-join. Raw ``max_by`` is nondeterministic under ties, so the
    ordering key is the exact composite ``balance·10⁷ ∓ custkey`` (2-dp
    money × 10⁷ is integer-valued and custkey-dominated ties pick the
    LOWEST id on both ends) — the documented pattern for making argmax
    reproducible across engines and partitionings."""
    c = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal") * 10000000.0
    return c.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.max_by(F.col("c_custkey"), bal - F.col("c_custkey")).alias(
            "richest_custkey"
        ),
        F.max("c_acctbal").alias("richest_balance"),
        F.min_by(F.col("c_custkey"), bal + F.col("c_custkey")).alias(
            "poorest_custkey"
        ),
        F.min("c_acctbal").alias("poorest_balance"),
    )


_HILL_ORACLE = """
WITH ranked AS (
    SELECT o_totalprice,
           row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS rnk
    FROM orders
),
topk AS (
    SELECT o_totalprice,
           CAST(max(o_totalprice) FILTER (WHERE rnk = 201) OVER ()
                AS DOUBLE) AS x_k
    FROM ranked WHERE rnk <= 201
),
contrib AS (
    SELECT CAST(round(ln(o_totalprice / x_k), 9) AS DECIMAL(38,9)) AS c
    FROM topk WHERE o_totalprice > x_k
)
SELECT CAST(COUNT(*) AS BIGINT) AS k,
       CAST(SUM(c) AS DOUBLE) / COUNT(*) AS hill_estimate,
       CAST(COUNT(*) AS DOUBLE)
           / CAST(SUM(c) AS DOUBLE) AS tail_index_alpha
FROM contrib
"""


@query("agg_hill_tail_index_top200", oracle=_HILL_ORACLE)
def agg_hill_tail_index_top200(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hill estimator of the order-value tail index: mean log-excess of
    the top-200 order totals over the 201st — α below ~2 means the
    revenue tail is heavy enough that mean-based capacity planning
    understates risk. The top-(k+1) order statistics come from one
    rank window (TakeOrdered-sized state, never a full sort shuffle at
    scale with a pre-filter on a quantile sketch); each log-excess
    quantizes to a 9-dp decimal before summing so libm/JVM ln ulp
    drift cannot reach the hash."""
    from pyspark.sql import Window as Win

    o = load_table(spark, sf_dir, "orders")
    ranked = o.select(
        "o_totalprice",
        F.row_number()
        .over(Win.orderBy(F.col("o_totalprice").desc(), "o_orderkey"))
        .alias("rnk"),
    ).where(F.col("rnk") <= 201)
    topk = ranked.select(
        "o_totalprice",
        F.max(F.when(F.col("rnk") == 201, F.col("o_totalprice")))
        .over(Win.partitionBy())
        .cast("double")
        .alias("x_k"),
    )
    contrib = topk.where(F.col("o_totalprice") > F.col("x_k")).select(
        F.round(F.log(F.col("o_totalprice") / F.col("x_k")), 9)
        .cast("decimal(38,9)")
        .alias("c")
    )
    return contrib.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        (F.sum("c").cast("double") / F.count(F.lit(1))).alias(
            "hill_estimate"
        ),
        (
            F.count(F.lit(1)).cast("double") / F.sum("c").cast("double")
        ).alias("tail_index_alpha"),
    )


_TRIM_ORACLE = """
WITH v AS (
    SELECT event_type, value FROM events
    WHERE NOT isnan(value) AND isfinite(value)
),
cuts AS (
    SELECT event_type,
           quantile_cont(value, 0.05) AS lo,
           quantile_cont(value, 0.95) AS hi
    FROM v GROUP BY event_type
)
SELECT v.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(COUNT(*) FILTER (WHERE v.value >= c.lo AND v.value <= c.hi)
            AS BIGINT) AS n_kept,
       CAST(SUM(CAST(v.value AS DECIMAL(38,6)))
                FILTER (WHERE v.value >= c.lo AND v.value <= c.hi)
            AS DOUBLE)
           / COUNT(*) FILTER (WHERE v.value >= c.lo AND v.value <= c.hi)
           AS trimmed_mean,
       CAST(SUM(CAST(CASE WHEN v.value < c.lo THEN c.lo
                          WHEN v.value > c.hi THEN c.hi
                          ELSE v.value END AS DECIMAL(38,6)))
            AS DOUBLE) / COUNT(*) AS winsorized_mean
FROM v JOIN cuts c ON c.event_type = v.event_type
GROUP BY v.event_type
"""


@query("agg_trimmed_winsorized_means", oracle=_TRIM_ORACLE)
def agg_trimmed_winsorized_means(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Robust means per group: 5–95% trimmed (drop the tails) and
    winsorized (clamp the tails) — the outlier-resistant KPIs that keep
    one fat-fingered value from moving a dashboard. Exact percentile
    cutoffs per group (one pass), broadcast back, then ONE decimal
    aggregation computes both; the clamped/kept values are either raw
    grid values or the interpolated cutoffs, so decimal routing keeps
    the sums order-independent. At extreme scale swap the exact cutoffs
    for ``approx_percentile`` — the aggregation shape is unchanged."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    filt = ev.where(~F.isnan(v) & (F.abs(v) != float("inf"))).select(
        "event_type", "value"
    )
    # Exact cutoffs via the distributed running-count selector (the
    # F.percentile aggregate would buffer each group's distinct values
    # on one reducer); same interpolation arithmetic, same hashes.
    cuts = exact_percentiles(
        filt, ["event_type"], "value", {"lo": 0.05, "hi": 0.95}
    ).withColumnRenamed("event_type", "c_type")
    j = filt.join(
        F.broadcast(cuts), filt.event_type == cuts.c_type
    )
    kept = (v >= F.col("lo")) & (v <= F.col("hi"))
    clamped = (
        F.when(v < F.col("lo"), F.col("lo"))
        .when(v > F.col("hi"), F.col("hi"))
        .otherwise(v)
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.count(F.when(kept, 1)).cast("long").alias("n_kept"),
        (
            F.sum(F.when(kept, v.cast("decimal(38,6)"))).cast("double")
            / F.count(F.when(kept, 1))
        ).alias("trimmed_mean"),
        (
            F.sum(clamped.cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("winsorized_mean"),
    )


_THETA_BAND_ORACLE = """
WITH p AS (
    SELECT p_partkey, p_retailprice,
           CAST(floor(ln(p_retailprice) * 100) AS BIGINT) AS band
    FROM part WHERE p_retailprice > 0
),
cand AS (
    SELECT a.p_partkey, a.p_retailprice,
           b.p_partkey AS other_key, b.p_retailprice AS other_price
    FROM p a
    JOIN p b
      ON b.band BETWEEN a.band - 1 AND a.band + 1
     AND b.p_partkey <> a.p_partkey
)
SELECT p_partkey, p_retailprice,
       CAST(COUNT(CASE WHEN abs(other_price - p_retailprice)
                            <= p_retailprice * 0.01 THEN 1 END)
            AS BIGINT) AS n_similar_price
FROM cand
GROUP BY p_partkey, p_retailprice
"""


@query("join_theta_price_band", oracle=_THETA_BAND_ORACLE)
def join_theta_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta join made scalable: parts priced within ±1% of each other —
    a non-equi predicate that would plan as a cartesian — banded onto a
    log-price grid (1% ≈ one ln·100 bucket) so candidates come from an
    EQUI-join on adjacent bands and the exact |Δ| ≤ 1% check runs only
    inside bands. The candidate fan-out is bounded by band occupancy,
    never |parts|²; the same banding trick underlies every range/
    similarity join in this engine. A part reports count 0 when its
    adjacent bands hold candidates that all miss the exact check;
    parts with NO band-adjacent candidate at all drop out (inner
    join, mirrored by the oracle)."""
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_retailprice") > 0)
        .select(
            "p_partkey",
            "p_retailprice",
            F.floor(F.log(F.col("p_retailprice")) * 100)
            .cast("long")
            .alias("band"),
        )
    )
    a = p.alias("a")
    b = (
        p.select(
            F.col("p_partkey").alias("other_key"),
            F.col("p_retailprice").alias("other_price"),
            F.explode(
                F.array(
                    F.col("band") - 1, F.col("band"), F.col("band") + 1
                )
            ).alias("band"),
        )
    ).alias("b")
    cand = a.join(
        b,
        (F.col("a.band") == F.col("b.band"))
        & (F.col("a.p_partkey") != F.col("b.other_key")),
    )
    similar = F.when(
        F.abs(F.col("b.other_price") - F.col("a.p_retailprice"))
        <= F.col("a.p_retailprice") * 0.01,
        1,
    )
    return cand.groupBy(
        F.col("a.p_partkey").alias("p_partkey"),
        F.col("a.p_retailprice").alias("p_retailprice"),
    ).agg(F.count(similar).cast("long").alias("n_similar_price"))


_KS_ORACLE = """
WITH v AS (
    SELECT event_type AS g, value AS x FROM events
    WHERE NOT isnan(value) AND isfinite(value)
      AND event_type IN ('click', 'purchase')
),
per_val AS (
    SELECT x,
           CAST(COUNT(*) FILTER (WHERE g = 'click') AS BIGINT) AS c1,
           CAST(COUNT(*) FILTER (WHERE g = 'purchase') AS BIGINT) AS c2
    FROM v GROUP BY x
),
cum AS (
    SELECT x,
           SUM(c1) OVER (ORDER BY x) AS f1,
           SUM(c2) OVER (ORDER BY x) AS f2,
           SUM(c1) OVER () AS n1,
           SUM(c2) OVER () AS n2
    FROM per_val
)
SELECT CAST(n1 AS BIGINT) AS n_click,
       CAST(n2 AS BIGINT) AS n_purchase,
       x AS ks_at_value,
       CAST(abs(f1 * n2 - f2 * n1) AS DOUBLE) / (n1 * n2) AS ks_stat
FROM cum
ORDER BY abs(f1 * n2 - f2 * n1) DESC, x
LIMIT 1
"""


@query("agg_ks_two_sample", oracle=_KS_ORACLE)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov two-sample statistic between the click and
    purchase value distributions — the distribution-shift detector that
    sees shape changes a mean test misses. D = max|ECDF₁−ECDF₂| is
    computed over the DISTINCT value table (shuffle bounded by distinct
    values, one sort), and the sup runs in EXACT integers via the
    common-denominator form |F₁·n₂ − F₂·n₁| so the argmax cannot flip
    on float noise; the single division happens once, at the winner."""
    from pyspark.sql import Window as Win

    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    filt = ev.where(
        ~F.isnan(v)
        & (F.abs(v) != float("inf"))
        & F.col("event_type").isin("click", "purchase")
    ).select(F.col("event_type").alias("g"), v.alias("x"))
    per_val = filt.groupBy("x").agg(
        F.count(F.when(F.col("g") == "click", 1)).cast("long").alias("c1"),
        F.count(F.when(F.col("g") == "purchase", 1))
        .cast("long")
        .alias("c2"),
    )
    w_cum = Win.orderBy("x").rowsBetween(Win.unboundedPreceding, 0)
    w_all = Win.partitionBy()
    cum = per_val.select(
        "x",
        F.sum("c1").over(w_cum).alias("f1"),
        F.sum("c2").over(w_cum).alias("f2"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    )
    num = F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
    return (
        cum.select(
            F.col("n1").cast("long").alias("n_click"),
            F.col("n2").cast("long").alias("n_purchase"),
            F.col("x").alias("ks_at_value"),
            (num.cast("double") / (F.col("n1") * F.col("n2"))).alias(
                "ks_stat"
            ),
            num.alias("__num"),
        )
        .orderBy(F.col("__num").desc(), "ks_at_value")
        .limit(1)
        .drop("__num")
    )


_EB_RATES_ORACLE = """
WITH seg AS (
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE o.o_orderpriority = '1-URGENT')
                AS BIGINT) AS n_urgent
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
),
prior AS (
    SELECT CAST(SUM(n_urgent) AS DOUBLE) / SUM(n_orders) AS p0 FROM seg
)
SELECT s.segment, s.n_orders, s.n_urgent,
       CAST(s.n_urgent AS DOUBLE) / s.n_orders AS raw_rate,
       (s.n_urgent + 100 * g.p0) / (s.n_orders + 100)
           AS smoothed_rate
FROM seg s CROSS JOIN prior g
"""


@query("agg_empirical_bayes_rates", oracle=_EB_RATES_ORACLE)
def agg_empirical_bayes_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes rate smoothing: per-segment urgent-order rates
    shrunk toward the global prior with pseudo-count 100 — the estimator
    that stops a 3-order segment from topping a leaderboard with a 100%
    'rate'. One fact aggregation; the global prior is a 1-row broadcast;
    every number is a fixed IEEE dag over exact integer counts."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1))
            .cast("long")
            .alias("n_urgent"),
        )
    )
    glob = seg.agg(
        (
            F.sum("n_urgent").cast("double") / F.sum("n_orders")
        ).alias("p0")
    )
    return seg.crossJoin(F.broadcast(glob)).select(
        "segment",
        "n_orders",
        "n_urgent",
        (F.col("n_urgent").cast("double") / F.col("n_orders")).alias(
            "raw_rate"
        ),
        (
            (F.col("n_urgent") + 100 * F.col("p0"))
            / (F.col("n_orders") + 100)
        ).alias("smoothed_rate"),
    )


_POWER_ORACLE = """
WITH g AS (
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2
    FROM events
    WHERE NOT isnan(value) AND isfinite(value) AND value > 0
    GROUP BY event_type
),
st AS (
    SELECT event_type, n, s1 / n AS mean,
           (s2 - (s1 / n) * s1) / (n - 1) AS var
    FROM g
),
lifts AS (SELECT unnest([CAST(0.01 AS DOUBLE), CAST(0.05 AS DOUBLE),
                         CAST(0.10 AS DOUBLE)]) AS lift)
SELECT s.event_type, l.lift,
       CAST(s.n AS BIGINT) AS n_observed,
       s.mean, s.var,
       CAST(ceil(2 * s.var
                 * ((CAST(1.959963984540054 AS DOUBLE)
                     + CAST(0.8416212335729143 AS DOUBLE))
                    * (CAST(1.959963984540054 AS DOUBLE)
                       + CAST(0.8416212335729143 AS DOUBLE)))
                 / ((l.lift * s.mean) * (l.lift * s.mean)))
            AS BIGINT) AS required_n_per_arm
FROM st s CROSS JOIN lifts l
"""


@query("agg_ab_power_analysis", oracle=_POWER_ORACLE)
def agg_ab_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment sizing from observed variance: per event type, the
    samples-per-arm needed to detect a 1% / 5% / 10% relative lift at
    α=0.05 with 80% power — n = 2σ²(z₀.₉₇₅+z₀.₈)²/Δ². Sufficient
    statistics accumulate exactly in DECIMAL in one pass; the z
    constants are spelled as identical double literals on both sides
    (per the engine's literal-arithmetic discipline), so the ceil'd
    integer answers are engine-invariant."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    g = (
        ev.where(~F.isnan(v) & (F.abs(v) != float("inf")) & (v > 0))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(v.cast("decimal(38,6)")).cast("double").alias("s1"),
            F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("s2"),
        )
    )
    st = g.select(
        "event_type",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        (
            (F.col("s2") - (F.col("s1") / F.col("n")) * F.col("s1"))
            / (F.col("n") - 1)
        ).alias("var"),
    )
    lifts = spark.createDataFrame(
        [(0.01,), (0.05,), (0.10,)], "lift double"
    )
    z = F.lit(1.959963984540054) + F.lit(0.8416212335729143)
    delta = F.col("lift") * F.col("mean")
    return st.crossJoin(F.broadcast(lifts)).select(
        "event_type",
        "lift",
        F.col("n").cast("long").alias("n_observed"),
        "mean",
        "var",
        F.ceil(2 * F.col("var") * (z * z) / (delta * delta))
        .cast("long")
        .alias("required_n_per_arm"),
    )


_TWO_PROP_ORACLE = """
WITH seg AS (
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(COUNT(*) FILTER (WHERE o.o_orderpriority = '1-URGENT')
                AS DOUBLE) AS x
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    GROUP BY 1
),
ab AS (
    SELECT a.n AS n1, a.x AS x1, b.n AS n2, b.x AS x2
    FROM seg a, seg b
    WHERE a.segment = 'BUILDING' AND b.segment = 'MACHINERY'
)
SELECT CAST(n1 AS BIGINT) AS n_building,
       CAST(x1 AS BIGINT) AS urgent_building,
       CAST(n2 AS BIGINT) AS n_machinery,
       CAST(x2 AS BIGINT) AS urgent_machinery,
       x1 / n1 - x2 / n2 AS rate_diff,
       (x1 / n1 - x2 / n2)
           / sqrt(((x1 + x2) / (n1 + n2)) * (1 - (x1 + x2) / (n1 + n2))
                  * (1 / n1 + 1 / n2)) AS z_stat,
       abs((x1 / n1 - x2 / n2)
           / sqrt(((x1 + x2) / (n1 + n2)) * (1 - (x1 + x2) / (n1 + n2))
                  * (1 / n1 + 1 / n2)))
           > CAST(1.959963984540054 AS DOUBLE) AS significant_95
FROM ab
"""


@query("agg_two_proportion_z_test", oracle=_TWO_PROP_ORACLE)
def agg_two_proportion_z_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test (pooled): do BUILDING and MACHINERY
    segments have different urgent-order rates? — the conversion-rate
    comparison that closes the experiment loop opened by
    `agg_ab_power_analysis`. Exact integer counts in one pass; the
    z-statistic is a fixed IEEE dag over them (sqrt is correctly
    rounded), and the 95% verdict compares against the same double
    literal on both sides."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o.o_custkey == c.c_custkey,
        )
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1))
            .cast("double")
            .alias("x"),
        )
    )
    a = seg.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("n").alias("n1"), F.col("x").alias("x1")
    )
    b = seg.where(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("n").alias("n2"), F.col("x").alias("x2")
    )
    p1 = F.col("x1") / F.col("n1")
    p2 = F.col("x2") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")) / (F.col("n1") + F.col("n2"))
    z = (p1 - p2) / F.sqrt(
        pp * (1 - pp) * (1 / F.col("n1") + 1 / F.col("n2"))
    )
    return a.crossJoin(F.broadcast(b)).select(
        F.col("n1").cast("long").alias("n_building"),
        F.col("x1").cast("long").alias("urgent_building"),
        F.col("n2").cast("long").alias("n_machinery"),
        F.col("x2").cast("long").alias("urgent_machinery"),
        (p1 - p2).alias("rate_diff"),
        z.alias("z_stat"),
        (F.abs(z) > F.lit(1.959963984540054)).alias("significant_95"),
    )


_DID_ORACLE = """
WITH cells AS (
    SELECT (c.c_mktsegment = 'BUILDING') AS treated,
           (o.o_orderdate >= DATE '1996-01-01') AS post,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(*) AS mean_price
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    GROUP BY 1, 2
),
w AS (
    SELECT
        max(CASE WHEN treated AND post THEN mean_price END) AS t_post,
        max(CASE WHEN treated AND NOT post THEN mean_price END) AS t_pre,
        max(CASE WHEN NOT treated AND post THEN mean_price END) AS c_post,
        max(CASE WHEN NOT treated AND NOT post THEN mean_price END)
            AS c_pre,
        CAST(SUM(n) AS BIGINT) AS n_orders
    FROM cells
)
SELECT n_orders, t_pre, t_post, c_pre, c_post,
       t_post - t_pre AS treated_delta,
       c_post - c_pre AS control_delta,
       (t_post - t_pre) - (c_post - c_pre) AS did_estimate
FROM w
"""


@query("agg_diff_in_differences_orders", oracle=_DID_ORACLE)
def agg_diff_in_differences_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Difference-in-differences: BUILDING (treated) vs MACHINERY
    (control) mean order value before/after a 1996 cutoff — the causal
    panel estimator that nets out both the level gap between segments
    and the common time trend. Four cell means from ONE decimal-exact
    fact pass; the DiD contrast is three subtractions on them —
    bit-identical cross-engine with no rounding."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cells = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o.o_custkey == c.c_custkey,
        )
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .groupBy(
            (F.col("c_mktsegment") == "BUILDING").alias("treated"),
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date")).alias(
                "post"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("mean_price"),
        )
    )
    pick = lambda t, p: F.max(
        F.when((F.col("treated") == t) & (F.col("post") == p),
               F.col("mean_price"))
    )
    w = cells.agg(
        pick(True, True).alias("t_post"),
        pick(True, False).alias("t_pre"),
        pick(False, True).alias("c_post"),
        pick(False, False).alias("c_pre"),
        F.sum("n").cast("long").alias("n_orders"),
    )
    return w.select(
        "n_orders",
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        (F.col("t_post") - F.col("t_pre")).alias("treated_delta"),
        (F.col("c_post") - F.col("c_pre")).alias("control_delta"),
        (
            (F.col("t_post") - F.col("t_pre"))
            - (F.col("c_post") - F.col("c_pre"))
        ).alias("did_estimate"),
    )


_GINI_SPLIT_ORACLE = """
WITH lab AS (
    SELECT o_totalprice AS x,
           CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
    FROM orders
),
qarr AS (
    SELECT quantile_cont(x, [0.1, 0.2, 0.3, 0.4, 0.5,
                             0.6, 0.7, 0.8, 0.9]) AS a
    FROM lab
),
cuts AS (
    SELECT CAST(generate_subscripts(a, 1) AS BIGINT) AS decile,
           unnest(a) AS thresh
    FROM qarr
),
split AS (
    SELECT c.decile, c.thresh,
           CAST(COUNT(*) FILTER (WHERE l.x <= c.thresh) AS DOUBLE) AS nl,
           CAST(SUM(l.y) FILTER (WHERE l.x <= c.thresh) AS DOUBLE) AS pl,
           CAST(COUNT(*) FILTER (WHERE l.x > c.thresh) AS DOUBLE) AS nr,
           CAST(SUM(l.y) FILTER (WHERE l.x > c.thresh) AS DOUBLE) AS pr,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(l.y) AS DOUBLE) AS p
    FROM lab l CROSS JOIN cuts c
    GROUP BY c.decile, c.thresh
)
SELECT CAST(decile AS BIGINT) AS decile, thresh,
       CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
       (2 * (p / n) * (1 - p / n))
         - (nl / n) * (2 * (pl / nl) * (1 - pl / nl))
         - (nr / n) * (2 * (pr / nr) * (1 - pr / nr)) AS gini_gain
FROM split
WHERE nl > 0 AND nr > 0
ORDER BY gini_gain DESC, decile
LIMIT 1
"""


@query("agg_gini_split_finder", oracle=_GINI_SPLIT_ORACLE)
def agg_gini_split_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split search: which order-value decile threshold
    best separates urgent from non-urgent orders by Gini impurity
    reduction — the feature-screening primitive behind tree learners
    and binning decisions. Nine candidate cuts (exact deciles) broadcast
    against ONE labeled fact pass that accumulates left/right class
    counts per cut; the impurity algebra is a fixed IEEE dag over those
    exact counts, and the argmax is a 1-row TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders")
    lab = o.select(
        F.col("o_totalprice").alias("x"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("y"),
    )
    # Nine exact deciles over ONE global group: the former F.percentile
    # aggregate buffered every o_totalprice value on a single reducer
    # (the 100×-scale hazard); the running-count selector computes all
    # nine from one collapsed value-count pass + one external sort.
    pcts = exact_percentiles(
        lab, [], "x", {f"q{i}": i / 10 for i in range(1, 10)}
    )
    cuts = pcts.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).cast("long").alias("decile"),
                        F.col(f"q{i}").alias("thresh"),
                    )
                    for i in range(1, 10)
                ]
            )
        ).alias("c")
    ).select("c.decile", "c.thresh")
    j = lab.crossJoin(F.broadcast(cuts))
    left = F.col("x") <= F.col("thresh")
    split = j.groupBy("decile", "thresh").agg(
        F.count(F.when(left, 1)).cast("double").alias("nl"),
        F.sum(F.when(left, F.col("y"))).cast("double").alias("pl"),
        F.count(F.when(~left, 1)).cast("double").alias("nr"),
        F.sum(F.when(~left, F.col("y"))).cast("double").alias("pr"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y").cast("double").alias("p"),
    )
    gini = lambda p, n: 2 * (p / n) * (1 - p / n)
    gain = (
        gini(F.col("p"), F.col("n"))
        - (F.col("nl") / F.col("n")) * gini(F.col("pl"), F.col("nl"))
        - (F.col("nr") / F.col("n")) * gini(F.col("pr"), F.col("nr"))
    )
    return (
        split.where((F.col("nl") > 0) & (F.col("nr") > 0))
        .select(
            "decile",
            "thresh",
            F.col("nl").cast("long").alias("n_left"),
            F.col("nr").cast("long").alias("n_right"),
            gain.alias("gini_gain"),
        )
        .orderBy(F.col("gini_gain").desc(), "decile")
        .limit(1)
    )


_SPEARMAN_ORACLE = """
WITH pairs AS (
    SELECT o.o_totalprice AS x, c.c_acctbal AS y
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
),
rx AS (
    SELECT x, COALESCE(SUM(cnt) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + (cnt + 1) / CAST(2 AS DOUBLE) AS r
    FROM (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM pairs GROUP BY x)
),
ry AS (
    SELECT y, COALESCE(SUM(cnt) OVER (ORDER BY y
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              + (cnt + 1) / CAST(2 AS DOUBLE) AS r
    FROM (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM pairs GROUP BY y)
),
ranked AS (
    SELECT rx.r AS ra, ry.r AS rb
    FROM pairs p JOIN rx ON rx.x = p.x JOIN ry ON ry.y = p.y
),
s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(ra AS DECIMAL(38,2))) AS DOUBLE) AS sa,
           CAST(SUM(CAST(rb AS DECIMAL(38,2))) AS DOUBLE) AS sb,
           CAST(SUM(CAST(ra * rb AS DECIMAL(38,2))) AS DOUBLE) AS sab,
           CAST(SUM(CAST(ra * ra AS DECIMAL(38,2))) AS DOUBLE) AS saa,
           CAST(SUM(CAST(rb * rb AS DECIMAL(38,2))) AS DOUBLE) AS sbb
    FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_orders,
       (n * sab - sa * sb)
           / (sqrt(n * saa - sa * sa) * sqrt(n * sbb - sb * sb))
           AS spearman_rho
FROM s
"""


@query("agg_spearman_rank_corr", oracle=_SPEARMAN_ORACLE)
def agg_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order value and the customer's
    account balance — the monotone-association measure that sees what
    Pearson (`agg_corr_per_group`) misses under nonlinearity and
    outliers. Tie-averaged ranks come from distinct-value running
    counts (shuffle bounded by distinct values, same rewrite as the
    Mann–Whitney path); ranks are half-integers, so every sufficient
    statistic is exact on the 0.25 grid in DECIMAL and the final rho is
    a fixed IEEE dag."""
    from pyspark.sql import Window as Win

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    pairs = o.join(
        F.broadcast(c.select("c_custkey", "c_acctbal")),
        o.o_custkey == c.c_custkey,
    ).select(F.col("o_totalprice").alias("x"), F.col("c_acctbal").alias("y"))

    def ranks(df, col):
        per_val = df.groupBy(col).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        w = Win.orderBy(col).rowsBetween(Win.unboundedPreceding, -1)
        return per_val.select(
            col,
            (
                F.coalesce(F.sum("cnt").over(w), F.lit(0))
                + (F.col("cnt") + 1) / F.lit(2.0)
            ).alias(f"r_{col}"),
        )

    ranked = pairs.join(ranks(pairs, "x"), "x").join(
        ranks(pairs, "y"), "y"
    )
    ra, rb = F.col("r_x"), F.col("r_y")
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(ra.cast("decimal(38,2)")).cast("double").alias("sa"),
        F.sum(rb.cast("decimal(38,2)")).cast("double").alias("sb"),
        F.sum((ra * rb).cast("decimal(38,2)")).cast("double").alias("sab"),
        F.sum((ra * ra).cast("decimal(38,2)")).cast("double").alias("saa"),
        F.sum((rb * rb).cast("decimal(38,2)")).cast("double").alias("sbb"),
    )
    num = F.col("n") * F.col("sab") - F.col("sa") * F.col("sb")
    den = F.sqrt(
        F.col("n") * F.col("saa") - F.col("sa") * F.col("sa")
    ) * F.sqrt(F.col("n") * F.col("sbb") - F.col("sb") * F.col("sb"))
    return s.select(
        F.col("n").cast("long").alias("n_orders"),
        (num / den).alias("spearman_rho"),
    )


def _lineitem_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row of the ten sufficient statistics of lineitem's (quantity,
    extendedprice, discount) = (q, p, d): ``n`` and the decimal-exact sums
    ``sq sp sd sqq sqp sqd spp spd sdd``, in one fact pass (2-decimal
    measures keep every product on the 6-dp grid)."""
    li = load_table(spark, sf_dir, "lineitem")
    q, p, d = (
        F.col("l_quantity"),
        F.col("l_extendedprice"),
        F.col("l_discount"),
    )
    # The exact-decimal partial aggregate runs on the scan's partitioning,
    # and the fixture is ONE parquet split — the whole pass would serialize
    # onto one core. Fan the 3-column projection over the session's cores
    # first (_fan_out is a gated no-op at cluster scale).
    return _fan_out(
        li.select("l_quantity", "l_extendedprice", "l_discount")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(q, "sq"),
        dsum(p, "sp"),
        dsum(d, "sd"),
        dsum(q * q, "sqq"),
        dsum(q * p, "sqp"),
        dsum(q * d, "sqd"),
        dsum(p * p, "spp"),
        dsum(p * d, "spd"),
        dsum(d * d, "sdd"),
    )


def _moment_covariances() -> list:
    """The sample covariances ``c11 c12 c13 c22 c23 c33`` of a
    :func:`_lineitem_moments` row (1 = q, 2 = p, 3 = d)."""
    n = F.col("n")
    return [
        ((F.col(sab) - F.col(sa) * F.col(sb) / n) / (n - 1)).alias(name)
        for name, sab, sa, sb in (
            ("c11", "sqq", "sq", "sq"),
            ("c12", "sqp", "sq", "sp"),
            ("c13", "sqd", "sq", "sd"),
            ("c22", "spp", "sp", "sp"),
            ("c23", "spd", "sp", "sd"),
            ("c33", "sdd", "sd", "sd"),
        )
    ]


_COV_MATRIX_ORACLE = """
WITH s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sq,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS sp,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sd,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
                AS DOUBLE) AS sqq,
           CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
                AS DOUBLE) AS sqp,
           CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS sqd,
           CAST(SUM(CAST(l_extendedprice * l_extendedprice
                         AS DECIMAL(38,6))) AS DOUBLE) AS spp,
           CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS spd,
           CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS sdd
    FROM lineitem
)
SELECT v.var_a, v.var_b,
       CAST(s.n AS BIGINT) AS n_rows,
       (v.sab - v.sa * v.sb / s.n) / (s.n - 1) AS covariance
FROM s, LATERAL (
    SELECT * FROM (VALUES
        ('quantity', 'quantity', s.sq, s.sq, s.sqq),
        ('quantity', 'extendedprice', s.sq, s.sp, s.sqp),
        ('quantity', 'discount', s.sq, s.sd, s.sqd),
        ('extendedprice', 'extendedprice', s.sp, s.sp, s.spp),
        ('extendedprice', 'discount', s.sp, s.sd, s.spd),
        ('discount', 'discount', s.sd, s.sd, s.sdd)
    ) AS t(var_a, var_b, sa, sb, sab)
) v
"""


@query("agg_covariance_matrix", oracle=_COV_MATRIX_ORACLE)
def agg_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample covariance matrix of (quantity, extendedprice, discount) —
    the upper triangle as rows, the multivariate primitive under PCA /
    whitening / anomaly scores. All nine sufficient statistics
    accumulate exactly in DECIMAL in ONE fact pass (2-decimal measures ⇒
    products stay on the 6-dp grid); each covariance is then a fixed
    IEEE dag — bit-identical with no second pass and no rounding."""
    s = _lineitem_moments(spark, sf_dir)
    combos = [
        ("quantity", "quantity", "sq", "sq", "sqq"),
        ("quantity", "extendedprice", "sq", "sp", "sqp"),
        ("quantity", "discount", "sq", "sd", "sqd"),
        ("extendedprice", "extendedprice", "sp", "sp", "spp"),
        ("extendedprice", "discount", "sp", "sd", "spd"),
        ("discount", "discount", "sd", "sd", "sdd"),
    ]
    rows = s.select(
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("var_a"),
                        F.lit(b).alias("var_b"),
                        F.col(sa).alias("sa"),
                        F.col(sb).alias("sb"),
                        F.col(sab).alias("sab"),
                    )
                    for a, b, sa, sb, sab in combos
                ]
            )
        ).alias("t"),
    )
    return rows.select(
        F.col("t.var_a").alias("var_a"),
        F.col("t.var_b").alias("var_b"),
        F.col("n").cast("long").alias("n_rows"),
        (
            (F.col("t.sab") - F.col("t.sa") * F.col("t.sb") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("covariance"),
    )


def _pca_iter_sql(n_iters: int = 12) -> str:
    """Generate the unrolled power-iteration CTE chain (mirrors the
    Spark expression dag line for line, the BPE-oracle technique)."""
    ctes = ["""it0 AS (
    SELECT c11, c12, c13, c22, c23, c33,
           CAST(1 AS DOUBLE) / sqrt(CAST(3 AS DOUBLE)) AS v1,
           CAST(1 AS DOUBLE) / sqrt(CAST(3 AS DOUBLE)) AS v2,
           CAST(1 AS DOUBLE) / sqrt(CAST(3 AS DOUBLE)) AS v3
    FROM cov
)"""]
    for i in range(1, n_iters + 1):
        ctes.append(f"""it{i} AS (
    SELECT c11, c12, c13, c22, c23, c33,
           (c11 * v1 + c12 * v2 + c13 * v3)
               / sqrt((c11 * v1 + c12 * v2 + c13 * v3)
                      * (c11 * v1 + c12 * v2 + c13 * v3)
                      + (c12 * v1 + c22 * v2 + c23 * v3)
                      * (c12 * v1 + c22 * v2 + c23 * v3)
                      + (c13 * v1 + c23 * v2 + c33 * v3)
                      * (c13 * v1 + c23 * v2 + c33 * v3)) AS v1,
           (c12 * v1 + c22 * v2 + c23 * v3)
               / sqrt((c11 * v1 + c12 * v2 + c13 * v3)
                      * (c11 * v1 + c12 * v2 + c13 * v3)
                      + (c12 * v1 + c22 * v2 + c23 * v3)
                      * (c12 * v1 + c22 * v2 + c23 * v3)
                      + (c13 * v1 + c23 * v2 + c33 * v3)
                      * (c13 * v1 + c23 * v2 + c33 * v3)) AS v2,
           (c13 * v1 + c23 * v2 + c33 * v3)
               / sqrt((c11 * v1 + c12 * v2 + c13 * v3)
                      * (c11 * v1 + c12 * v2 + c13 * v3)
                      + (c12 * v1 + c22 * v2 + c23 * v3)
                      * (c12 * v1 + c22 * v2 + c23 * v3)
                      + (c13 * v1 + c23 * v2 + c33 * v3)
                      * (c13 * v1 + c23 * v2 + c33 * v3)) AS v3
    FROM it{i - 1}
)""")
    return ",\n".join(ctes)


_PCA_ORACLE = (
    """
WITH s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sq,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS sp,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sd,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
                AS DOUBLE) AS sqq,
           CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
                AS DOUBLE) AS sqp,
           CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS sqd,
           CAST(SUM(CAST(l_extendedprice * l_extendedprice
                         AS DECIMAL(38,6))) AS DOUBLE) AS spp,
           CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS spd,
           CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS sdd
    FROM lineitem
),
cov AS (
    SELECT (sqq - sq * sq / n) / (n - 1) AS c11,
           (sqp - sq * sp / n) / (n - 1) AS c12,
           (sqd - sq * sd / n) / (n - 1) AS c13,
           (spp - sp * sp / n) / (n - 1) AS c22,
           (spd - sp * sd / n) / (n - 1) AS c23,
           (sdd - sd * sd / n) / (n - 1) AS c33
    FROM s
),
"""
    + _pca_iter_sql(12)
    + """
SELECT CASE WHEN v1 < 0 THEN -v1 ELSE v1 END AS loading_quantity,
       CASE WHEN v1 < 0 THEN -v2 ELSE v2 END AS loading_extendedprice,
       CASE WHEN v1 < 0 THEN -v3 ELSE v3 END AS loading_discount,
       v1 * (c11 * v1 + c12 * v2 + c13 * v3)
       + v2 * (c12 * v1 + c22 * v2 + c23 * v3)
       + v3 * (c13 * v1 + c23 * v2 + c33 * v3) AS top_eigenvalue,
       (v1 * (c11 * v1 + c12 * v2 + c13 * v3)
        + v2 * (c12 * v1 + c22 * v2 + c23 * v3)
        + v3 * (c13 * v1 + c23 * v2 + c33 * v3))
           / (c11 + c22 + c33) AS explained_variance_share
FROM it12
"""
)


@query("agg_pca_top_component", oracle=_PCA_ORACLE)
def agg_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA top principal component of (quantity, extendedprice,
    discount), computed ENTIRELY in-plan: the 3×3 covariance from one
    decimal-exact fact pass, then 12 unrolled power-iteration steps as
    column expressions on that single row — no MLlib, no driver-side
    numerics, and the oracle's CTE chain replays the identical IEEE dag
    step for step (the generated-unroll technique the BPE oracle uses),
    so loadings, eigenvalue, and explained-variance share are
    bit-identical. Sign fixed by forcing the first loading positive.
    At scale only the sufficient-statistics pass touches data."""
    s = _lineitem_moments(spark, sf_dir)
    cov = s.select(*_moment_covariances())
    it = cov.select(
        "*",
        (F.lit(1.0) / F.sqrt(F.lit(3.0))).alias("v1"),
        (F.lit(1.0) / F.sqrt(F.lit(3.0))).alias("v2"),
        (F.lit(1.0) / F.sqrt(F.lit(3.0))).alias("v3"),
    )
    for _ in range(12):
        w1 = (
            F.col("c11") * F.col("v1")
            + F.col("c12") * F.col("v2")
            + F.col("c13") * F.col("v3")
        )
        w2 = (
            F.col("c12") * F.col("v1")
            + F.col("c22") * F.col("v2")
            + F.col("c23") * F.col("v3")
        )
        w3 = (
            F.col("c13") * F.col("v1")
            + F.col("c23") * F.col("v2")
            + F.col("c33") * F.col("v3")
        )
        nrm = F.sqrt(w1 * w1 + w2 * w2 + w3 * w3)
        it = it.select(
            "c11",
            "c12",
            "c13",
            "c22",
            "c23",
            "c33",
            (w1 / nrm).alias("v1"),
            (w2 / nrm).alias("v2"),
            (w3 / nrm).alias("v3"),
        )
    w1 = (
        F.col("c11") * F.col("v1")
        + F.col("c12") * F.col("v2")
        + F.col("c13") * F.col("v3")
    )
    w2 = (
        F.col("c12") * F.col("v1")
        + F.col("c22") * F.col("v2")
        + F.col("c23") * F.col("v3")
    )
    w3 = (
        F.col("c13") * F.col("v1")
        + F.col("c23") * F.col("v2")
        + F.col("c33") * F.col("v3")
    )
    lam = F.col("v1") * w1 + F.col("v2") * w2 + F.col("v3") * w3
    flip = F.when(F.col("v1") < 0, -1.0).otherwise(1.0)
    return it.select(
        (flip * F.col("v1")).alias("loading_quantity"),
        (flip * F.col("v2")).alias("loading_extendedprice"),
        (flip * F.col("v3")).alias("loading_discount"),
        lam.alias("top_eigenvalue"),
        (lam / (F.col("c11") + F.col("c22") + F.col("c33"))).alias(
            "explained_variance_share"
        ),
    )


_MAHAL_ORACLE = """
WITH s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sq,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS sp,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sd,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
                AS DOUBLE) AS sqq,
           CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
                AS DOUBLE) AS sqp,
           CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS sqd,
           CAST(SUM(CAST(l_extendedprice * l_extendedprice
                         AS DECIMAL(38,6))) AS DOUBLE) AS spp,
           CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS spd,
           CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS sdd
    FROM lineitem
),
cov AS (
    SELECT sq / n AS m1, sp / n AS m2, sd / n AS m3,
           (sqq - sq * sq / n) / (n - 1) AS c11,
           (sqp - sq * sp / n) / (n - 1) AS c12,
           (sqd - sq * sd / n) / (n - 1) AS c13,
           (spp - sp * sp / n) / (n - 1) AS c22,
           (spd - sp * sd / n) / (n - 1) AS c23,
           (sdd - sd * sd / n) / (n - 1) AS c33
    FROM s
),
inv AS (
    SELECT m1, m2, m3,
           (c22 * c33 - c23 * c23) AS a11,
           (c13 * c23 - c12 * c33) AS a12,
           (c12 * c23 - c13 * c22) AS a13,
           (c11 * c33 - c13 * c13) AS a22,
           (c13 * c12 - c11 * c23) AS a23,
           (c11 * c22 - c12 * c12) AS a33,
           c11 * (c22 * c33 - c23 * c23)
             + c12 * (c13 * c23 - c12 * c33)
             + c13 * (c12 * c23 - c13 * c22) AS det
    FROM cov
),
scored AS (
    SELECT l.l_orderkey, l.l_linenumber,
           (l.l_quantity - i.m1) AS d1,
           (l.l_extendedprice - i.m2) AS d2,
           (l.l_discount - i.m3) AS d3,
           i.a11, i.a12, i.a13, i.a22, i.a23, i.a33, i.det
    FROM lineitem l CROSS JOIN inv i
)
SELECT l_orderkey, l_linenumber,
       (d1 * (a11 * d1 + a12 * d2 + a13 * d3)
        + d2 * (a12 * d1 + a22 * d2 + a23 * d3)
        + d3 * (a13 * d1 + a23 * d2 + a33 * d3)) / det AS mahal_sq
FROM scored
ORDER BY mahal_sq DESC, l_orderkey, l_linenumber
LIMIT 20
"""


@query("agg_mahalanobis_outliers", oracle=_MAHAL_ORACLE)
def agg_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate outlier shortlist: the 20 lineitems with the largest
    squared Mahalanobis distance over (quantity, extendedprice,
    discount) — the anomaly score that catches jointly-impossible
    combinations (huge quantity at deep discount) that per-column IQR
    fences miss. The 3×3 covariance INVERSE is closed-form adjugate
    arithmetic on the one-row stats (no linear-algebra library), the
    1-row matrix broadcasts onto the fact scan, and the top-20 plans as
    TakeOrderedAndProject — two passes total at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    q, p, d = (
        F.col("l_quantity"),
        F.col("l_extendedprice"),
        F.col("l_discount"),
    )
    s = _lineitem_moments(spark, sf_dir)
    n = F.col("n")
    cov = s.select(
        (F.col("sq") / n).alias("m1"),
        (F.col("sp") / n).alias("m2"),
        (F.col("sd") / n).alias("m3"),
        *_moment_covariances(),
    )
    c11, c12, c13 = F.col("c11"), F.col("c12"), F.col("c13")
    c22, c23, c33 = F.col("c22"), F.col("c23"), F.col("c33")
    inv = cov.select(
        "m1",
        "m2",
        "m3",
        (c22 * c33 - c23 * c23).alias("a11"),
        (c13 * c23 - c12 * c33).alias("a12"),
        (c12 * c23 - c13 * c22).alias("a13"),
        (c11 * c33 - c13 * c13).alias("a22"),
        (c13 * c12 - c11 * c23).alias("a23"),
        (c11 * c22 - c12 * c12).alias("a33"),
        (
            c11 * (c22 * c33 - c23 * c23)
            + c12 * (c13 * c23 - c12 * c33)
            + c13 * (c12 * c23 - c13 * c22)
        ).alias("det"),
    )
    scored = li.crossJoin(F.broadcast(inv)).select(
        "l_orderkey",
        "l_linenumber",
        (q - F.col("m1")).alias("d1"),
        (p - F.col("m2")).alias("d2"),
        (d - F.col("m3")).alias("d3"),
        "a11",
        "a12",
        "a13",
        "a22",
        "a23",
        "a33",
        "det",
    )
    d1, d2, d3 = F.col("d1"), F.col("d2"), F.col("d3")
    mahal = (
        d1 * (F.col("a11") * d1 + F.col("a12") * d2 + F.col("a13") * d3)
        + d2 * (F.col("a12") * d1 + F.col("a22") * d2 + F.col("a23") * d3)
        + d3 * (F.col("a13") * d1 + F.col("a23") * d2 + F.col("a33") * d3)
    ) / F.col("det")
    return (
        scored.select(
            "l_orderkey", "l_linenumber", mahal.alias("mahal_sq")
        )
        .orderBy(
            F.col("mahal_sq").desc(), "l_orderkey", "l_linenumber"
        )
        .limit(20)
    )


_OLS_ORACLE = """
WITH s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx1,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sx2,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS sy,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
                AS DOUBLE) AS s11,
           CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS s12,
           CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS s22,
           CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
                AS DOUBLE) AS s1y,
           CAST(SUM(CAST(l_discount * l_extendedprice AS DECIMAL(38,6)))
                AS DOUBLE) AS s2y,
           CAST(SUM(CAST(l_extendedprice * l_extendedprice
                         AS DECIMAL(38,6))) AS DOUBLE) AS syy
    FROM lineitem
),
xtx AS (
    SELECT n, sy, syy,
           n AS g11, sx1 AS g12, sx2 AS g13,
           s11 AS g22, s12 AS g23, s22 AS g33,
           sx1, sx2, s1y, s2y
    FROM s
),
inv AS (
    SELECT *,
           g11 * (g22 * g33 - g23 * g23)
             + g12 * (g13 * g23 - g12 * g33)
             + g13 * (g12 * g23 - g13 * g22) AS det
    FROM xtx
),
beta AS (
    SELECT n, sy, syy, sx1, sx2, s1y, s2y,
           ((g22 * g33 - g23 * g23) * sy
            + (g13 * g23 - g12 * g33) * s1y
            + (g12 * g23 - g13 * g22) * s2y) / det AS b0,
           ((g13 * g23 - g12 * g33) * sy
            + (g11 * g33 - g13 * g13) * s1y
            + (g13 * g12 - g11 * g23) * s2y) / det AS b1,
           ((g12 * g23 - g13 * g22) * sy
            + (g13 * g12 - g11 * g23) * s1y
            + (g11 * g22 - g12 * g12) * s2y) / det AS b2
    FROM inv
)
SELECT CAST(n AS BIGINT) AS n_rows, b0 AS intercept,
       b1 AS coef_quantity, b2 AS coef_discount,
       1 - (syy - b0 * sy - b1 * s1y - b2 * s2y)
           / (syy - sy * sy / n) AS r_squared
FROM beta
"""


@query("agg_ols_two_features", oracle=_OLS_ORACLE)
def agg_ols_two_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple linear regression IN-PLAN: extendedprice on quantity and
    discount by closed-form normal equations — the 3×3 X'X assembles
    from ten decimal-exact sufficient statistics in one pass, inverts
    by adjugate arithmetic (same trick as the Mahalanobis query), and
    R² falls out of the same sums — no MLlib, no second data pass,
    bit-identical coefficients cross-engine. The multivariate upgrade
    of `agg_linear_trend`."""
    # x1 = quantity (q), x2 = discount (d), y = extendedprice (p).
    s = _lineitem_moments(spark, sf_dir)
    g11, g12, g13 = F.col("n"), F.col("sq"), F.col("sd")
    g22, g23, g33 = F.col("sqq"), F.col("sqd"), F.col("sdd")
    det = (
        g11 * (g22 * g33 - g23 * g23)
        + g12 * (g13 * g23 - g12 * g33)
        + g13 * (g12 * g23 - g13 * g22)
    )
    sy, s1y, s2y = F.col("sp"), F.col("sqp"), F.col("spd")
    b0 = (
        (g22 * g33 - g23 * g23) * sy
        + (g13 * g23 - g12 * g33) * s1y
        + (g12 * g23 - g13 * g22) * s2y
    ) / det
    b1 = (
        (g13 * g23 - g12 * g33) * sy
        + (g11 * g33 - g13 * g13) * s1y
        + (g13 * g12 - g11 * g23) * s2y
    ) / det
    b2 = (
        (g12 * g23 - g13 * g22) * sy
        + (g13 * g12 - g11 * g23) * s1y
        + (g11 * g22 - g12 * g12) * s2y
    ) / det
    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        b0.alias("intercept"),
        b1.alias("coef_quantity"),
        b2.alias("coef_discount"),
        (
            1
            - (F.col("spp") - b0 * sy - b1 * s1y - b2 * s2y)
            / (F.col("spp") - sy * sy / F.col("n"))
        ).alias("r_squared"),
    )


def _kmeans_iter_sql(n_iters: int = 4) -> str:
    """Unrolled 1-D 2-means Lloyd steps (generated to mirror the Spark
    loop): centers update to the decimal-exact means of their halves,
    split at the midpoint."""
    ctes = []
    for i in range(1, n_iters + 1):
        ctes.append(f"""it{i} AS (
    SELECT CAST(SUM(CAST(x AS DECIMAL(38,6)))
                    FILTER (WHERE x < (c1 + c2) / 2) AS DOUBLE)
               / COUNT(*) FILTER (WHERE x < (c1 + c2) / 2) AS c1,
           CAST(SUM(CAST(x AS DECIMAL(38,6)))
                    FILTER (WHERE x >= (c1 + c2) / 2) AS DOUBLE)
               / COUNT(*) FILTER (WHERE x >= (c1 + c2) / 2) AS c2
    FROM pts, it{i - 1}
)""")
    return ",\n".join(ctes)


_KMEANS_ORACLE = (
    """
WITH pts AS (SELECT o_totalprice AS x FROM orders),
it0 AS (
    SELECT CAST(min(x) AS DOUBLE) AS c1, CAST(max(x) AS DOUBLE) AS c2
    FROM pts
),
"""
    + _kmeans_iter_sql(4)
    + """
SELECT CAST(COUNT(*) FILTER (WHERE x < (c1 + c2) / 2) AS BIGINT)
           AS n_low,
       CAST(COUNT(*) FILTER (WHERE x >= (c1 + c2) / 2) AS BIGINT)
           AS n_high,
       c1 AS center_low, c2 AS center_high,
       (c1 + c2) / 2 AS split_point
FROM pts, it4
GROUP BY c1, c2
"""
)


@query("agg_kmeans_1d_two_centers", oracle=_KMEANS_ORACLE)
def agg_kmeans_1d_two_centers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D 2-means clustering of order values, four Lloyd iterations
    unrolled IN-PLAN (min/max seed → split at the center midpoint →
    decimal-exact half means): the natural low/high order-value
    segmentation with a data-derived split point instead of an
    arbitrary threshold. Each iteration is one map-side-combinable
    aggregate over the fact scan with the 1-row center pair broadcast —
    k passes for k iterations, no MLlib, and the oracle replays the
    identical iteration dag."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(F.col("o_totalprice").alias("x"))
    centers = pts.agg(
        F.min("x").cast("double").alias("c1"),
        F.max("x").cast("double").alias("c2"),
    )
    for _ in range(4):
        mid = (F.col("c1") + F.col("c2")) / 2
        low = F.col("x") < mid
        centers = pts.crossJoin(F.broadcast(centers)).agg(
            (
                F.sum(F.when(low, F.col("x").cast("decimal(38,6)")))
                .cast("double")
                / F.count(F.when(low, 1))
            ).alias("c1"),
            (
                F.sum(F.when(~low, F.col("x").cast("decimal(38,6)")))
                .cast("double")
                / F.count(F.when(~low, 1))
            ).alias("c2"),
        )
    mid = (F.col("c1") + F.col("c2")) / 2
    return (
        pts.crossJoin(F.broadcast(centers))
        .groupBy("c1", "c2")
        .agg(
            F.count(F.when(F.col("x") < mid, 1)).cast("long").alias(
                "n_low"
            ),
            F.count(F.when(F.col("x") >= mid, 1)).cast("long").alias(
                "n_high"
            ),
        )
        .select(
            "n_low",
            "n_high",
            F.col("c1").alias("center_low"),
            F.col("c2").alias("center_high"),
            mid.alias("split_point"),
        )
    )


_CAPTURE_ORACLE = """
WITH u AS (SELECT DISTINCT user_id FROM events),
marked AS (
    SELECT user_id,
           (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 7) < 3 AS in_a,
           (CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8))
                 AS BIGINT) % 11) < 5 AS in_b
    FROM u
)
SELECT CAST(COUNT(*) AS BIGINT) AS true_population,
       CAST(COUNT(*) FILTER (WHERE in_a) AS BIGINT) AS n_sample_a,
       CAST(COUNT(*) FILTER (WHERE in_b) AS BIGINT) AS n_sample_b,
       CAST(COUNT(*) FILTER (WHERE in_a AND in_b) AS BIGINT) AS n_both,
       CAST(COUNT(*) FILTER (WHERE in_a) AS DOUBLE)
           * COUNT(*) FILTER (WHERE in_b)
           / COUNT(*) FILTER (WHERE in_a AND in_b)
           AS lincoln_petersen_estimate
FROM marked
"""


@query("agg_capture_recapture", oracle=_CAPTURE_ORACLE)
def agg_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lincoln–Petersen capture-recapture: estimate the user population
    from two INDEPENDENT deterministic hash samples and their overlap
    (N̂ = n_A·n_B / n_both) — the coverage estimator for 'how many
    entities exist that neither crawl fully saw', here checkable
    against the true count the fixture makes visible. Independence
    comes from disjoint md5 substrings driving the two marks; one
    distinct pass, exact counts, one division."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    h = F.md5(F.col("user_id").cast("string"))
    in_a = (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 7 < 3
    )
    in_b = (
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long") % 11 < 5
    )
    marked = u.select(in_a.alias("in_a"), in_b.alias("in_b"))
    na = F.count(F.when(F.col("in_a"), 1))
    nb = F.count(F.when(F.col("in_b"), 1))
    nboth = F.count(F.when(F.col("in_a") & F.col("in_b"), 1))
    return marked.agg(
        F.count(F.lit(1)).cast("long").alias("true_population"),
        na.cast("long").alias("n_sample_a"),
        nb.cast("long").alias("n_sample_b"),
        nboth.cast("long").alias("n_both"),
        (na.cast("double") * nb / nboth).alias(
            "lincoln_petersen_estimate"
        ),
    )


def _boot_rep_sql(n_reps: int = 20) -> str:
    """Per-replicate weighted sums: weight of row r in replicate b is a
    4-hex-digit slice of md5(id:g) mod 4 (mean 1.5), g = b div 8 — the
    deterministic replicate-weight trick that bootstraps WITHOUT
    duplicating data. Eight replicates share one md5 (32 hex chars = 8
    disjoint 4-char slices), so 20 replicates cost 3 hashes per row
    instead of 20 — the hash, not the weighted sum, was ~2/3 of the
    query's one data pass."""
    cols = []
    for b in range(n_reps):
        g, s = divmod(b, 8)
        w = (
            f"(CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) "
            f"|| ':{g}'), {4 * s + 1}, 4)) AS BIGINT) % 4)"
        )
        cols.append(
            f"CAST(SUM(CAST({w} * v AS DECIMAL(38,6))) AS DOUBLE)"
            f" / SUM({w}) AS m{b}"
        )
    return ",\n           ".join(cols)


_BOOTSTRAP_ORACLE = (
    """
WITH v AS (
    SELECT event_id,
           CASE WHEN isnan(value) OR isinf(value) THEN 0
                ELSE value END AS v
    FROM events
),
reps AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
               AS point_mean,
           """
    + _boot_rep_sql(20)
    + """
    FROM v
),
stacked AS (
    SELECT n_rows, point_mean,
           CAST(round(CAST(CAST(m AS DECIMAL(38,6)) AS DOUBLE)
                      * 1000000, 0) AS BIGINT) AS mi
    FROM reps, LATERAL (SELECT unnest(["""
    + ", ".join(f"m{b}" for b in range(20))
    + """]) AS m)
)
SELECT any_value(n_rows) AS n_rows,
       any_value(point_mean) AS point_mean,
       CAST(COUNT(*) AS BIGINT) AS n_replicates,
       sqrt((CAST(SUM(mi * mi) AS DOUBLE)
             - CAST(SUM(mi) AS DOUBLE) * CAST(SUM(mi) AS DOUBLE)
               / COUNT(*)) / (COUNT(*) - 1)) / 1000000 AS se_bootstrap
FROM stacked
GROUP BY n_rows, point_mean
"""
)


@query("agg_bootstrap_se_mean", oracle=_BOOTSTRAP_ORACLE)
def agg_bootstrap_se_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap standard error of the mean WITHOUT resampling the data:
    20 deterministic replicate weights (disjoint 4-hex slices of
    md5(id:g), g = b div 8, mod 4 per row per replicate — the
    Poisson-bootstrap trick production engines use for distributed
    uncertainty, at 3 hashes per row instead of 20 since eight
    replicates share one digest) ride ONE data pass as 20 weighted
    decimal sums; the replicate means quantize onto the decimal grid
    and their exact-sum variance yields the SE. Compare against
    `agg_ab_power_analysis`'s parametric SE to audit normality
    assumptions — all engine-invariant."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    v = F.when(
        F.isnan("value") | F.col("value").isin(float("inf"), float("-inf")),
        F.lit(0.0),
    ).otherwise(F.col("value"))
    # The 3 md5/row + 22 exact-decimal sums all run in the PARTIAL
    # aggregate, i.e. on the scan's partitioning — and the fixture is one
    # parquet split, serializing the whole pass onto one core (round-11
    # measurement; the same single-split finding as minhash_signatures).
    # _fan_out is a gated no-op whenever the scan already has ≥ cores
    # partitions; the 2-column projection keeps the spread shuffle small.
    base = _fan_out(ev.select(F.col("event_id"), v.alias("v")))
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (
            F.sum(F.col("v").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("point_mean"),
    ]
    digests = {
        g: F.md5(
            F.concat(F.col("event_id").cast("string"), F.lit(f":{g}"))
        )
        for g in range(3)
    }
    for b in range(20):
        g, s = divmod(b, 8)
        w = (
            F.conv(
                F.substring(digests[g], 4 * s + 1, 4),
                16,
                10,
            ).cast("long")
            % 4
        )
        aggs.append(
            (
                F.sum((w * F.col("v")).cast("decimal(38,6)")).cast(
                    "double"
                )
                / F.sum(w)
            ).alias(f"m{b}")
        )
    reps = base.agg(*aggs)
    stacked = reps.select(
        "n_rows",
        "point_mean",
        F.explode(
            F.array(*[F.col(f"m{b}") for b in range(20)])
        ).alias("m"),
    ).select(
        "n_rows",
        "point_mean",
        # Grid-snap each replicate mean, then lift to exact integer
        # micro-units: a decimal*decimal product would hit Spark's
        # precision-loss truncation, but int64 sums of mi and mi^2 are
        # exact in both engines.
        F.round(
            F.col("m").cast("decimal(38,6)").cast("double") * 1000000, 0
        )
        .cast("long")
        .alias("mi"),
    )
    cnt = F.count(F.lit(1))
    return stacked.groupBy("n_rows", "point_mean").agg(
        cnt.cast("long").alias("n_replicates"),
        (
            F.sqrt(
                (
                    F.sum(F.col("mi") * F.col("mi")).cast("double")
                    - F.sum("mi").cast("double")
                    * F.sum("mi").cast("double")
                    / cnt
                )
                / (cnt - 1)
            )
            / 1000000
        ).alias("se_bootstrap"),
    ).select("n_rows", "point_mean", "n_replicates", "se_bootstrap")


# Normal tail probability via the Abramowitz–Stegun 7.1.26 erf
# polynomial — a fixed IEEE dag both engines evaluate identically
# (exp() may differ by 1 ulp between libm and java.lang.Math, which the
# 6-decimal rounding absorbs; the BH comparisons then use the ROUNDED
# p-values on both sides, so accept/reject decisions cannot diverge).
_BH_ORACLE = """
WITH seg AS (
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(COUNT(*) FILTER (WHERE o.o_orderpriority = '1-URGENT')
               AS DOUBLE) AS x
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
),
tot AS (SELECT SUM(n) AS nn, SUM(x) AS xx, COUNT(*) AS m FROM seg),
z AS (
    SELECT segment, n, x, m,
           (x / n - (xx - x) / (nn - n))
           / sqrt((xx / nn) * (1 - xx / nn) * (1 / n + 1 / (nn - n)))
               AS zval
    FROM seg CROSS JOIN tot
),
p AS (
    SELECT segment, n, x, m, zval,
           round(2 * (0.5 - 0.5 * (1 - (CAST(0.254829592 AS DOUBLE)
                     * (1 / (1 + CAST(0.3275911 AS DOUBLE)
                                 * (abs(zval) / sqrt(CAST(2 AS DOUBLE)))))
                 + CAST(-0.284496736 AS DOUBLE)
                     * pow(1 / (1 + CAST(0.3275911 AS DOUBLE)
                                * (abs(zval) / sqrt(CAST(2 AS DOUBLE)))), 2)
                 + CAST(1.421413741 AS DOUBLE)
                     * pow(1 / (1 + CAST(0.3275911 AS DOUBLE)
                                * (abs(zval) / sqrt(CAST(2 AS DOUBLE)))), 3)
                 + CAST(-1.453152027 AS DOUBLE)
                     * pow(1 / (1 + CAST(0.3275911 AS DOUBLE)
                                * (abs(zval) / sqrt(CAST(2 AS DOUBLE)))), 4)
                 + CAST(1.061405429 AS DOUBLE)
                     * pow(1 / (1 + CAST(0.3275911 AS DOUBLE)
                                * (abs(zval) / sqrt(CAST(2 AS DOUBLE)))), 5))
               * exp(-(abs(zval) / sqrt(CAST(2 AS DOUBLE)))
                     * (abs(zval) / sqrt(CAST(2 AS DOUBLE)))))), 6)
               AS pval
    FROM z
),
ranked AS (
    SELECT segment, n, x, m, zval, pval,
           row_number() OVER (ORDER BY pval, segment) AS bh_rank
    FROM p
)
SELECT segment,
       CAST(n AS BIGINT) AS n_orders,
       CAST(x AS BIGINT) AS n_urgent,
       round(zval, 6) AS z,
       pval AS p_value,
       CAST(bh_rank AS BIGINT) AS bh_rank,
       CAST(max(CASE WHEN pval <= CAST(0.05 AS DOUBLE) * bh_rank / m
                     THEN 1 ELSE 0 END)
            OVER (ORDER BY bh_rank
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) = 1
            AS BOOLEAN) AS rejected
FROM ranked
"""


@query("agg_benjamini_hochberg", oracle=_BH_ORACLE)
def agg_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control over a family of per-segment
    tests: each market segment's urgent-order rate vs the rest (pooled
    two-proportion z), p-values from the A&S erf polynomial, then the
    BH step-up — reject H(1..k*) for the largest k* whose ordered
    p ≤ α·k/m — the multiple-testing guard every per-slice metric sweep
    needs (5 slices at α=0.05 and *one* naive 'significant' hit is
    expected by chance). One fact pass to exact per-segment counts; the
    test algebra, ranking, and step-up run on the m-row frame. The
    step-up is the MAX-to-the-right window — O(m), no self-join."""
    from pyspark.sql import Window as Win

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = (
        o.join(
            F.broadcast(c.select("c_custkey", "c_mktsegment")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1))
            .cast("double")
            .alias("x"),
        )
    )
    tot = seg.agg(
        F.sum("n").alias("nn"),
        F.sum("x").alias("xx"),
        F.count(F.lit(1)).alias("m"),
    )
    j = seg.crossJoin(F.broadcast(tot))
    nn, xx, n, x = F.col("nn"), F.col("xx"), F.col("n"), F.col("x")
    pp = xx / nn
    z = (x / n - (xx - x) / (nn - n)) / F.sqrt(
        pp * (1 - pp) * (1 / n + 1 / (nn - n))
    )
    t = 1 / (1 + F.lit(0.3275911) * (F.abs(z) / F.sqrt(F.lit(2.0))))
    xarg = F.abs(z) / F.sqrt(F.lit(2.0))
    erf = 1 - (
        F.lit(0.254829592) * t
        + F.lit(-0.284496736) * F.pow(t, 2)
        + F.lit(1.421413741) * F.pow(t, 3)
        + F.lit(-1.453152027) * F.pow(t, 4)
        + F.lit(1.061405429) * F.pow(t, 5)
    ) * F.exp(-xarg * xarg)
    pval = F.round(2 * (0.5 - 0.5 * erf), 6)
    p = j.select(
        "segment", "n", "x", "m", z.alias("zval"), pval.alias("pval")
    )
    ranked = p.withColumn(
        "bh_rank", F.row_number().over(Win.orderBy("pval", "segment"))
    )
    wfwd = Win.orderBy("bh_rank").rowsBetween(0, Win.unboundedFollowing)
    crit = F.lit(0.05) * F.col("bh_rank") / F.col("m")
    return ranked.select(
        "segment",
        F.col("n").cast("long").alias("n_orders"),
        F.col("x").cast("long").alias("n_urgent"),
        F.round("zval", 6).alias("z"),
        F.col("pval").alias("p_value"),
        F.col("bh_rank").cast("long").alias("bh_rank"),
        (
            F.max(
                F.when(F.col("pval") <= crit, 1).otherwise(0)
            ).over(wfwd)
            == 1
        ).alias("rejected"),
    )


_THEIL_SEN_ORACLE = """
WITH daily AS (
    SELECT CAST(datediff('day', DATE '1995-01-01',
                         CAST(date_trunc('day', ts) AS DATE)) AS DOUBLE)
               AS t,
           CAST(COUNT(*) AS DOUBLE) AS y
    FROM events GROUP BY 1
),
slopes AS (
    SELECT (b.y - a.y) / (b.t - a.t) AS s
    FROM daily a JOIN daily b ON b.t > a.t
),
med AS (SELECT quantile_cont(s, 0.5) AS slope FROM slopes),
resid AS (
    SELECT d.y - m.slope * d.t AS r FROM daily d CROSS JOIN med m
)
SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
       CAST((SELECT COUNT(*) FROM slopes) AS BIGINT) AS n_pairs,
       (SELECT slope FROM med) AS sen_slope,
       (SELECT quantile_cont(r, 0.5) FROM resid) AS intercept
"""


@query("agg_theil_sen_trend", oracle=_THEIL_SEN_ORACLE)
def agg_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of the daily event-count series: the
    median of all pairwise slopes (and the median-residual intercept) —
    the outlier-immune alternative to OLS (`agg_linear_trend`) that one
    logging outage or bot burst cannot bend. The fact stream collapses
    to the bounded daily rollup FIRST (≤ calendar days regardless of
    fact size), so the O(days²) pair fan-out is a few-million-row
    self-join at worst — distributed, never driver-side; both medians
    go through the exact running-count selector (`exact_percentiles`),
    not a one-reducer percentile buffer."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(
            F.to_date(F.date_trunc("day", F.col("ts"))),
            F.lit("1995-01-01").cast("date"),
        )
        .cast("double")
        .alias("t")
    ).agg(F.count(F.lit(1)).cast("double").alias("y"))
    a = daily.select(F.col("t").alias("ta"), F.col("y").alias("ya"))
    b = daily.select(F.col("t").alias("tb"), F.col("y").alias("yb"))
    # try_divide, not `/`: the planner may evaluate the projected slope
    # while probing tb==ta pairs the join condition later rejects, and
    # ANSI mode turns that speculative 0-divide into a job-killing
    # error. Joined rows always have tb > ta, so no NULL ever survives.
    slopes = a.join(b, F.col("tb") > F.col("ta")).select(
        F.try_divide(
            F.col("yb") - F.col("ya"), F.col("tb") - F.col("ta")
        ).alias("s")
    )
    med = exact_percentiles(
        slopes, [], "s", {"sen_slope": 0.5}, extras={"n_pairs": "n"}
    )
    resid = daily.crossJoin(F.broadcast(med)).select(
        (F.col("y") - F.col("sen_slope") * F.col("t")).alias("r")
    )
    icept = exact_percentiles(resid, [], "r", {"intercept": 0.5})
    n_days = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        n_days.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(icept))
        .select("n_days", "n_pairs", "sen_slope", "intercept")
    )


_QBANDS_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n,
       quantile_cont(o_totalprice, 0.10) AS p10,
       quantile_cont(o_totalprice, 0.25) AS p25,
       quantile_cont(o_totalprice, 0.50) AS p50,
       quantile_cont(o_totalprice, 0.75) AS p75,
       quantile_cont(o_totalprice, 0.90) AS p90
FROM orders
GROUP BY o_orderpriority
"""


@query("agg_quantile_bands_by_group", oracle=_QBANDS_ORACLE)
def agg_quantile_bands_by_group(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Five-point quantile bands of order value per priority class —
    the box-plot table behind pricing dashboards and SLA tiers. All
    five exact interpolated quantiles come from ONE pass of the
    distributed running-count selector (`exact_percentiles`): collapse
    to distinct values map-side, one spillable per-group sort, five
    conditional-MIN selections — never a per-group value buffer on a
    single reducer."""
    o = load_table(spark, sf_dir, "orders")
    return exact_percentiles(
        o,
        ["o_orderpriority"],
        "o_totalprice",
        {"p10": 0.10, "p25": 0.25, "p50": 0.50, "p75": 0.75, "p90": 0.90},
        extras={"n": "n"},
    ).select(
        "o_orderpriority", "n", "p10", "p25", "p50", "p75", "p90"
    )


# Kaplan-Meier with right-censoring. Duration = days between a
# customer's first and last order; customers whose last order falls in
# the final 60 days of the dataset are CENSORED (still active when
# observation ended) — the estimator uncensored `agg_survival_curve`
# cannot express. ln terms quantize to 6 decimals before the cumulative
# sum (libm-vs-JVM 1-ulp discipline), so the product-limit survival is
# bit-identical across engines.
_KM_ORACLE = """
WITH horizon AS (SELECT max(o_orderdate) AS dmax FROM orders),
subj AS (
    SELECT o_custkey,
           CAST(datediff('day', min(o_orderdate), max(o_orderdate))
                AS BIGINT) AS dur,
           CASE WHEN datediff('day', max(o_orderdate),
                              (SELECT dmax FROM horizon)) < 60
                THEN 0 ELSE 1 END AS ev
    FROM orders GROUP BY o_custkey
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM subj),
times AS (
    SELECT dur AS t,
           CAST(SUM(ev) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM subj GROUP BY dur
),
risk AS (
    SELECT t, d,
           (SELECT n FROM tot)
             - COALESCE(SUM(c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS n_risk
    FROM times
),
ev_times AS (
    SELECT t, d, n_risk,
           CASE WHEN d < n_risk
                THEN round(ln(1 - CAST(d AS DOUBLE) / n_risk), 6)
           END AS lnterm
    FROM risk WHERE d > 0
)
SELECT t AS duration_days,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_events,
       CASE WHEN d < n_risk
            THEN round(exp(CAST(SUM(CAST(lnterm AS DECIMAL(38,6)))
                     OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS DOUBLE)), 6)
            ELSE CAST(0 AS DOUBLE) END AS survival
FROM ev_times
"""


@query("agg_kaplan_meier_survival", oracle=_KM_ORACLE)
def agg_kaplan_meier_survival(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier product-limit survival of customer activity spans
    WITH right-censoring (last order inside the final 60 days = still
    active, not churned) — the censoring-aware upgrade of
    `agg_survival_curve` that retention analytics actually needs:
    treating censored customers as churned biases every survival number
    down. One per-customer aggregate, collapse to distinct durations,
    at-risk counts from one running sum, and the product-limit as
    exp(cumulative quantized-ln) — all exchanges on bounded frames."""
    from pyspark.sql import Window as Win

    o = load_table(spark, sf_dir, "orders")
    horizon = o.agg(F.max("o_orderdate").alias("dmax"))
    subj = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("dmin"),
            F.max("o_orderdate").alias("dlast"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("dlast", "dmin").cast("long").alias("dur"),
            F.when(
                F.datediff("dmax", "dlast") < 60, 0
            ).otherwise(1).alias("ev"),
        )
    )
    tot = subj.agg(F.count(F.lit(1)).cast("long").alias("n"))
    times = subj.groupBy(F.col("dur").alias("t")).agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    w_prev = (
        Win.orderBy("t").rowsBetween(Win.unboundedPreceding, -1)
    )
    risk = times.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        (
            F.col("n")
            - F.coalesce(F.sum("c").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    evt = risk.where(F.col("d") > 0).select(
        "t",
        "d",
        "n_risk",
        F.when(
            F.col("d") < F.col("n_risk"),
            F.round(
                F.log(1 - F.col("d").cast("double") / F.col("n_risk")), 6
            ),
        ).alias("lnterm"),
    )
    w_cum = Win.orderBy("t").rowsBetween(Win.unboundedPreceding, 0)
    surv = F.when(
        F.col("d") < F.col("n_risk"),
        F.round(
            F.exp(
                F.sum(F.col("lnterm").cast("decimal(38,6)"))
                .over(w_cum)
                .cast("double")
            ),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return evt.select(
        F.col("t").alias("duration_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        surv.alias("survival"),
    )


_ASSOC_ORACLE = """
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
n_orders AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n
             FROM op),
item_supp AS (
    SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_item FROM op
    GROUP BY l_partkey
),
pair_supp AS (
    SELECT a.l_partkey AS ant, b.l_partkey AS cons,
           CAST(COUNT(*) AS BIGINT) AS n_pair
    FROM op a JOIN op b
      ON b.l_orderkey = a.l_orderkey AND b.l_partkey <> a.l_partkey
    GROUP BY 1, 2
)
SELECT p.ant AS antecedent, p.cons AS consequent,
       p.n_pair,
       CAST(p.n_pair AS DOUBLE) / ia.n_item AS confidence,
       round(CAST(p.n_pair AS DOUBLE) / ia.n_item
             / (ic.n_item / t.n), 6) AS lift
FROM pair_supp p
JOIN item_supp ia ON ia.l_partkey = p.ant
JOIN item_supp ic ON ic.l_partkey = p.cons
CROSS JOIN n_orders t
WHERE p.n_pair >= 3
ORDER BY round(CAST(p.n_pair AS DOUBLE) / ia.n_item
               / (ic.n_item / t.n), 6) DESC,
         p.ant, p.cons
LIMIT 20
"""


@query("agg_association_rules_lift", oracle=_ASSOC_ORACLE)
def agg_association_rules_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Association rules over order baskets: confidence and lift for
    part pairs with support ≥ 3, top-20 by lift — the step past
    `join_copurchase_part_pairs`' raw counts that separates 'bought
    together because both are popular' (lift ≈ 1) from real affinity
    (lift ≫ 1). Pair generation keys on l_orderkey (fan-out bounded by
    basket size squared, never corpus-quadratic); item supports and the
    basket total are derived from the SAME distinct projection and
    broadcast back; the min-support filter prunes before ranking, and
    the top-20 plans as TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    # ONE basket groupBy feeds all three aggregates: pair counts come
    # from the unordered combinations of each sorted basket (the shared
    # copurchase_pairs shape, constant fan-out per order) mirrored to
    # both (ant, cons) orientations; item supports and the basket total
    # come from the same checkpointed basket frame instead of a second
    # distinct over lineitem.
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
        .localCheckpoint(eager=True)
    )
    n_orders = baskets.agg(F.count(F.lit(1)).cast("double").alias("n"))
    item = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_item"))
    )
    und = (
        baskets.where(F.size("ps") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(sequence(0, size(ps) - 2),"
                    " i -> transform(sequence(i + 1, size(ps) - 1),"
                    "      j -> struct(get(ps, i) AS pa,"
                    "                  get(ps, j) AS pb))))"
                )
            ).alias("pr")
        )
        .groupBy(F.col("pr.pa").alias("pa"), F.col("pr.pb").alias("pb"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pair"))
        .where(F.col("n_pair") >= 3)
    )
    pair = und.select(
        F.explode(
            F.expr(
                "array(struct(pa AS ant, pb AS cons, n_pair),"
                "      struct(pb AS ant, pa AS cons, n_pair))"
            )
        ).alias("e")
    ).select("e.ant", "e.cons", "e.n_pair")
    ia = item.select(
        F.col("l_partkey").alias("ant"), F.col("n_item").alias("ni_a")
    )
    ic = item.select(
        F.col("l_partkey").alias("cons"), F.col("n_item").alias("ni_c")
    )
    conf = F.col("n_pair").cast("double") / F.col("ni_a")
    lift = F.round(conf / (F.col("ni_c") / F.col("n")), 6)
    return (
        pair.join(ia, "ant")
        .join(ic, "cons")
        .crossJoin(F.broadcast(n_orders))
        .select(
            F.col("ant").alias("antecedent"),
            F.col("cons").alias("consequent"),
            "n_pair",
            conf.alias("confidence"),
            lift.alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(),
            F.col("antecedent"),
            F.col("consequent"),
        )
        .limit(20)
    )


_MI_ORACLE = """
WITH obs AS (
    SELECT event_type AS a,
           CAST(EXTRACT(dow FROM ts) + 1 AS INT) AS b,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
ra AS (SELECT a, CAST(SUM(n) AS BIGINT) AS na FROM obs GROUP BY a),
rb AS (SELECT b, CAST(SUM(n) AS BIGINT) AS nb FROM obs GROUP BY b),
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM obs)
SELECT CAST(tot.t AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       round(CAST(SUM(CAST(round((obs.n / tot.t)
                 * ln((obs.n / tot.t)
                      / ((ra.na / tot.t) * (rb.nb / tot.t))), 9)
             AS DECIMAL(38,9))) AS DOUBLE), 6) AS mutual_information
FROM obs
JOIN ra USING (a)
JOIN rb USING (b)
CROSS JOIN tot
GROUP BY tot.t
"""

@query("agg_mutual_information", oracle=_MI_ORACLE)
def agg_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and weekday — the
    dependence measure that, unlike chi-square, reads directly in nats
    and feeds feature selection (MI ≈ 0 ⇒ the weekday column buys a
    model nothing about event mix). One fact pass to the R×C
    contingency cells; marginals derive FROM the cells and broadcast
    back; each cell's p·ln(p/(pa·pb)) term quantizes to 9 decimals
    before the decimal sum (the libm-vs-JVM ln discipline), rounded to
    the 6-dp hash grid."""
    ev = load_table(spark, sf_dir, "events")
    obs = ev.groupBy(
        F.col("event_type").alias("a"),
        F.dayofweek("ts").alias("b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    ra = obs.groupBy("a").agg(F.sum("n").cast("long").alias("na"))
    rb = obs.groupBy("b").agg(F.sum("n").cast("long").alias("nb"))
    tot = obs.agg(F.sum("n").cast("double").alias("t"))
    j = (
        obs.join(F.broadcast(ra), "a")
        .join(F.broadcast(rb), "b")
        .crossJoin(F.broadcast(tot))
    )
    t = F.col("t")
    p_ab = F.col("n") / t
    term = F.round(
        p_ab
        * F.log(p_ab / ((F.col("na") / t) * (F.col("nb") / t))),
        9,
    ).cast("decimal(38,9)")
    return j.groupBy("t").agg(
        F.col("t").cast("long").alias("n_events"),
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.round(F.sum(term).cast("double"), 6).alias(
            "mutual_information"
        ),
    ).drop("t")


_CORR_SCALAR_ORACLE = """
SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
       (SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(38,6)))
                    AS DOUBLE) / COUNT(*)
        FROM orders i WHERE i.o_custkey = o.o_custkey) AS cust_avg,
       o.o_totalprice > 2 * (
           SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(38,6)))
                       AS DOUBLE) / COUNT(*)
           FROM orders i WHERE i.o_custkey = o.o_custkey)
           AS is_outsized
FROM orders o
"""


@query("subquery_correlated_scalar", oracle=_CORR_SCALAR_ORACLE)
def subquery_correlated_scalar(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Correlated SCALAR subquery: every order annotated with its
    customer's average order value and an is-outsized flag — the third
    subquery kind after EXISTS (`subquery_exists_flags`) and ANY/ALL
    (`subquery_any_all_quantified`). Written as literal correlated SQL
    so Catalyst's decorrelation does the rewrite: the plan must become
    ONE aggregate over orders joined back on o_custkey — not a
    per-row re-execution (the O(n²) trap naive engines fall into).
    Decimal-routed average for cross-engine hash equality."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "_corr_orders"
    )
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice,
               (SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(38,6)))
                            AS DOUBLE) / COUNT(*)
                FROM _corr_orders i
                WHERE i.o_custkey = o.o_custkey) AS cust_avg,
               o.o_totalprice > 2 * (
                   SELECT CAST(SUM(CAST(i.o_totalprice
                                        AS DECIMAL(38,6))) AS DOUBLE)
                          / COUNT(*)
                   FROM _corr_orders i
                   WHERE i.o_custkey = o.o_custkey) AS is_outsized
        FROM _corr_orders o
        """
    )


_COHENS_D_ORACLE = """
WITH g AS (
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2
    FROM events
    WHERE NOT isnan(value) AND isfinite(value)
      AND event_type IN ('click', 'purchase')
    GROUP BY event_type
),
st AS (
    SELECT event_type, n, s1 / n AS mean,
           (s2 - (s1 / n) * s1) / (n - 1) AS var
    FROM g
),
ab AS (
    SELECT a.n AS n1, a.mean AS m1, a.var AS v1,
           b.n AS n2, b.mean AS m2, b.var AS v2
    FROM st a, st b
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
)
SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_purchase,
       round((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                              / (n1 + n2 - 2)), 6) AS cohens_d,
       round(((m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                               / (n1 + n2 - 2)))
             * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6) AS hedges_g
FROM ab
"""


@query("agg_cohens_d_effect_size", oracle=_COHENS_D_ORACLE)
def agg_cohens_d_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d / Hedges' g standardized effect size between the click
    and purchase value populations — the 'is this difference big enough
    to matter' companion to `agg_welch_t_test`'s 'is it real' (at 100 TB
    every difference is significant; only the effect size is
    decision-grade). Same one-pass sufficient-statistics shape as the
    t-test: exact DECIMAL Σx/Σx² per group, a two-1-row broadcast
    combine, then a fixed scalar dag for the pooled-SD standardization
    and the small-sample Hedges correction 1-3/(4N-9)."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    g = (
        ev.where(
            ~F.isnan(v)
            & (F.abs(v) != float("inf"))
            & F.col("event_type").isin("click", "purchase")
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(v.cast("decimal(38,6)")).cast("double").alias("s1"),
            F.sum((v * v).cast("decimal(38,6)")).cast("double").alias("s2"),
        )
    )
    st = g.select(
        "event_type",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        (
            (F.col("s2") - (F.col("s1") / F.col("n")) * F.col("s1"))
            / (F.col("n") - 1)
        ).alias("var"),
    )
    a = st.where(F.col("event_type") == "click").select(
        F.col("n").alias("n1"),
        F.col("mean").alias("m1"),
        F.col("var").alias("v1"),
    )
    b = st.where(F.col("event_type") == "purchase").select(
        F.col("n").alias("n2"),
        F.col("mean").alias("m2"),
        F.col("var").alias("v2"),
    )
    ab = a.crossJoin(F.broadcast(b))
    n1, n2 = F.col("n1"), F.col("n2")
    pooled_sd = F.sqrt(
        ((n1 - 1) * F.col("v1") + (n2 - 1) * F.col("v2")) / (n1 + n2 - 2)
    )
    d = (F.col("m1") - F.col("m2")) / pooled_sd
    return ab.select(
        n1.cast("long").alias("n_click"),
        n2.cast("long").alias("n_purchase"),
        F.round(d, 6).alias("cohens_d"),
        F.round(d * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)), 6).alias(
            "hedges_g"
        ),
    )


_KENDALL_ORACLE = """
WITH daily AS (
    SELECT o_orderdate AS day,
           CAST(COUNT(*) AS BIGINT) AS x,
           SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS y
    FROM orders GROUP BY 1
),
pairs AS (
    SELECT
        CAST(SUM(CASE WHEN (b.x > a.x AND b.y > a.y)
                        OR (b.x < a.x AND b.y < a.y)
                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
        CAST(SUM(CASE WHEN (b.x > a.x AND b.y < a.y)
                        OR (b.x < a.x AND b.y > a.y)
                 THEN 1 ELSE 0 END) AS BIGINT) AS d
    FROM daily a JOIN daily b ON b.day > a.day
),
tx AS (
    SELECT CAST(COALESCE(SUM(g * (g - 1) / 2), 0) AS BIGINT) AS t
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS g FROM daily GROUP BY x)
    WHERE g > 1
),
ty AS (
    SELECT CAST(COALESCE(SUM(g * (g - 1) / 2), 0) AS BIGINT) AS t
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS g FROM daily GROUP BY y)
    WHERE g > 1
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily)
SELECT n.n AS n_days, pairs.c AS concordant, pairs.d AS discordant,
       round(CAST(pairs.c - pairs.d AS DOUBLE)
             / sqrt(CAST(n.n * (n.n - 1) / 2 - tx.t AS DOUBLE)
                    * CAST(n.n * (n.n - 1) / 2 - ty.t AS DOUBLE)), 6)
           AS tau_b
FROM n, pairs, tx, ty
"""


@query("agg_kendall_tau_daily", oracle=_KENDALL_ORACLE)
def agg_kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b rank correlation between daily order count and
    daily revenue — the third rank-association measure alongside
    Pearson (`agg_corr_per_group`) and Spearman
    (`agg_spearman_rank_corr`); tau's pairwise-concordance form is the
    one with a direct probabilistic reading (P(concordant) −
    P(discordant)) and the tie-corrected tau-b denominator. The fact
    table collapses to the bounded daily rollup, so the O(days²)
    concordance join is a broadcast over a ≤calendar-days frame; counts
    are integers and revenue sums exact DECIMAL, so every comparison —
    and hence C, D, and both tie terms — is exact, with one rounded
    division at the end."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("x"),
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("y"),
    )
    a = daily.select(
        F.col("day").alias("a_day"),
        F.col("x").alias("a_x"),
        F.col("y").alias("a_y"),
    )
    b = daily.select(
        F.col("day").alias("b_day"),
        F.col("x").alias("b_x"),
        F.col("y").alias("b_y"),
    )
    conc = (F.col("b_x") > F.col("a_x")) & (F.col("b_y") > F.col("a_y")) | (
        F.col("b_x") < F.col("a_x")
    ) & (F.col("b_y") < F.col("a_y"))
    disc = (F.col("b_x") > F.col("a_x")) & (F.col("b_y") < F.col("a_y")) | (
        F.col("b_x") < F.col("a_x")
    ) & (F.col("b_y") > F.col("a_y"))
    pairs = a.join(F.broadcast(b), F.col("b_day") > F.col("a_day")).agg(
        F.sum(F.when(conc, 1).otherwise(0)).cast("long").alias("c"),
        F.sum(F.when(disc, 1).otherwise(0)).cast("long").alias("d"),
    )

    def tie_term(col: str):
        return (
            daily.groupBy(col)
            .agg(F.count(F.lit(1)).alias("g"))
            .where(F.col("g") > 1)
            .agg(
                F.coalesce(
                    F.sum(F.col("g") * (F.col("g") - 1) / 2), F.lit(0)
                )
                .cast("long")
                .alias("t")
            )
        )

    tx = tie_term("x").withColumnRenamed("t", "tx")
    ty = tie_term("y").withColumnRenamed("t", "ty")
    n = daily.agg(F.count(F.lit(1)).alias("n"))
    combined = (
        n.crossJoin(F.broadcast(pairs))
        .crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
    )
    nn = F.col("n")
    n0 = nn * (nn - 1) / 2
    tau = (F.col("c") - F.col("d")).cast("double") / F.sqrt(
        (n0 - F.col("tx")).cast("double")
        * (n0 - F.col("ty")).cast("double")
    )
    return combined.select(
        nn.alias("n_days"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.round(tau, 6).alias("tau_b"),
    )


_CRAMERS_V_ORACLE = """
WITH cells AS (
    SELECT o_orderpriority AS r, o_orderstatus AS c,
           CAST(COUNT(*) AS BIGINT) AS obs
    FROM orders GROUP BY 1, 2
),
tot AS (
    SELECT CAST(SUM(obs) AS DOUBLE) AS n,
           CAST(COUNT(DISTINCT r) AS BIGINT) AS nr,
           CAST(COUNT(DISTINCT c) AS BIGINT) AS nc
    FROM cells
),
margins AS (
    SELECT cells.r, cells.c, cells.obs,
           rt.row_tot, ct.col_tot
    FROM cells
    JOIN (SELECT r, CAST(SUM(obs) AS DOUBLE) AS row_tot
          FROM cells GROUP BY r) rt USING (r)
    JOIN (SELECT c, CAST(SUM(obs) AS DOUBLE) AS col_tot
          FROM cells GROUP BY c) ct USING (c)
),
chi AS (
    SELECT CAST(SUM(CAST(round(
               (CAST(obs AS DOUBLE) - row_tot * col_tot / tot.n)
               * (CAST(obs AS DOUBLE) - row_tot * col_tot / tot.n)
               / (row_tot * col_tot / tot.n), 6) AS DECIMAL(38,6)))
               AS DOUBLE) AS chi2
    FROM margins, tot
)
SELECT CAST(tot.n AS BIGINT) AS n_orders,
       tot.nr AS n_priorities, tot.nc AS n_statuses,
       round(chi.chi2, 6) AS chi_square,
       round(sqrt(chi.chi2 / (tot.n
                  * CAST(least(tot.nr, tot.nc) - 1 AS DOUBLE))), 6)
           AS cramers_v
FROM tot, chi
"""


@query("agg_cramers_v", oracle=_CRAMERS_V_ORACLE)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between order priority and order
    status — the 0-to-1 effect size that `agg_chi_square_independence`'s
    raw χ² cannot provide (χ² grows with N; V is the scale-free measure
    a profiler actually compares across column pairs, cf.
    `dq_column_cardinality_profile`). One fact pass builds the bounded
    contingency cells; margins and χ² live entirely on that ≤r×c frame
    (two tiny self-joins), each cell's contribution quantized to the
    6-dp grid and DECIMAL-summed so the statistic is order-invariant."""
    o = load_table(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("r"),
        F.col("o_orderstatus").alias("c"),
    ).agg(F.count(F.lit(1)).alias("obs"))
    tot = cells.agg(
        F.sum("obs").cast("double").alias("n"),
        F.countDistinct("r").alias("nr"),
        F.countDistinct("c").alias("nc"),
    )
    rt = cells.groupBy("r").agg(
        F.sum("obs").cast("double").alias("row_tot")
    )
    ct = cells.groupBy("c").agg(
        F.sum("obs").cast("double").alias("col_tot")
    )
    margins = (
        cells.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(tot))
    )
    exp = F.col("row_tot") * F.col("col_tot") / F.col("n")
    obs = F.col("obs").cast("double")
    chi2 = F.sum(
        F.round((obs - exp) * (obs - exp) / exp, 6).cast("decimal(38,6)")
    ).cast("double")
    agg = margins.agg(
        F.any_value("n").alias("n"),
        F.any_value("nr").alias("nr"),
        F.any_value("nc").alias("nc"),
        chi2.alias("chi2"),
    )
    return agg.select(
        F.col("n").cast("long").alias("n_orders"),
        F.col("nr").alias("n_priorities"),
        F.col("nc").alias("n_statuses"),
        F.round(F.col("chi2"), 6).alias("chi_square"),
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n")
                    * (F.least("nr", "nc") - F.lit(1)).cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
    )


_BROWN_FORSYTHE_ORACLE = """
WITH med AS (
    SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
    FROM orders GROUP BY 1
),
z AS (
    SELECT o.o_orderpriority,
           abs(CAST(o.o_totalprice AS DOUBLE) - m.med) AS z
    FROM orders o JOIN med m USING (o_orderpriority)
),
g AS (
    SELECT o_orderpriority,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(z AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(z * z AS DECIMAL(38,6))) AS DOUBLE) AS s2
    FROM z GROUP BY 1
),
tot AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS k,
           CAST(SUM(n) AS DOUBLE) AS nn,
           CAST(SUM(CAST(s1 AS DECIMAL(38,6))) AS DOUBLE) AS ts1
    FROM g
),
terms AS (
    SELECT t.nn, t.k,
           CAST(round(g.n * (g.s1 / g.n - t.ts1 / t.nn)
                          * (g.s1 / g.n - t.ts1 / t.nn), -3)
                AS DECIMAL(38,0)) AS ssb_term,
           CAST(round(g.s2 - g.s1 * g.s1 / g.n, -3)
                AS DECIMAL(38,0)) AS ssw_term
    FROM g CROSS JOIN tot t
)
SELECT CAST(any_value(nn) AS BIGINT) AS n_orders,
       CAST(any_value(k) AS BIGINT) AS n_groups,
       CAST(SUM(ssb_term) AS DOUBLE) AS ss_between,
       CAST(SUM(ssw_term) AS DOUBLE) AS ss_within,
       (CAST(SUM(ssb_term) AS DOUBLE) / (any_value(k) - 1))
           / (CAST(SUM(ssw_term) AS DOUBLE)
              / (any_value(nn) - any_value(k))) AS f_stat
FROM terms
"""


@query("agg_levene_brown_forsythe", oracle=_BROWN_FORSYTHE_ORACLE)
def agg_levene_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-centered Levene) homogeneity-of-variance
    test of o_totalprice across order priorities — the gatekeeper
    diagnostic for `ts_weekday_anova`-style pooled-variance tests (ANOVA
    assumes equal group variances; this is the robust way to check it).
    Group medians come from the distributed running-count selector
    (never the one-reducer percentile buffer), broadcast back for the
    absolute-deviation pass; the one-way ANOVA F over those deviations
    follows `ts_weekday_anova`'s cancellation-safe form — per-group
    exact DECIMAL sufficient statistics (deviations land on the 3-dp
    grid: 2-dp prices minus a ≤3-dp interpolated median), each SSB/SSW
    term rounded onto the tie-safe 1000-unit grid before an exact
    DECIMAL(38,0) cross-group sum (these terms sit at 1e9–1e13 where
    double ulp approaches 1e-3 — a fine grid is NOT tie-safe there and
    last-bit engine divergence leaks through; the strict driver-grade
    compare catches exactly that)."""
    o = load_table(spark, sf_dir, "orders")
    med = exact_percentiles(
        o, ["o_orderpriority"], "o_totalprice", {"med": 0.5}
    )
    z = o.join(F.broadcast(med), "o_orderpriority").select(
        "o_orderpriority",
        F.abs(
            F.col("o_totalprice").cast("double") - F.col("med")
        ).alias("z"),
    )
    zc = F.col("z")
    g = z.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(zc.cast("decimal(38,6)")).cast("double").alias("s1"),
        F.sum((zc * zc).cast("decimal(38,6)")).cast("double").alias("s2"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").cast("double").alias("nn"),
        F.sum(F.col("s1").cast("decimal(38,6)")).cast("double").alias("ts1"),
    )
    m = F.col("s1") / F.col("n")
    grand = F.col("ts1") / F.col("nn")
    terms = g.crossJoin(F.broadcast(tot)).select(
        "nn",
        "k",
        F.round(F.col("n") * (m - grand) * (m - grand), -3)
        .cast("decimal(38,0)")
        .alias("ssb_term"),
        F.round(
            F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"), -3
        )
        .cast("decimal(38,0)")
        .alias("ssw_term"),
    )
    out = terms.agg(
        F.any_value("nn").alias("nn"),
        F.any_value("k").alias("k"),
        F.sum("ssb_term").cast("double").alias("ssb"),
        F.sum("ssw_term").cast("double").alias("ssw"),
    )
    kk, nn = F.col("k"), F.col("nn")
    return out.select(
        nn.cast("long").alias("n_orders"),
        kk.cast("long").alias("n_groups"),
        F.col("ssb").alias("ss_between"),
        F.col("ssw").alias("ss_within"),
        ((F.col("ssb") / (kk - 1)) / (F.col("ssw") / (nn - kk))).alias(
            "f_stat"
        ),
    )


_NOT_IN_NULL_ORACLE = """
WITH nullable_keys AS (
    SELECT CASE WHEN o_orderstatus = 'O' THEN o_custkey END AS k
    FROM orders
)
SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_customers,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
     WHERE c_custkey NOT IN (SELECT k FROM nullable_keys))
        AS not_in_with_nulls,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer c
     WHERE NOT EXISTS (SELECT 1 FROM nullable_keys n
                       WHERE n.k = c.c_custkey))
        AS not_exists_count,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM customer
     WHERE c_custkey NOT IN (SELECT k FROM nullable_keys
                             WHERE k IS NOT NULL))
        AS not_in_filtered
"""


@query("subquery_not_in_null_semantics", oracle=_NOT_IN_NULL_ORACLE)
def subquery_not_in_null_semantics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The NOT IN vs NOT EXISTS three-valued-logic trap, demonstrated
    and oracle-pinned: against a subquery containing a NULL, `NOT IN`
    is NEVER true (x <> NULL is UNKNOWN, so the conjunction can't reach
    TRUE — 0 rows), while `NOT EXISTS` and the NULL-stripped `NOT IN`
    agree on the real complement. Written as literal SQL so Catalyst
    plans the genuine null-aware anti join (NAAJ — the broadcast plan
    Spark reserves for exactly this) rather than a hand-rewritten
    approximation; the one-row result pins all three counts so an
    engine that 'optimizes' NOT IN into a plain anti join fails the
    hash."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "_nin_orders"
    )
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "_nin_customer"
    )
    return spark.sql(
        """
        WITH nullable_keys AS (
            SELECT CASE WHEN o_orderstatus = 'O' THEN o_custkey END AS k
            FROM _nin_orders
        )
        SELECT
            (SELECT COUNT(*) FROM _nin_customer) AS n_customers,
            (SELECT COUNT(*) FROM _nin_customer
             WHERE c_custkey NOT IN (SELECT k FROM nullable_keys))
                AS not_in_with_nulls,
            (SELECT COUNT(*) FROM _nin_customer c
             WHERE NOT EXISTS (SELECT 1 FROM nullable_keys n
                               WHERE n.k = c.c_custkey))
                AS not_exists_count,
            (SELECT COUNT(*) FROM _nin_customer
             WHERE c_custkey NOT IN (SELECT k FROM nullable_keys
                                     WHERE k IS NOT NULL))
                AS not_in_filtered
        """
    )


_ADAMIC_ADAR_ORACLE = """
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
    FROM op a
    JOIN op b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= 2
),
sym AS (
    SELECT part_a AS a, part_b AS b FROM pairs
    UNION ALL
    SELECT part_b AS a, part_a AS b FROM pairs
),
deg AS (
    SELECT a AS v, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a
),
wedges AS (
    SELECT x.b AS a, y.b AS b,
           CAST(COUNT(*) AS BIGINT) AS common_neighbors,
           CAST(SUM(CAST(round(1.0 / ln(CAST(dz.d AS DOUBLE)), 6)
                         AS DECIMAL(38,6))) AS DOUBLE) AS aa_score
    FROM sym x
    JOIN sym y ON x.a = y.a AND x.b < y.b
    JOIN deg dz ON dz.v = x.a
    WHERE dz.d >= 2
    GROUP BY x.b, y.b
)
SELECT w.a AS part_a, w.b AS part_b, w.common_neighbors,
       round(w.aa_score, 6) AS adamic_adar
FROM wedges w
LEFT JOIN pairs p ON p.part_a = w.a AND p.part_b = w.b
WHERE p.part_a IS NULL
ORDER BY round(w.aa_score, 6) DESC, w.a, w.b
LIMIT 30
"""


@query("graph_linkpred_adamic_adar", oracle=_ADAMIC_ADAR_ORACLE)
def graph_linkpred_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the co-purchase graph: shared
    neighbors weighted by 1/ln(degree), so a rare co-purchase partner
    counts far more than a ubiquitous hub — the standard fix for
    `graph_linkpred_common_neighbors`' popularity bias (a part
    co-bought with EVERYTHING predicts nothing). Same wedge join keyed
    on the middle vertex with the ≥2-support hub cap; the middle's
    degree joins in from the broadcast-size degree table, each 1/ln(d)
    contribution lands on the 6-dp grid before the DECIMAL sum, and
    top-30 plans as TakeOrderedAndProject after the existing-edge
    anti join."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = copurchase_pairs(li, min_support=2)
    sym = pairs.select(
        F.col("part_a").alias("a"), F.col("part_b").alias("b")
    ).unionAll(
        pairs.select(F.col("part_b").alias("a"), F.col("part_a").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    x, y = sym.alias("x"), sym.alias("y")
    wedges = (
        x.join(y, (F.col("x.a") == F.col("y.a")) & (F.col("x.b") < F.col("y.b")))
        .join(
            F.broadcast(deg.where(F.col("d") >= 2)),
            F.col("v") == F.col("x.a"),
        )
        .groupBy(F.col("x.b").alias("wa"), F.col("y.b").alias("wb"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("common_neighbors"),
            F.sum(
                F.round(
                    F.lit(1.0) / F.log(F.col("d").cast("double")), 6
                ).cast("decimal(38,6)")
            )
            .cast("double")
            .alias("aa_score"),
        )
    )
    return (
        wedges.join(
            pairs,
            (F.col("wa") == F.col("part_a"))
            & (F.col("wb") == F.col("part_b")),
            "left_anti",
        )
        .select(
            F.col("wa").alias("part_a"),
            F.col("wb").alias("part_b"),
            "common_neighbors",
            F.round(F.col("aa_score"), 6).alias("adamic_adar"),
        )
        .orderBy(F.col("adamic_adar").desc(), "part_a", "part_b")
        .limit(30)
    )


_LOCAL_CC_ORACLE = """
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
    FROM op a
    JOIN op b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= 2
),
sym AS (
    SELECT part_a AS a, part_b AS b FROM pairs
    UNION ALL
    SELECT part_b AS a, part_a AS b FROM pairs
),
deg AS (
    SELECT a AS v, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a
),
tri AS (
    SELECT x.a AS v, CAST(COUNT(*) AS BIGINT) AS t
    FROM sym x
    JOIN sym y ON y.a = x.a AND x.b < y.b
    JOIN pairs e ON e.part_a = x.b AND e.part_b = y.b
    GROUP BY x.a
),
cc AS (
    SELECT d.v,
           least(CAST(9 AS BIGINT),
                 (2 * COALESCE(t.t, 0) * 10) // (d.d * (d.d - 1))) AS bin
    FROM deg d LEFT JOIN tri t ON t.v = d.v
    WHERE d.d >= 2
)
SELECT CAST(bin AS INT) AS cc_bin,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM cc GROUP BY bin
"""


@query("graph_local_clustering_histogram", oracle=_LOCAL_CC_ORACLE)
def graph_local_clustering_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution of LOCAL clustering coefficients over the
    co-purchase graph, as a 10-bin histogram — where
    `graph_triangle_stats` reports the global average, this shows the
    SHAPE (a bimodal histogram means a core of cliquish parts plus
    tree-like periphery — different sampling strategies for graph
    features). Per-node triangles count each neighbor PAIR of the apex
    once (x.b < y.b) closed against the ordered edge list; the bin
    index floor(10·2t/d(d-1)) divides exact int64 values whose
    exact-integer quotients divide exactly in IEEE (clamped to bin 9
    for perfect cliques), so the histogram is engine-exact with no
    float boundary risk."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = copurchase_pairs(li, min_support=2)
    sym = pairs.select(
        F.col("part_a").alias("a"), F.col("part_b").alias("b")
    ).unionAll(
        pairs.select(F.col("part_b").alias("a"), F.col("part_a").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    x, y = sym.alias("x"), sym.alias("y")
    tri = (
        x.join(y, (F.col("y.a") == F.col("x.a")) & (F.col("x.b") < F.col("y.b")))
        .join(
            pairs,
            (F.col("part_a") == F.col("x.b"))
            & (F.col("part_b") == F.col("y.b")),
        )
        .groupBy(F.col("x.a").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    cc = (
        deg.where(F.col("d") >= 2)
        .join(tri, "v", "left")
        .select(
            F.least(
                F.lit(9).cast("long"),
                # Integer floor division: both operands are exact int64
                # doubles and an exact-integer quotient divides exactly
                # in IEEE, so floor() cannot straddle a boundary; DuckDB
                # computes the same bins with BIGINT `//`.
                F.floor(
                    (2 * F.coalesce(F.col("t"), F.lit(0)) * 10)
                    / (F.col("d") * (F.col("d") - 1))
                ).cast("long"),
            ).alias("bin")
        )
    )
    return cc.groupBy(F.col("bin").cast("int").alias("cc_bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )


_FISHER_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           ((datediff('day', DATE '1995-01-02',
                       CAST(o_orderdate AS DATE)) % 7) + 7) % 7
               IN (5, 6) AS is_weekend
    FROM orders GROUP BY 1
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cnt) AS BIGINT) AS s
    FROM daily
),
cells AS (
    SELECT
        CAST(COUNT(*) FILTER (WHERE is_weekend
                              AND cnt * t.n > t.s) AS BIGINT) AS a,
        CAST(COUNT(*) FILTER (WHERE is_weekend) AS BIGINT) AS r1,
        CAST(COUNT(*) FILTER (WHERE cnt * t.n > t.s) AS BIGINT) AS c1,
        CAST(COUNT(*) AS BIGINT) AS n
    FROM daily CROSS JOIN tot t
    GROUP BY t.n, t.s
),
lf AS (
    SELECT i,
           SUM(CAST(round(ln(CAST(CASE WHEN i = 0 THEN 1 ELSE i END
                                  AS DOUBLE)), 6) AS DECIMAL(38,6)))
               OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS lnf
    FROM (SELECT unnest(range(0, (SELECT n FROM cells) + 1)) AS i)
),
terms AS (
    SELECT c.a, c.r1, c.c1, c.n,
           CAST(round(exp(CAST(fr1.lnf + fnr1.lnf + fc1.lnf + fnc1.lnf
                   - fn.lnf - fk.lnf - frk.lnf - fck.lnf - fnk.lnf
                   AS DOUBLE)), 12) AS DECIMAL(38,12)) AS p_k
    FROM cells c
    JOIN (SELECT unnest(range(0, (SELECT n FROM cells) + 1)) AS k) ks
      ON ks.k >= c.a AND ks.k <= least(c.r1, c.c1)
     AND ks.k >= greatest(0, c.r1 + c.c1 - c.n)
    JOIN lf fr1 ON fr1.i = c.r1
    JOIN lf fnr1 ON fnr1.i = c.n - c.r1
    JOIN lf fc1 ON fc1.i = c.c1
    JOIN lf fnc1 ON fnc1.i = c.n - c.c1
    JOIN lf fn ON fn.i = c.n
    JOIN lf fk ON fk.i = ks.k
    JOIN lf frk ON frk.i = c.r1 - ks.k
    JOIN lf fck ON fck.i = c.c1 - ks.k
    JOIN lf fnk ON fnk.i = c.n - c.r1 - c.c1 + ks.k
)
SELECT any_value(a) AS weekend_high,
       any_value(r1) AS n_weekend,
       any_value(c1) AS n_high,
       any_value(n) AS n_days,
       round(CAST(SUM(p_k) AS DOUBLE), 6) AS p_upper_tail
FROM terms
"""


@query("agg_fisher_exact_2x2", oracle=_FISHER_ORACLE)
def agg_fisher_exact_2x2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's EXACT one-sided test of weekend × high-volume-day
    association — the small-sample member of the test family
    (`agg_chi_square_independence` is asymptotic and lies when expected
    cells are small; with ~2 years of days the exact hypergeometric
    tail is the defensible answer). Weekend flags come from pure
    epoch-day mod-7 arithmetic (no engine dayofweek convention),
    'high' compares cnt·n > Σcnt in exact integers, and the
    hypergeometric tail Σ_{k≥a} P(k) is computed fully IN-PLAN: a
    log-factorial table built as a quantized-DECIMAL running sum over
    range(0,n+1) (distributable prefix sum — no driver loop, no lgamma
    builtin needed), five broadcast self-joins pick the nine log terms
    per tail k, and the exp terms land on a 12-dp grid before the exact
    sum. The ln-table quantization is engine-identical by construction,
    so the p-value hashes bit-equal."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    daily = daily.select(
        "cnt",
        (
            (
                (
                    F.datediff(
                        F.col("day"), F.lit("1995-01-02").cast("date")
                    )
                    % 7
                )
                + 7
            )
            % 7
        ).isin(5, 6).alias("is_weekend"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("cnt").alias("s")
    )
    cells = (
        daily.crossJoin(F.broadcast(tot))
        .groupBy("n", "s")
        .agg(
            F.count(
                F.when(
                    F.col("is_weekend")
                    & (F.col("cnt") * F.col("n") > F.col("s")),
                    1,
                )
            )
            .cast("long")
            .alias("a"),
            F.count(F.when(F.col("is_weekend"), 1))
            .cast("long")
            .alias("r1"),
            F.count(F.when(F.col("cnt") * F.col("n") > F.col("s"), 1))
            .cast("long")
            .alias("c1"),
        )
        .select("a", "r1", "c1", F.col("n").cast("long").alias("n"))
    )
    n_days = cells.select("n").first()[0]
    lf = (
        spark.range(0, n_days + 1)
        .select(F.col("id").alias("i"))
        .select(
            "i",
            F.sum(
                F.round(
                    F.log(
                        F.when(F.col("i") == 0, F.lit(1))
                        .otherwise(F.col("i"))
                        .cast("double")
                    ),
                    6,
                ).cast("decimal(38,6)")
            )
            .over(
                W.orderBy("i").rowsBetween(
                    W.unboundedPreceding, W.currentRow
                )
            )
            .alias("lnf"),
        )
    )
    ks = spark.range(0, n_days + 1).select(F.col("id").alias("k"))
    c = F.col

    def lfj(alias, expr):
        return F.broadcast(
            lf.select(
                F.col("i").alias(f"i_{alias}"),
                F.col("lnf").alias(f"lnf_{alias}"),
            )
        ), expr

    base = (
        cells.join(
            F.broadcast(ks),
            (c("k") >= c("a"))
            & (c("k") <= F.least(c("r1"), c("c1")))
            & (c("k") >= F.greatest(F.lit(0), c("r1") + c("c1") - c("n"))),
        )
    )
    joins = {
        "r1": c("r1"),
        "nr1": c("n") - c("r1"),
        "c1": c("c1"),
        "nc1": c("n") - c("c1"),
        "n": c("n"),
        "k": c("k"),
        "rk": c("r1") - c("k"),
        "ck": c("c1") - c("k"),
        "nk": c("n") - c("r1") - c("c1") + c("k"),
    }
    for alias, expr in joins.items():
        tbl, e = lfj(alias, expr)
        base = base.join(tbl, F.col(f"i_{alias}") == e)
    logp = (
        c("lnf_r1")
        + c("lnf_nr1")
        + c("lnf_c1")
        + c("lnf_nc1")
        - c("lnf_n")
        - c("lnf_k")
        - c("lnf_rk")
        - c("lnf_ck")
        - c("lnf_nk")
    ).cast("double")
    return base.select(
        "a",
        "r1",
        "c1",
        "n",
        F.round(F.exp(logp), 12).cast("decimal(38,12)").alias("p_k"),
    ).agg(
        F.any_value("a").alias("weekend_high"),
        F.any_value("r1").alias("n_weekend"),
        F.any_value("c1").alias("n_high"),
        F.any_value("n").alias("n_days"),
        F.round(F.sum("p_k").cast("double"), 6).alias("p_upper_tail"),
    )


_NEGBIN_ORACLE = """
WITH per_user AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY user_id
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(c) AS BIGINT) AS s1,
           CAST(SUM(c * c) AS BIGINT) AS s2
    FROM per_user
)
SELECT n AS n_users,
       round(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_events,
       round((CAST(s2 AS DOUBLE) - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
              * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) - 1), 6)
           AS var_events,
       round((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             / (((CAST(s2 AS DOUBLE)
                  - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                    * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))
                - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS r_shape,
       round((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
             / ((CAST(s2 AS DOUBLE)
                 - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                   * CAST(s1 AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)), 6)
           AS p_success
FROM s
"""


@query("agg_negative_binomial_fit", oracle=_NEGBIN_ORACLE)
def agg_negative_binomial_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit to per-user event counts
    (r = m²/(v−m), p = m/v) — the parametric model for the
    overdispersed count data `ts_count_overdispersion` DETECTS; r is
    the 'burstiness' a capacity simulation feeds (small r = heavy-tail
    users). One fact-table groupBy to per-user counts, then pure
    INTEGER sufficient statistics (n, Σc, Σc² — exact under any
    combine) and a fixed scalar dag; every output rounds once to the
    hash grid."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    s = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s1"),
        F.sum(F.col("c") * F.col("c")).alias("s2"),
    )
    nd = F.col("n").cast("double")
    s1d = F.col("s1").cast("double")
    s2d = F.col("s2").cast("double")
    mean = s1d / nd
    var = (s2d - mean * s1d) / (nd - 1)
    return s.select(
        F.col("n").alias("n_users"),
        F.round(mean, 6).alias("mean_events"),
        F.round(var, 6).alias("var_events"),
        F.round(mean * mean / (var - mean), 6).alias("r_shape"),
        F.round(mean / var, 6).alias("p_success"),
    )


_TUKEY_ORACLE = """
WITH g AS (
    SELECT o_orderpriority,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,6)))
                AS DOUBLE) AS s2
    FROM orders GROUP BY 1
),
msw AS (
    SELECT CAST(SUM(n) AS DOUBLE) AS nt,
           CAST(COUNT(*) AS DOUBLE) AS k,
           CAST(SUM(CAST(round(s2 - s1 * s1 / n, -3) AS DECIMAL(38,0)))
                AS DOUBLE) AS ssw
    FROM g
)
SELECT a.o_orderpriority AS group_a, b.o_orderpriority AS group_b,
       round(a.s1 / a.n, 6) AS mean_a,
       round(b.s1 / b.n, 6) AS mean_b,
       round(abs(a.s1 / a.n - b.s1 / b.n), 6) AS abs_diff,
       round(abs(a.s1 / a.n - b.s1 / b.n)
             / sqrt((m.ssw / (m.nt - m.k)) / 2
                    * (1 / a.n + 1 / b.n)), 6) AS q_stat
FROM g a
JOIN g b ON a.o_orderpriority < b.o_orderpriority
CROSS JOIN msw m
"""


@query("agg_tukey_hsd_qstats", oracle=_TUKEY_ORACLE)
def agg_tukey_hsd_qstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-Kramer studentized-range q statistics for every pair of
    order priorities — the post-hoc step after an ANOVA rejects (the F
    says SOMETHING differs; the 10 pairwise q's say WHICH, with the
    family-wise-safe denominator √(MSW/2·(1/nᵢ+1/nⱼ))). Per-group
    DECIMAL sufficient statistics in one fact pass; the within-group
    mean square reuses `ts_weekday_anova`'s cancellation-safe coarse
    grid; the 5-row group table self-joins broadcast for the 10
    pairs."""
    o = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(p.cast("decimal(38,6)")).cast("double").alias("s1"),
        F.sum((p * p).cast("decimal(38,6)")).cast("double").alias("s2"),
    )
    msw = g.agg(
        F.sum("n").cast("double").alias("nt"),
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(
            F.round(
                F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"), -3
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("ssw"),
    )
    a = g.select(
        F.col("o_orderpriority").alias("group_a"),
        F.col("n").alias("na"),
        F.col("s1").alias("sa"),
    )
    b = g.select(
        F.col("o_orderpriority").alias("group_b"),
        F.col("n").alias("nb"),
        F.col("s1").alias("sb"),
    )
    ma = F.col("sa") / F.col("na")
    mb = F.col("sb") / F.col("nb")
    mswc = (F.col("ssw") / (F.col("nt") - F.col("k"))) / 2
    return (
        a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
        .crossJoin(F.broadcast(msw))
        .select(
            "group_a",
            "group_b",
            F.round(ma, 6).alias("mean_a"),
            F.round(mb, 6).alias("mean_b"),
            F.round(F.abs(ma - mb), 6).alias("abs_diff"),
            F.round(
                F.abs(ma - mb)
                / F.sqrt(mswc * (1 / F.col("na") + 1 / F.col("nb"))),
                6,
            ).alias("q_stat"),
        )
    )


_CUPED_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           CAST(SUM(CAST(CASE WHEN ts < TIMESTAMP '2024-01-16'
                              THEN value ELSE 0 END AS DECIMAL(38,6)))
                AS DOUBLE) AS x,
           CAST(SUM(CAST(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                              THEN value ELSE 0 END AS DECIMAL(38,6)))
                AS DOUBLE) AS y
    FROM events GROUP BY user_id
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
    FROM per_user
)
SELECT n AS n_users,
       round((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS theta,
       round((syy - sy * sy / n) / (n - 1), 6) AS var_y,
       round(((syy - sy * sy / n)
              - (sxy - sx * sy / n) * (sxy - sx * sy / n)
                / (sxx - sx * sx / n)) / (n - 1), 6) AS var_y_cuped,
       round((sxy - sx * sy / n) * (sxy - sx * sy / n)
             / ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
           AS var_reduction
FROM s
"""


@query("agg_cuped_variance_reduction", oracle=_CUPED_ORACLE)
def agg_cuped_variance_reduction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data): per-user
    pre-period spend (days 1-15) as the covariate for post-period spend
    (days 16-30) — θ = cov(X,Y)/var(X), adjusted variance
    var(Y)−cov²/var(X), and the achieved reduction corr²(X,Y). This is
    the standard A/B-test sensitivity booster (same experiment detects
    ~1/√(1−ρ²) smaller effects). One fact pass to per-user (X, Y) pairs
    — both on the cents grid, so every second moment is an EXACT
    DECIMAL(38,6) sum — then a fixed scalar dag; partial-aggregable
    end to end."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("ts") < cut, F.col("value"))
            .otherwise(0)
            .cast(DEC)
        )
        .cast("double")
        .alias("x"),
        F.sum(
            F.when(F.col("ts") >= cut, F.col("value"))
            .otherwise(0)
            .cast(DEC)
        )
        .cast("double")
        .alias("y"),
    )
    s = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(F.col("x"), "sx"),
        dsum(F.col("y"), "sy"),
        dsum(F.col("x") * F.col("y"), "sxy"),
        dsum(F.col("x") * F.col("x"), "sxx"),
        dsum(F.col("y") * F.col("y"), "syy"),
    )
    n = F.col("n")
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / n
    cxx = F.col("sxx") - F.col("sx") * F.col("sx") / n
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / n
    return s.select(
        n.alias("n_users"),
        F.round(cxy / cxx, 6).alias("theta"),
        F.round(cyy / (n - 1), 6).alias("var_y"),
        F.round((cyy - cxy * cxy / cxx) / (n - 1), 6).alias(
            "var_y_cuped"
        ),
        F.round(cxy * cxy / (cxx * cyy), 6).alias("var_reduction"),
    )


_DID_ORACLE = """
WITH cell AS (
    SELECT CAST(user_id % 2 AS INT) AS treated,
           CAST(ts >= TIMESTAMP '2024-01-16' AS INT) AS post,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(value * value AS DECIMAL(38,6))) AS DOUBLE) AS s2
    FROM events
    GROUP BY 1, 2
),
m AS (
    SELECT treated, post, n, s1 / n AS mean,
           (s2 - s1 * s1 / n) / (n - 1) / n AS var_mean
    FROM cell
)
SELECT
    CAST(SUM(n) AS BIGINT) AS n_events,
    round(SUM(CASE WHEN treated = 1 AND post = 1 THEN mean ELSE 0 END)
          - SUM(CASE WHEN treated = 1 AND post = 0 THEN mean ELSE 0 END), 6)
        AS treated_delta,
    round(SUM(CASE WHEN treated = 0 AND post = 1 THEN mean ELSE 0 END)
          - SUM(CASE WHEN treated = 0 AND post = 0 THEN mean ELSE 0 END), 6)
        AS control_delta,
    round(SUM(CASE WHEN treated = post THEN mean ELSE -mean END), 6)
        AS did_estimate,
    round(sqrt(SUM(var_mean)), 6) AS did_se
FROM m
"""


@query("agg_diff_in_differences", oracle=_DID_ORACLE)
def agg_diff_in_differences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on event values: (treated post − treated
    pre) − (control post − control pre) with the four-cell pooled
    standard error — the quasi-experimental estimator when
    randomization is broken and a parallel-trends control exists
    (CUPED assumes randomized arms; DiD does not). One fact pass to
    2×2 cell moments (DECIMAL-exact on the cents grid), then a fixed
    4-row dag; the sign trick SUM(treated=post ? mean : −mean) IS the
    DiD contrast."""
    ev = load_table(spark, sf_dir, "events")
    cell = ev.groupBy(
        (F.col("user_id") % 2).cast("int").alias("treated"),
        (F.col("ts") >= F.lit("2024-01-16").cast("timestamp"))
        .cast("int")
        .alias("post"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dsum(F.col("value"), "s1"),
        dsum(F.col("value") * F.col("value"), "s2"),
    )
    m = cell.select(
        "treated",
        "post",
        "n",
        (F.col("s1") / F.col("n")).alias("mean"),
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
            / F.col("n")
        ).alias("var_mean"),
    )
    tp = F.col("treated") == F.col("post")
    pick = lambda t, p: F.sum(  # noqa: E731
        F.when(
            (F.col("treated") == t) & (F.col("post") == p), F.col("mean")
        ).otherwise(0.0)
    )
    return m.agg(
        F.sum("n").cast("long").alias("n_events"),
        F.round(pick(1, 1) - pick(1, 0), 6).alias("treated_delta"),
        F.round(pick(0, 1) - pick(0, 0), 6).alias("control_delta"),
        F.round(
            F.sum(F.when(tp, F.col("mean")).otherwise(-F.col("mean"))), 6
        ).alias("did_estimate"),
        F.round(F.sqrt(F.sum("var_mean")), 6).alias("did_se"),
    )


_SRM_ORACLE = """
WITH arms AS (
    SELECT CAST(user_id % 2 AS INT) AS arm,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
),
s AS (
    SELECT CAST(SUM(n_users) AS BIGINT) AS nt,
           CAST(SUM(CASE WHEN arm = 1 THEN n_users ELSE 0 END) AS BIGINT)
               AS n1,
           CAST(SUM(CASE WHEN arm = 1 THEN n_events ELSE 0 END) AS BIGINT)
               AS e1,
           CAST(SUM(n_events) AS BIGINT) AS et
    FROM arms
)
SELECT nt AS n_users_total, n1 AS n_users_treated,
       et AS n_events_total, e1 AS n_events_treated,
       round(power(CAST(n1 AS DOUBLE) - CAST(nt AS DOUBLE) / 2, 2)
             / (CAST(nt AS DOUBLE) / 4), 6) AS srm_chi2,
       CAST(power(CAST(n1 AS DOUBLE) - CAST(nt AS DOUBLE) / 2, 2)
            / (CAST(nt AS DOUBLE) / 4) > 3.841459 AS BOOLEAN)
           AS srm_flag
FROM s
"""


@query("agg_srm_guardrail", oracle=_SRM_ORACLE)
def agg_srm_guardrail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample Ratio Mismatch guardrail for the user_id%2 assignment: the
    1-df chi-square of observed treated-user count against the expected
    50/50 split, flagged at the 0.05 critical value — the FIRST check
    any experiment readout runs (a biased randomizer silently poisons
    CUPED/DiD/SPRT downstream; with an SRM flag the readout is
    discarded, not corrected). One distinct-user rollup; the statistic
    is a fixed dag over two integers."""
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy((F.col("user_id") % 2).cast("int").alias("arm")).agg(
        F.count_distinct(F.col("user_id")).cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    s = arms.agg(
        F.sum("n_users").cast("long").alias("nt"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_users")).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("n_events")).otherwise(0))
        .cast("long")
        .alias("e1"),
        F.sum("n_events").cast("long").alias("et"),
    )
    chi2 = F.pow(
        F.col("n1").cast("double") - F.col("nt").cast("double") / 2, 2
    ) / (F.col("nt").cast("double") / 4)
    return s.select(
        F.col("nt").alias("n_users_total"),
        F.col("n1").alias("n_users_treated"),
        F.col("et").alias("n_events_total"),
        F.col("e1").alias("n_events_treated"),
        F.round(chi2, 6).alias("srm_chi2"),
        (chi2 > 3.841459).alias("srm_flag"),
    )


_EB_ORACLE = """
WITH g AS (
    SELECT o_custkey AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,6)))
                AS DOUBLE) AS s2
    FROM orders GROUP BY 1
),
pooled AS (
    SELECT CAST(SUM(n) AS BIGINT) AS nt,
           CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(CAST(s1 AS DECIMAL(38,6))) AS DOUBLE) AS st,
           CAST(SUM(CAST(round(s2 - s1 * s1 / n, -3) AS DECIMAL(38,0)))
                AS DOUBLE) AS ssw,
           CAST(SUM(CAST(round((s1 / n) * (s1 / n) * n, -3)
                         AS DECIMAL(38,0))) AS DOUBLE) AS ssb_raw
    FROM g
),
stats AS (
    SELECT g.custkey, g.n, g.s1 / g.n AS gmean,
           p.st / p.nt AS grand,
           p.ssw / (p.nt - p.k) AS s2w,
           greatest((p.ssb_raw - (p.st / p.nt) * p.st)
                    / (p.k - 1) - p.ssw / (p.nt - p.k) * 1.0, 0.0)
               AS tau2_b
    FROM g CROSS JOIN pooled p
)
SELECT custkey, n AS n_orders,
       round(gmean, 6) AS group_mean,
       round(grand, 6) AS grand_mean,
       round(CASE WHEN tau2_b + s2w / n = 0 THEN gmean
                  ELSE (tau2_b / (tau2_b + s2w / n)) * gmean
                       + ((s2w / n) / (tau2_b + s2w / n)) * grand END, 6)
           AS eb_shrunk_mean
FROM stats
ORDER BY custkey
LIMIT 50
"""


@query("agg_empirical_bayes_shrinkage", oracle=_EB_ORACLE)
def agg_empirical_bayes_shrinkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical-Bayes (James-Stein-style) shrinkage of per-customer
    mean order values toward the grand mean: weight = τ²/(τ²+σ²/n) with
    method-of-moments between/within variance components — the
    estimator a leaderboard or anomaly ranking should use instead of
    raw small-n group means (a customer with 2 lucky orders stops
    topping the chart). One fact pass to per-customer DECIMAL moments; the
    variance components reuse `ts_weekday_anova`'s cancellation-safe
    coarse-grid rounding (±1e3 on squared-dollar sums, ~9 orders below
    signal); the shrink is a per-row fixed dag against one broadcast
    scalar row. First 50 customers keep the output bounded."""
    o = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    g = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(p.cast(DEC)).cast("double").alias("s1"),
        F.sum((p * p).cast(DEC)).cast("double").alias("s2"),
    )
    pooled = g.agg(
        F.sum("n").cast("long").alias("nt"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("s1").cast(DEC)).cast("double").alias("st"),
        F.sum(
            F.round(
                F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"), -3
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("ssw"),
        F.sum(
            F.round(
                (F.col("s1") / F.col("n"))
                * (F.col("s1") / F.col("n"))
                * F.col("n"),
                -3,
            ).cast("decimal(38,0)")
        )
        .cast("double")
        .alias("ssb_raw"),
    )
    st = g.crossJoin(F.broadcast(pooled))
    gmean = F.col("s1") / F.col("n")
    grand = F.col("st") / F.col("nt")
    s2w = F.col("ssw") / (F.col("nt") - F.col("k"))
    tau2 = F.greatest(
        (F.col("ssb_raw") - grand * F.col("st")) / (F.col("k") - 1)
        - s2w * 1.0,
        F.lit(0.0),
    )
    denom = tau2 + s2w / F.col("n")
    shrunk = F.when(denom == 0, gmean).otherwise(
        (tau2 / denom) * gmean + ((s2w / F.col("n")) / denom) * grand
    )
    return (
        st.select(
            "custkey",
            F.col("n").alias("n_orders"),
            F.round(gmean, 6).alias("group_mean"),
            F.round(grand, 6).alias("grand_mean"),
            F.round(shrunk, 6).alias("eb_shrunk_mean"),
        )
        .orderBy("custkey")
        .limit(50)
    )


_CONFORMAL_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS rev
    FROM orders GROUP BY 1
),
seq AS (
    SELECT day, rev,
           lag(rev) OVER (ORDER BY day) AS prev,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS rn,
           CAST(COUNT(*) OVER () AS BIGINT) AS n
    FROM daily
),
resid AS (
    SELECT day, rev, prev, rn, n,
           abs(rev - prev) AS ar,
           CAST(floor(n * 0.7) AS BIGINT) AS n_cal
    FROM seq WHERE prev IS NOT NULL
),
cal AS (
    SELECT quantile_cont(ar, 0.9) AS q90
    FROM resid WHERE rn <= n_cal
),
test AS (
    SELECT r.day, r.rev, r.prev, c.q90,
           CAST(abs(r.rev - r.prev) <= c.q90 AS INT) AS covered
    FROM resid r CROSS JOIN cal c
    WHERE r.rn > r.n_cal
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
       round(any_value(q90), 6) AS interval_half_width,
       CAST(SUM(covered) AS BIGINT) AS n_covered,
       round(CAST(SUM(covered) AS DOUBLE) / COUNT(*), 6)
           AS empirical_coverage
FROM test
"""


@query("agg_conformal_interval", oracle=_CONFORMAL_ORACLE)
def agg_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval for next-day revenue under the
    persistence forecast: the 0.9 quantile of |today − yesterday| on the
    first 70% of days is the distribution-free interval half-width; the
    held-out 30% reports empirical coverage — the finite-sample-valid
    uncertainty wrapper every forecaster here (`ts_holt_linear_forecast`,
    `ts_holt_winters_weekly`) should ship with (no normality assumption,
    coverage guaranteed ≥ 0.9 − 1/(n+1) by exchangeability). The
    calibration quantile uses the distributed running-count selector on
    the bounded daily series; the test pass is one broadcast scalar
    against the same series."""
    from pyspark.sql import Window as Win

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "rev")
    w = Win.orderBy("day")
    seq = daily.select(
        "day",
        "rev",
        F.lag("rev").over(w).alias("prev"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(Win.partitionBy()).cast("long").alias("n"),
    )
    resid = seq.where(F.col("prev").isNotNull()).select(
        "day",
        "rev",
        "prev",
        "rn",
        F.abs(F.col("rev") - F.col("prev")).alias("ar"),
        F.floor(F.col("n") * 0.7).cast("long").alias("n_cal"),
    )
    cal = exact_percentiles(
        resid.where(F.col("rn") <= F.col("n_cal")).select(
            F.col("ar").cast("double").alias("arv")
        ),
        [],
        "arv",
        {"q90": 0.9},
    )
    test = resid.where(F.col("rn") > F.col("n_cal")).crossJoin(
        F.broadcast(cal)
    )
    covered = (F.abs(F.col("rev") - F.col("prev")) <= F.col("q90")).cast(
        "int"
    )
    return test.agg(
        F.count(F.lit(1)).cast("long").alias("n_test"),
        F.round(F.any_value("q90"), 6).alias("interval_half_width"),
        F.sum(covered).cast("long").alias("n_covered"),
        F.round(
            F.sum(covered).cast("double") / F.count(F.lit(1)), 6
        ).alias("empirical_coverage"),
    )


_CVM_ORACLE = """
WITH s AS (
    SELECT o_totalprice AS v,
           CAST(o_orderpriority = '1-URGENT' AS INT) AS is_x
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
vc AS (
    SELECT v,
           CAST(SUM(is_x) AS BIGINT) AS cx,
           CAST(COUNT(*) - SUM(is_x) AS BIGINT) AS cy,
           CAST(COUNT(*) AS BIGINT) AS l
    FROM s GROUP BY v
),
cum AS (
    SELECT l,
           CAST(SUM(cx) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cxc,
           CAST(SUM(cy) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cyc,
           CAST(SUM(cx) OVER () AS BIGINT) AS n,
           CAST(SUM(cy) OVER () AS BIGINT) AS m
    FROM vc
)
SELECT any_value(n) AS n_urgent, any_value(m) AS n_low,
       round(CAST(SUM(CAST(l AS DECIMAL(38,0))
                      * (m * cxc - n * cyc) * (m * cxc - n * cyc))
                  AS DOUBLE)
             / (CAST(any_value(n) AS DOUBLE) * any_value(m)
                * power(CAST(any_value(n) + any_value(m) AS DOUBLE), 2)),
             6) AS cvm_statistic
FROM cum
"""


@query("agg_cramer_von_mises_2sample", oracle=_CVM_ORACLE)
def agg_cramer_von_mises_2sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Cramér-von Mises criterion between URGENT and LOW
    order-price distributions: T = nm/N² Σ (F̂_x−F̂_y)² over every pooled
    observation — the whole-distribution counterpart to the KS test's
    max-gap (CvM integrates ALL ECDF discrepancy, so it catches spread/
    tail differences a single crossing hides). Tie-safe by construction:
    everything evaluates on distinct-value groups with exact integer
    ECDF numerators (m·CX − n·CY), DECIMAL-widened squares, one double
    division at the very end. One value-counts shuffle + one running
    window — the same scale-safe shape as the exact-percentile
    selector."""
    from pyspark.sql import Window as Win

    o = load_table(spark, sf_dir, "orders")
    s = o.where(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    ).select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("is_x"),
    )
    vc = s.groupBy("v").agg(
        F.sum("is_x").cast("long").alias("cx"),
        (F.count(F.lit(1)) - F.sum("is_x")).cast("long").alias("cy"),
        F.count(F.lit(1)).cast("long").alias("l"),
    )
    wrun = Win.orderBy("v").rowsBetween(Win.unboundedPreceding, Win.currentRow)
    wall = Win.partitionBy()
    cum = vc.select(
        "l",
        F.sum("cx").over(wrun).cast("long").alias("cxc"),
        F.sum("cy").over(wrun).cast("long").alias("cyc"),
        F.sum("cx").over(wall).cast("long").alias("n"),
        F.sum("cy").over(wall).cast("long").alias("m"),
    )
    diff = F.col("m") * F.col("cxc") - F.col("n") * F.col("cyc")
    return cum.agg(
        F.any_value("n").alias("n_urgent"),
        F.any_value("m").alias("n_low"),
        F.round(
            F.sum(F.col("l").cast("decimal(38,0)") * diff * diff).cast(
                "double"
            )
            / (
                F.any_value("n").cast("double")
                * F.any_value("m")
                * F.pow(
                    (F.any_value("n") + F.any_value("m")).cast("double"),
                    2,
                )
            ),
            6,
        ).alias("cvm_statistic"),
    )


_MCNEMAR_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           CAST(max(CASE WHEN event_type = 'purchase'
                         AND ts < TIMESTAMP '2024-01-16'
                    THEN 1 ELSE 0 END) AS INT) AS pre,
           CAST(max(CASE WHEN event_type = 'purchase'
                         AND ts >= TIMESTAMP '2024-01-16'
                    THEN 1 ELSE 0 END) AS INT) AS post
    FROM events GROUP BY user_id
),
cells AS (
    SELECT CAST(SUM(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS a,
           CAST(SUM(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS b,
           CAST(SUM(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS c,
           CAST(SUM(CASE WHEN pre = 0 AND post = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS d
    FROM per_user
)
SELECT a AS both_periods, b AS pre_only, c AS post_only, d AS neither,
       round(CASE WHEN b + c = 0 THEN 0.0
                  ELSE power(CAST(b AS DOUBLE) - c, 2)
                       / (CAST(b AS DOUBLE) + c) END, 6)
           AS mcnemar_chi2,
       CAST(CASE WHEN b + c = 0 THEN FALSE
                 ELSE power(CAST(b AS DOUBLE) - c, 2)
                      / (CAST(b AS DOUBLE) + c) > 3.841459 END
            AS BOOLEAN) AS significant_05
FROM cells
"""


@query("agg_mcnemar_paired_test", oracle=_MCNEMAR_ORACLE)
def agg_mcnemar_paired_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on paired per-user purchase behavior (bought in
    days 1-15 vs days 16-30): χ² = (b−c)²/(b+c) over the discordant
    cells — the PAIRED counterpart the experiment family was missing
    (two-proportion tests on the same users overstate evidence because
    within-user outcomes correlate; McNemar conditions on the
    concordant pairs away). One fact pass to per-user pre/post flags,
    one 4-cell rollup, fixed scalar dag over two integers."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    is_p = F.col("event_type") == "purchase"
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(is_p & (F.col("ts") < cut), 1).otherwise(0)
        ).alias("pre"),
        F.max(
            F.when(is_p & (F.col("ts") >= cut), 1).otherwise(0)
        ).alias("post"),
    )
    cell = lambda p, q: F.sum(  # noqa: E731
        F.when((F.col("pre") == p) & (F.col("post") == q), 1).otherwise(0)
    ).cast("long")
    cells = per_user.agg(
        cell(1, 1).alias("a"),
        cell(1, 0).alias("b"),
        cell(0, 1).alias("c"),
        cell(0, 0).alias("d"),
    )
    bc = F.col("b").cast("double") + F.col("c")
    chi2 = F.when(F.col("b") + F.col("c") == 0, F.lit(0.0)).otherwise(
        F.pow(F.col("b").cast("double") - F.col("c"), 2) / bc
    )
    return cells.select(
        F.col("a").alias("both_periods"),
        F.col("b").alias("pre_only"),
        F.col("c").alias("post_only"),
        F.col("d").alias("neither"),
        F.round(chi2, 6).alias("mcnemar_chi2"),
        F.when(F.col("b") + F.col("c") == 0, F.lit(False))
        .otherwise(chi2 > 3.841459)
        .alias("significant_05"),
    )


_GAMMA_ORACLE = """
WITH s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(round(o_totalprice * 100) AS DECIMAL(38,0))
                    * CAST(round(o_totalprice * 100) AS DECIMAL(38,0)))
                AS DOUBLE) / 10000 AS s2
    FROM orders
)
SELECT n AS n_orders,
       round(s1 / n, 6) AS mean_price,
       round((s2 - (s1 / n) * s1) / (n - 1), 6) AS var_price,
       round((s1 / n) * (s1 / n)
             / ((s2 - (s1 / n) * s1) / (n - 1)), 6) AS gamma_shape_k,
       round(((s2 - (s1 / n) * s1) / (n - 1)) / (s1 / n), 6)
           AS gamma_scale_theta
FROM s
"""


@query("agg_gamma_mom_fit", oracle=_GAMMA_ORACLE)
def agg_gamma_mom_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gamma method-of-moments fit to order values (k = m²/v, θ = v/m) —
    the continuous severity model next to `agg_negative_binomial_fit`'s
    discrete frequency model: together they are the classic
    frequency-severity decomposition for revenue simulation (draw
    counts from NB, sizes from Gamma). One DECIMAL-exact moment pass,
    fixed scalar dag."""
    o = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    # Exact second moment: prices are exactly cents, so Σp² computes as
    # integer cents² summed in DECIMAL(38,0) / 1e4 — at this magnitude
    # (p² ≈ 6e10) the double ULP EXCEEDS the 6-dp grid, so the usual
    # double-product → DECIMAL(38,6) route rounds differently per engine.
    pc = F.round(p * 100).cast("decimal(38,0)")
    s = o.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(p.cast(DEC)).cast("double").alias("s1"),
        (F.sum(pc * pc).cast("double") / 10000).alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = (F.col("s2") - mean * F.col("s1")) / (F.col("n") - 1)
    return s.select(
        F.col("n").alias("n_orders"),
        F.round(mean, 6).alias("mean_price"),
        F.round(var, 6).alias("var_price"),
        F.round(mean * mean / var, 6).alias("gamma_shape_k"),
        F.round(var / mean, 6).alias("gamma_scale_theta"),
    )


_HILL_ORACLE = """
WITH topk AS (
    SELECT CAST(o_totalprice AS DOUBLE) AS v,
           row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS rnk
    FROM orders
    QUALIFY rnk <= 101
),
anchor AS (
    SELECT v AS x_k1 FROM topk WHERE rnk = 101
)
SELECT CAST(100 AS BIGINT) AS k,
       round(any_value(a.x_k1), 2) AS threshold_price,
       round(CAST(SUM(CAST(round(ln(t.v / a.x_k1), 6) AS DECIMAL(38,6)))
                  AS DOUBLE) / 100, 6) AS hill_gamma,
       round(100 / CAST(SUM(CAST(round(ln(t.v / a.x_k1), 6)
                                 AS DECIMAL(38,6))) AS DOUBLE), 6)
           AS tail_index_alpha
FROM topk t CROSS JOIN anchor a
WHERE t.rnk <= 100
"""


@query("agg_hill_tail_index", oracle=_HILL_ORACLE)
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the right-tail index on order values (k=100):
    γ̂ = mean ln(x₍ᵢ₎/x₍ₖ₊₁₎) over the top-k order statistics, α = 1/γ̂ —
    the standard heavy-tail diagnostic that says whether extreme orders
    follow a power law (α ≤ 2 means infinite variance: expect the
    revenue concentration `agg_lorenz_curve` shows, and size capacity by
    quantiles, not means; complements `agg_gumbel_evt_fit`'s block-maxima
    view with the peaks-over-threshold view). Top-101 is
    TakeOrderedAndProject (never a global sort); log ratios of
    engine-identical doubles quantize to the 6-dp grid before the
    DECIMAL sum."""
    from pyspark.sql import Window as Win

    o = load_table(spark, sf_dir, "orders")
    topk = (
        o.select(
            F.col("o_totalprice").cast("double").alias("v"),
            "o_orderkey",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(101)
        .select(
            "v",
            F.row_number()
            .over(Win.orderBy(F.col("v").desc(), "o_orderkey"))
            .alias("rnk"),
        )
    )
    anchor = topk.where(F.col("rnk") == 101).select(
        F.col("v").alias("x_k1")
    )
    lnterm = F.round(F.log(F.col("v") / F.col("x_k1")), 6).cast(
        "decimal(38,6)"
    )
    return (
        topk.where(F.col("rnk") <= 100)
        .crossJoin(F.broadcast(anchor))
        .agg(
            F.lit(100).cast("long").alias("k"),
            F.round(F.any_value("x_k1"), 2).alias("threshold_price"),
            F.round(
                F.sum(lnterm).cast("double") / 100, 6
            ).alias("hill_gamma"),
            F.round(
                100 / F.sum(lnterm).cast("double"), 6
            ).alias("tail_index_alpha"),
        )
    )


_STRAT_ATE_ORACLE = """
WITH pre AS (
    SELECT user_id,
           CAST(COUNT(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN 1 END) AS BIGINT) AS pre_n,
           CAST(SUM(CAST(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                              THEN value ELSE 0 END AS DECIMAL(38,6)))
                AS DOUBLE) AS y,
           CAST(user_id % 2 AS INT) AS treated
    FROM events GROUP BY user_id
),
strat AS (
    SELECT treated, y,
           ntile(4) OVER (ORDER BY pre_n, user_id) AS stratum
    FROM pre
),
cell AS (
    SELECT stratum, treated,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy
    FROM strat GROUP BY 1, 2
)
SELECT t.stratum,
       t.n AS n_treated, c.n AS n_control,
       round(t.sy / t.n, 6) AS mean_treated,
       round(c.sy / c.n, 6) AS mean_control,
       round(t.sy / t.n - c.sy / c.n, 6) AS stratum_effect
FROM cell t JOIN cell c ON c.stratum = t.stratum
WHERE t.treated = 1 AND c.treated = 0
ORDER BY t.stratum
"""


@query("agg_stratified_ate", oracle=_STRAT_ATE_ORACLE)
def agg_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified treatment-effect readout: users bucketed into
    pre-period activity quartiles (the propensity proxy), post-period
    spend compared treated-vs-control WITHIN each stratum — the
    confounding check the raw CUPED/DiD aggregates skip (a flat effect
    across strata supports the causal read; an effect living only in
    the heaviest-user quartile says selection, not treatment). Tie
    order pins ntile boundaries with the user key; one fact pass, one
    user-table window, one 8-cell rollup self-joined broadcast."""
    from pyspark.sql import Window as Win

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    pre = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("ts") < cut, 1)).cast("long").alias("pre_n"),
        F.sum(
            F.when(F.col("ts") >= cut, F.col("value"))
            .otherwise(0)
            .cast(DEC)
        )
        .cast("double")
        .alias("y"),
    ).select(
        "user_id",
        "pre_n",
        "y",
        (F.col("user_id") % 2).cast("int").alias("treated"),
    )
    strat = pre.select(
        "treated",
        "y",
        F.ntile(4).over(Win.orderBy("pre_n", "user_id")).alias("stratum"),
    )
    cell = strat.groupBy("stratum", "treated").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("y").cast(DEC)).cast("double").alias("sy"),
    )
    t = cell.where(F.col("treated") == 1).select(
        "stratum",
        F.col("n").alias("n_treated"),
        F.col("sy").alias("sy_t"),
    )
    c = cell.where(F.col("treated") == 0).select(
        "stratum",
        F.col("n").alias("n_control"),
        F.col("sy").alias("sy_c"),
    )
    mt = F.col("sy_t") / F.col("n_treated")
    mc = F.col("sy_c") / F.col("n_control")
    return (
        t.join(F.broadcast(c), "stratum")
        .select(
            "stratum",
            "n_treated",
            "n_control",
            F.round(mt, 6).alias("mean_treated"),
            F.round(mc, 6).alias("mean_control"),
            F.round(mt - mc, 6).alias("stratum_effect"),
        )
        .orderBy("stratum")
    )


_WILCOXON_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           CAST(SUM(CAST(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                              THEN value ELSE 0 END AS DECIMAL(38,6)))
                - SUM(CAST(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                THEN value ELSE 0 END AS DECIMAL(38,6)))
               AS DECIMAL(38,6)) AS d
    FROM events GROUP BY user_id
),
nz AS (
    SELECT abs(d) AS ad, CAST(d > 0 AS INT) AS pos
    FROM per_user WHERE d <> 0
),
vc AS (
    SELECT ad,
           CAST(COUNT(*) AS BIGINT) AS l,
           CAST(SUM(pos) AS BIGINT) AS npos
    FROM nz GROUP BY ad
),
rk AS (
    SELECT ad, l, npos,
           CAST(SUM(l) OVER (ORDER BY ad
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - l
               AS BIGINT) AS cum_before,
           CAST(SUM(l) OVER () AS BIGINT) AS n
    FROM vc
),
w AS (
    SELECT any_value(n) AS n,
           CAST(SUM(CAST(npos AS DECIMAL(38,6))
                    * (cum_before + (l + 1) / CAST(2 AS DOUBLE)))
                AS DOUBLE) AS w_plus,
           CAST(SUM(CAST(l AS DECIMAL(38,0)) * l * l - l) AS DOUBLE)
               AS tie_cubes
    FROM rk
)
SELECT n AS n_pairs,
       round(w_plus, 6) AS w_plus,
       round((w_plus - CAST(n AS DOUBLE) * (n + 1) / 4)
             / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                    - tie_cubes / 48), 6) AS z_statistic
FROM w
"""


@query("agg_wilcoxon_signed_rank", oracle=_WILCOXON_ORACLE)
def agg_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired per-user spend (post − pre
    period): midranks of |differences| with the tie-corrected normal
    approximation — the nonparametric paired counterpart to a paired
    t-test (no normality assumption on spend diffs; complements
    `agg_mcnemar_paired_test`, which pairs BINARY outcomes). Differences
    live on the exact cents DECIMAL grid so zero-exclusion and tie
    groups are engine-identical; midranks come from the distinct-value
    running count (cum_before + (l+1)/2 — the same value-counts shape
    as the exact-percentile selector); W⁺ and the tie cube sum are
    exact before the one final sqrt."""
    from pyspark.sql import Window as Win

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        (
            F.sum(
                F.when(F.col("ts") >= cut, F.col("value"))
                .otherwise(0)
                .cast(DEC)
            )
            - F.sum(
                F.when(F.col("ts") < cut, F.col("value"))
                .otherwise(0)
                .cast(DEC)
            )
        )
        .cast(DEC)
        .alias("d")
    )
    nz = per_user.where(F.col("d") != 0).select(
        F.abs(F.col("d")).alias("ad"),
        (F.col("d") > 0).cast("int").alias("pos"),
    )
    vc = nz.groupBy("ad").agg(
        F.count(F.lit(1)).cast("long").alias("l"),
        F.sum("pos").cast("long").alias("npos"),
    )
    rk = vc.select(
        "ad",
        "l",
        "npos",
        (
            F.sum("l").over(
                Win.orderBy("ad").rowsBetween(
                    Win.unboundedPreceding, Win.currentRow
                )
            )
            - F.col("l")
        )
        .cast("long")
        .alias("cum_before"),
        F.sum("l").over(Win.partitionBy()).cast("long").alias("n"),
    )
    w = rk.agg(
        F.any_value("n").alias("n"),
        F.sum(
            F.col("npos").cast(DEC)
            * (F.col("cum_before") + (F.col("l") + 1) / F.lit(2.0))
        )
        .cast("double")
        .alias("w_plus"),
        F.sum(
            F.col("l").cast("decimal(38,0)") * F.col("l") * F.col("l")
            - F.col("l")
        )
        .cast("double")
        .alias("tie_cubes"),
    )
    nd = F.col("n").cast("double")
    return w.select(
        F.col("n").alias("n_pairs"),
        F.round("w_plus", 6).alias("w_plus"),
        F.round(
            (F.col("w_plus") - nd * (F.col("n") + 1) / 4)
            / F.sqrt(
                nd * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24
                - F.col("tie_cubes") / 48
            ),
            6,
        ).alias("z_statistic"),
    )


_FRIEDMAN_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM orders GROUP BY 1
),
wk AS (
    SELECT day, y,
           CAST(date_trunc('week', day) AS DATE) AS week,
           dayofweek(day) AS dow
    FROM daily
),
full_weeks AS (
    SELECT week FROM wk GROUP BY week HAVING COUNT(*) = 7
),
ranked AS (
    SELECT w.week, w.dow,
           row_number() OVER (PARTITION BY w.week
                              ORDER BY w.y, w.day) AS r
    FROM wk w JOIN full_weeks f ON f.week = w.week
),
rj AS (
    SELECT dow, CAST(SUM(r) AS BIGINT) AS r_sum,
           CAST(COUNT(*) AS BIGINT) AS n_weeks
    FROM ranked GROUP BY dow
),
s AS (
    SELECT any_value(n_weeks) AS n,
           CAST(SUM(CAST(r_sum AS DECIMAL(38,0)) * r_sum) AS DOUBLE)
               AS sum_rj2
    FROM rj
)
SELECT n AS n_weeks,
       round(12.0 / (CAST(n AS DOUBLE) * 7 * 8) * sum_rj2
             - 3.0 * n * 8, 6) AS friedman_chi2,
       CAST(12.0 / (CAST(n AS DOUBLE) * 7 * 8) * sum_rj2
            - 3.0 * n * 8 > 12.591587 AS BOOLEAN) AS significant_05
FROM s
"""


@query("agg_friedman_weekday_test", oracle=_FRIEDMAN_ORACLE)
def agg_friedman_weekday_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Friedman test for weekday effects: within every COMPLETE week,
    rank the 7 daily revenues,
    (ties pinned on the DATE, identical in both engines), then
    χ²_F = 12/(n·k(k+1))·ΣR_j² − 3n(k+1) with k=7 — the
    nonparametric repeated-measures ANOVA (each week is its own block,
    so a long-run trend can't fake a weekday effect the way it can in
    `ts_weekday_anova`'s pooled variance). Blocks are bounded (weeks of
    a calendar), ranks are integers, and the rank-sum squares are exact
    before one final double dag; 6-df critical value flags at 0.05."""
    from pyspark.sql import Window as Win

    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "y")
    wk = daily.select(
        "day",
        "y",
        F.trunc("day", "week").alias("week"),
        F.dayofweek("day").alias("dow"),
    )
    full_weeks = wk.groupBy("week").agg(
        F.count(F.lit(1)).alias("c")
    ).where(F.col("c") == 7).select("week")
    ranked = wk.join(full_weeks, "week").select(
        "week",
        "dow",
        F.row_number()
        .over(Win.partitionBy("week").orderBy("y", "day"))
        .alias("r"),
    )
    rj = ranked.groupBy("dow").agg(
        F.sum("r").cast("long").alias("r_sum"),
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
    )
    s = rj.agg(
        F.any_value("n_weeks").alias("n"),
        F.sum(F.col("r_sum").cast("decimal(38,0)") * F.col("r_sum"))
        .cast("double")
        .alias("sum_rj2"),
    )
    nd = F.col("n").cast("double")
    chi2 = 12.0 / (nd * 7 * 8) * F.col("sum_rj2") - 3.0 * F.col("n") * 8
    return s.select(
        F.col("n").alias("n_weeks"),
        F.round(chi2, 6).alias("friedman_chi2"),
        (chi2 > 12.591587).alias("significant_05"),
    )


_TARGET_ENC_ORACLE = """
WITH g AS (
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_g,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS s_g
    FROM orders GROUP BY 1
),
overall AS (
    SELECT CAST(SUM(CAST(s_g AS DECIMAL(38,6))) AS DOUBLE) AS s_t,
           CAST(SUM(n_g) AS BIGINT) AS n_t
    FROM g
),
enc AS (
    SELECT o.o_orderkey, o.o_orderpriority,
           (g.s_g - o.o_totalprice) / (g.n_g - 1) AS loo_enc,
           (g.s_g + 20 * (gl.s_t / gl.n_t)) / (g.n_g + 20) AS smooth_enc
    FROM orders o
    JOIN g ON g.o_orderpriority = o.o_orderpriority
    CROSS JOIN overall gl
    WHERE o.o_orderkey % 997 = 0
)
SELECT o_orderkey, o_orderpriority,
       round(loo_enc, 6) AS loo_target_enc,
       round(smooth_enc, 6) AS smoothed_target_enc
FROM enc
"""


@query("feature_target_encoding", oracle=_TARGET_ENC_ORACLE)
def feature_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Target encoding of order priority against order value, two
    leakage-disciplined variants per row: leave-one-out
    ((ΣY_g − y_i)/(n_g − 1) — the row's own label never leaks into its
    feature) and additive smoothing toward the global mean (prior
    weight m=20 — rare categories shrink to the prior instead of
    memorizing noise) — the standard high-cardinality categorical
    encoder for gradient-boosted models, next to
    `feature_normalize_per_group`'s scaling. One group rollup broadcast
    back onto a keyed row sample; DECIMAL-exact sums, one double dag
    per row."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("s_g"),
    )
    glob = g.agg(
        F.sum(F.col("s_g").cast(DEC)).cast("double").alias("s_t"),
        F.sum("n_g").cast("long").alias("n_t"),
    )
    return (
        o.where(F.col("o_orderkey") % 997 == 0)
        .join(F.broadcast(g), "o_orderpriority")
        .crossJoin(F.broadcast(glob))
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round(
                (F.col("s_g") - F.col("o_totalprice"))
                / (F.col("n_g") - 1),
                6,
            ).alias("loo_target_enc"),
            F.round(
                (F.col("s_g") + 20 * (F.col("s_t") / F.col("n_t")))
                / (F.col("n_g") + 20),
                6,
            ).alias("smoothed_target_enc"),
        )
    )


_AUC_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           CAST(COUNT(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN 1 END) AS BIGINT) AS score,
           CAST(SUM(CAST(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                              THEN value ELSE 0 END AS DECIMAL(38,6)))
                > SUM(CAST(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                THEN value ELSE 0 END AS DECIMAL(38,6)))
               AS INT) AS y
    FROM events GROUP BY user_id
),
vc AS (
    SELECT score,
           CAST(COUNT(*) AS BIGINT) AS l,
           CAST(SUM(y) AS BIGINT) AS npos
    FROM per_user GROUP BY score
),
rk AS (
    SELECT score, l, npos,
           CAST(SUM(l) OVER (ORDER BY score
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - l
               AS BIGINT) AS cum_before
    FROM vc
),
s AS (
    SELECT CAST(SUM(npos) AS BIGINT) AS n1,
           CAST(SUM(l - npos) AS BIGINT) AS n0,
           CAST(SUM(CAST(npos AS DECIMAL(38,1))
                    * (cum_before + (l + 1) / CAST(2 AS DOUBLE)))
                AS DOUBLE) AS rank_sum_pos
    FROM rk
)
SELECT n1 AS n_positive, n0 AS n_negative,
       round((rank_sum_pos - CAST(n1 AS DOUBLE) * (n1 + 1) / 2)
             / (CAST(n1 AS DOUBLE) * n0), 6) AS auc
FROM s
"""


@query("agg_auc_rank_sum", oracle=_AUC_ORACLE)
def agg_auc_rank_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed exact ROC-AUC via the rank-sum identity
    AUC = (ΣR⁺ − n₁(n₁+1)/2)/(n₁n₀): pre-period activity count scoring
    whether post-period spend exceeds pre-period spend (an exact
    cents-grid label) — the standard way to compute AUC on data that
    doesn't fit one machine (sort-free per-threshold confusion matrices
    aren't needed; the Mann-Whitney identity gives the whole curve's
    area from ONE value-counts pass with midranks for tied scores,
    ties-in-halves exact in DECIMAL(38,1)). The evaluation metric for
    any churn/propensity score the feature queries
    (`feature_target_encoding`) produce."""
    from pyspark.sql import Window as Win

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("ts") < cut, 1))
        .cast("long")
        .alias("score"),
        (
            F.sum(
                F.when(F.col("ts") >= cut, F.col("value"))
                .otherwise(0)
                .cast(DEC)
            )
            > F.sum(
                F.when(F.col("ts") < cut, F.col("value"))
                .otherwise(0)
                .cast(DEC)
            )
        )
        .cast("int")
        .alias("y"),
    )
    vc = per_user.groupBy("score").agg(
        F.count(F.lit(1)).cast("long").alias("l"),
        F.sum("y").cast("long").alias("npos"),
    )
    rk = vc.select(
        "score",
        "l",
        "npos",
        (
            F.sum("l").over(
                Win.orderBy("score").rowsBetween(
                    Win.unboundedPreceding, Win.currentRow
                )
            )
            - F.col("l")
        )
        .cast("long")
        .alias("cum_before"),
    )
    s = rk.agg(
        F.sum("npos").cast("long").alias("n1"),
        F.sum(F.col("l") - F.col("npos")).cast("long").alias("n0"),
        F.sum(
            F.col("npos").cast("decimal(38,1)")
            * (F.col("cum_before") + (F.col("l") + 1) / F.lit(2.0))
        )
        .cast("double")
        .alias("rank_sum_pos"),
    )
    n1d = F.col("n1").cast("double")
    return s.select(
        F.col("n1").alias("n_positive"),
        F.col("n0").alias("n_negative"),
        F.round(
            (F.col("rank_sum_pos") - n1d * (F.col("n1") + 1) / 2)
            / (n1d * F.col("n0")),
            6,
        ).alias("auc"),
    )


_ECE_ORACLE = """
WITH med AS (
    SELECT quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS m
    FROM orders
),
lab AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS mth,
           CAST(o_totalprice > (SELECT m FROM med) AS INT) AS y
    FROM orders
),
cell AS (
    SELECT o_orderpriority, mth,
           CAST(COUNT(*) AS BIGINT) AS n_c,
           CAST(SUM(y) AS BIGINT) AS k_c
    FROM lab GROUP BY 1, 2
),
scored AS (
    SELECT l.o_orderkey, l.y,
           round((c.k_c + 10 * 0.5) / (c.n_c + 10), 6) AS conf
    FROM lab l
    JOIN cell c ON c.o_orderpriority = l.o_orderpriority
               AND c.mth = l.mth
),
binned AS (
    SELECT y, conf,
           ntile(10) OVER (ORDER BY conf, o_orderkey) AS bin
    FROM scored
),
per_bin AS (
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_b,
           CAST(SUM(y) AS BIGINT) AS k_b,
           CAST(SUM(CAST(conf AS DECIMAL(38,6))) AS DOUBLE) AS conf_sum
    FROM binned GROUP BY bin
),
tot AS (SELECT CAST(SUM(n_b) AS BIGINT) AS n FROM per_bin)
SELECT CAST(10 AS INT) AS n_bins,
       t.n AS n_rows,
       round(CAST(SUM(CAST(round(
           abs(CAST(p.k_b AS DOUBLE) / p.n_b - p.conf_sum / p.n_b)
           * p.n_b / t.n, 9) AS DECIMAL(38,9))) AS DOUBLE), 6) AS ece
FROM per_bin p CROSS JOIN tot t
GROUP BY t.n
"""


@query("agg_expected_calibration_error", oracle=_ECE_ORACLE)
def agg_expected_calibration_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Expected Calibration Error of a priority×month smoothed-rate
    predictor of above-median order value: decile-bin the confidences
    (ties pinned on the order key), ECE = Σ n_b/N·|accuracy_b −
    confidence_b| — the standard probability-calibration audit
    (`agg_auc_rank_sum` measures DISCRIMINATION; a score can rank
    perfectly and still be badly calibrated, and calibration is what
    downstream thresholds consume). The median label cut uses the
    distributed exact selector; confidences quantize to the 6-dp grid,
    per-bin terms to the 9-dp grid before the final sum."""
    from pyspark.sql import Window as Win

    o = load_table(spark, sf_dir, "orders")
    med = exact_percentiles(
        o.select(F.col("o_totalprice").cast("double").alias("v")),
        [],
        "v",
        {"m": 0.5},
    )
    lab = o.crossJoin(F.broadcast(med)).select(
        "o_orderkey",
        "o_orderpriority",
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("mth"),
        (F.col("o_totalprice") > F.col("m")).cast("int").alias("y"),
    )
    cell = lab.groupBy("o_orderpriority", "mth").agg(
        F.count(F.lit(1)).cast("long").alias("n_c"),
        F.sum("y").cast("long").alias("k_c"),
    )
    scored = lab.join(cell, ["o_orderpriority", "mth"]).select(
        "o_orderkey",
        "y",
        F.round(
            (F.col("k_c") + 10 * 0.5) / (F.col("n_c") + 10), 6
        ).alias("conf"),
    )
    binned = scored.select(
        "y",
        "conf",
        F.ntile(10).over(Win.orderBy("conf", "o_orderkey")).alias("bin"),
    )
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("y").cast("long").alias("k_b"),
        F.sum(F.col("conf").cast("decimal(38,6)"))
        .cast("double")
        .alias("conf_sum"),
    )
    tot = per_bin.agg(F.sum("n_b").cast("long").alias("n"))
    term = F.round(
        F.abs(
            F.col("k_b").cast("double") / F.col("n_b")
            - F.col("conf_sum") / F.col("n_b")
        )
        * F.col("n_b")
        / F.col("n"),
        9,
    ).cast("decimal(38,9)")
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .groupBy("n")
        .agg(
            F.lit(10).cast("int").alias("n_bins"),
            F.round(F.sum(term).cast("double"), 6).alias("ece"),
        )
        .select(
            "n_bins", F.col("n").alias("n_rows"), "ece"
        )
    )


_PROBSCORE_ORACLE = """
WITH med AS (
    SELECT quantile_cont(CAST(o_totalprice AS DOUBLE), 0.5) AS m
    FROM orders
),
lab AS (
    SELECT o_orderkey, o_orderpriority,
           CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE)
               AS mth,
           CAST(o_totalprice > (SELECT m FROM med) AS INT) AS y
    FROM orders
),
cell AS (
    SELECT o_orderpriority, mth,
           CAST(COUNT(*) AS BIGINT) AS n_c,
           CAST(SUM(y) AS BIGINT) AS k_c
    FROM lab GROUP BY 1, 2
),
scored AS (
    SELECT l.y,
           round((c.k_c + 10 * 0.5) / (c.n_c + 10), 6) AS p
    FROM lab l
    JOIN cell c ON c.o_orderpriority = l.o_orderpriority
               AND c.mth = l.mth
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       round(CAST(SUM(CAST(round((p - y) * (p - y), 9)
                          AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 6)
           AS brier_score,
       round(CAST(SUM(CAST(round(
                 -(y * ln(p) + (1 - y) * ln(1 - p)), 9)
                 AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 6)
           AS log_loss
FROM scored
"""


@query("agg_probabilistic_scores", oracle=_PROBSCORE_ORACLE)
def agg_probabilistic_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score and log loss of the priority×month smoothed-rate
    predictor — the proper scoring rules that complete the evaluation
    trio: `agg_auc_rank_sum` measures ranking, 
    `agg_expected_calibration_error` measures calibration in bins, and
    proper scores measure BOTH at once (you cannot game them by
    reporting miscalibrated confidences). Confidences quantize to the
    6-dp grid (smoothing keeps p strictly inside (0,1), so ln is
    total); per-row terms to the 9-dp grid before DECIMAL sums."""
    o = load_table(spark, sf_dir, "orders")
    med = exact_percentiles(
        o.select(F.col("o_totalprice").cast("double").alias("v")),
        [],
        "v",
        {"m": 0.5},
    )
    lab = o.crossJoin(F.broadcast(med)).select(
        "o_orderpriority",
        F.trunc(F.col("o_orderdate").cast("date"), "month").alias("mth"),
        (F.col("o_totalprice") > F.col("m")).cast("int").alias("y"),
    )
    cell = lab.groupBy("o_orderpriority", "mth").agg(
        F.count(F.lit(1)).cast("long").alias("n_c"),
        F.sum("y").cast("long").alias("k_c"),
    )
    scored = lab.join(cell, ["o_orderpriority", "mth"]).select(
        "y",
        F.round(
            (F.col("k_c") + 10 * 0.5) / (F.col("n_c") + 10), 6
        ).alias("p"),
    )
    brier_t = F.round(
        (F.col("p") - F.col("y")) * (F.col("p") - F.col("y")), 9
    ).cast("decimal(38,9)")
    ll_t = F.round(
        -(
            F.col("y") * F.log(F.col("p"))
            + (1 - F.col("y")) * F.log(1 - F.col("p"))
        ),
        9,
    ).cast("decimal(38,9)")
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(
            F.sum(brier_t).cast("double") / F.count(F.lit(1)), 6
        ).alias("brier_score"),
        F.round(
            F.sum(ll_t).cast("double") / F.count(F.lit(1)), 6
        ).alias("log_loss"),
    )


_QINI_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           CAST(COUNT(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN 1 END) AS BIGINT) AS score,
           CAST(user_id % 2 AS INT) AS treated,
           CAST(SUM(CAST(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                              THEN value ELSE 0 END AS DECIMAL(38,6)))
                > SUM(CAST(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                THEN value ELSE 0 END AS DECIMAL(38,6)))
               AS INT) AS y
    FROM events GROUP BY user_id
),
ranked AS (
    SELECT treated, y,
           ntile(10) OVER (ORDER BY score DESC, user_id) AS decile
    FROM per_user
),
per_dec AS (
    SELECT decile,
           CAST(SUM(treated) AS BIGINT) AS nt,
           CAST(COUNT(*) - SUM(treated) AS BIGINT) AS nc,
           CAST(SUM(CASE WHEN treated = 1 THEN y ELSE 0 END) AS BIGINT)
               AS yt,
           CAST(SUM(CASE WHEN treated = 0 THEN y ELSE 0 END) AS BIGINT)
               AS yc
    FROM ranked GROUP BY decile
),
cum AS (
    SELECT decile,
           CAST(SUM(nt) OVER w AS BIGINT) AS cnt,
           CAST(SUM(nc) OVER w AS BIGINT) AS cnc,
           CAST(SUM(yt) OVER w AS BIGINT) AS cyt,
           CAST(SUM(yc) OVER w AS BIGINT) AS cyc
    FROM per_dec
    WINDOW w AS (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT decile, cnt AS cum_treated, cnc AS cum_control,
       cyt AS cum_conv_treated, cyc AS cum_conv_control,
       round(cyt - CAST(cyc AS DOUBLE) * cnt / cnc, 6) AS qini
FROM cum
"""


@query("agg_qini_uplift_deciles", oracle=_QINI_ORACLE)
def agg_qini_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini curve points by score decile: rank users by the pre-period
    activity score (ties pinned on user_id), then per cumulative decile
    Qini(k) = Y_t(k) − Y_c(k)·N_t(k)/N_c(k) — the uplift-model
    evaluation that asks WHO to treat, not who converts
    (`agg_auc_rank_sum` scores outcome prediction; Qini scores
    INCREMENTAL conversions over the control baseline at each targeting
    depth). One user rollup, one ntile window, one cumulative window
    over ten rows; everything integer-exact until the single baseline
    scaling division."""
    from pyspark.sql import Window as Win

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("ts") < cut, 1))
        .cast("long")
        .alias("score"),
        (
            F.sum(
                F.when(F.col("ts") >= cut, F.col("value"))
                .otherwise(0)
                .cast(DEC)
            )
            > F.sum(
                F.when(F.col("ts") < cut, F.col("value"))
                .otherwise(0)
                .cast(DEC)
            )
        )
        .cast("int")
        .alias("y"),
    ).select(
        "score",
        "y",
        (F.col("user_id") % 2).cast("int").alias("treated"),
        "user_id",
    )
    ranked = per_user.select(
        "treated",
        "y",
        F.ntile(10)
        .over(Win.orderBy(F.col("score").desc(), "user_id"))
        .alias("decile"),
    )
    per_dec = ranked.groupBy("decile").agg(
        F.sum("treated").cast("long").alias("nt"),
        (F.count(F.lit(1)) - F.sum("treated")).cast("long").alias("nc"),
        F.sum(F.when(F.col("treated") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("yt"),
        F.sum(F.when(F.col("treated") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("yc"),
    )
    w = Win.orderBy("decile").rowsBetween(
        Win.unboundedPreceding, Win.currentRow
    )
    cum = per_dec.select(
        "decile",
        F.sum("nt").over(w).cast("long").alias("cnt"),
        F.sum("nc").over(w).cast("long").alias("cnc"),
        F.sum("yt").over(w).cast("long").alias("cyt"),
        F.sum("yc").over(w).cast("long").alias("cyc"),
    )
    return cum.select(
        "decile",
        F.col("cnt").alias("cum_treated"),
        F.col("cnc").alias("cum_control"),
        F.col("cyt").alias("cum_conv_treated"),
        F.col("cyc").alias("cum_conv_control"),
        F.round(
            F.col("cyt")
            - F.col("cyc").cast("double") * F.col("cnt") / F.col("cnc"),
            6,
        ).alias("qini"),
    )


_GRUBBS_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM orders GROUP BY 1
),
s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS s2
    FROM daily
)
SELECT d.day AS outlier_day,
       round(d.y, 2) AS revenue,
       CAST(s.n AS BIGINT) AS n_days,
       round(abs(d.y - s.s1 / s.n)
             / sqrt((s.s2 - (s.s1 / s.n) * s.s1) / (s.n - 1)), 6)
           AS grubbs_g
FROM daily d CROSS JOIN s
ORDER BY abs(d.y - s.s1 / s.n) DESC, d.day
LIMIT 1
"""


@query("agg_grubbs_outlier", oracle=_GRUBBS_ORACLE)
def agg_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' maximum-studentized-deviation test on daily revenue:
    G = max|y − ȳ|/s, the classic single-outlier screen (compare
    against the t-based critical value offline). Complements
    `dq_outlier_iqr` (quartile fences flag MANY points; Grubbs names
    the single worst with a test statistic). One day-grouped aggregate,
    a 1-row moments pass (Σy, Σy² decimal-routed — daily sums sit on
    the 2-dp grid so squares are exact at 4 dp) broadcast back, and a
    TakeOrdered(1) argmax: three tiny exchanges at any scale."""
    daily = daily_revenue(load_table(spark, sf_dir, "orders"), "y")
    s = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(F.col("y"), "s1"),
        dsum(F.col("y") * F.col("y"), "s2"),
    )
    mean = F.col("s1") / F.col("n")
    sd = F.sqrt(
        (F.col("s2") - mean * F.col("s1")) / (F.col("n") - 1)
    )
    dev = F.abs(F.col("y") - mean)
    return (
        daily.crossJoin(F.broadcast(s))
        .orderBy(dev.desc(), "day")
        .limit(1)
        .select(
            F.col("day").alias("outlier_day"),
            F.round("y", 2).alias("revenue"),
            F.col("n").cast("long").alias("n_days"),
            F.round(dev / sd, 6).alias("grubbs_g"),
        )
    )


_ISOTONIC_ORACLE = """
WITH cuts AS (
    SELECT {cut_list}
    FROM orders
),
binned AS (
    SELECT ({bin_expr}) AS bin,
           CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END AS f
    FROM orders o CROSS JOIN cuts c
),
bins AS (
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(f) AS BIGINT) AS nf
    FROM binned GROUP BY bin
),
cum AS (
    SELECT bin, n, nf,
           SUM(n) OVER (ORDER BY bin) AS cn,
           SUM(nf) OVER (ORDER BY bin) AS cf
    FROM bins
),
spans AS (
    SELECT j.bin AS j, k.bin AS k,
           (k.cf - (j.cf - j.nf)) / CAST(k.cn - (j.cn - j.n) AS DOUBLE)
               AS avg_rate
    FROM cum j JOIN cum k ON j.bin <= k.bin
),
inner_min AS (
    SELECT i.bin AS bin, s.j AS j, MIN(s.avg_rate) AS m
    FROM cum i JOIN spans s ON s.j <= i.bin AND s.k >= i.bin
    GROUP BY i.bin, s.j
)
SELECT c.bin,
       c.n AS n_orders,
       round(c.nf / CAST(c.n AS DOUBLE), 6) AS raw_rate,
       round(MAX(im.m), 6) AS iso_rate
FROM cum c JOIN inner_min im ON im.bin = c.bin
GROUP BY c.bin, c.n, c.nf
"""

_ISO_PS = {f"c{j:02d}": j / 20.0 for j in range(1, 20)}


def _iso_oracle() -> str:
    cut_list = ",\n           ".join(
        f"quantile_cont(CAST(o_totalprice AS DOUBLE), {j}/20.0)"
        f" AS c{j:02d}"
        for j in range(1, 20)
    )
    bin_expr = " + ".join(
        f"(CASE WHEN o.o_totalprice > c.c{j:02d} THEN 1 ELSE 0 END)"
        for j in range(1, 20)
    )
    return _ISOTONIC_ORACLE.format(cut_list=cut_list, bin_expr=bin_expr)


@query("agg_isotonic_calibration", oracle=_iso_oracle())
def agg_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) fit of the order-status-'F'
    rate over 20 price-ventile bins — PAVA's output via its exact
    minimax characterization iso_i = max_{j≤i} min_{k≥i} wmean(y_j..y_k)
    (Robertson–Wright–Dykstra), the calibration-curve primitive under
    reliability diagrams and monotone probability calibrators. The fit
    runs on the 20-ROW bin summary, never the fact table: ONE fact pass
    collapses orders to (distinct price → row count, 'F' count) — both
    the ventile cuts (distributed running-sum exact-percentile selector
    over the collapsed counts, bracketing rows only) and the bin summary
    (literal-cut binning of the ~|distinct prices| collapsed frame)
    derive from that single checkpointed aggregate — and the O(bins³)
    minimax folds on
    the DRIVER over the collected ≤20-row summary, the engine's
    bounded-driver-fold pattern (the Markov absorption walk, the BPE
    merge table): the ≤20×20 self-join this replaces was pure
    stage-scheduling floor on a frame bounded at ANY corpus size.
    Floor adjudication (round 11, 3 jobs → 2): the round-10 count job
    is folded away — the bracket window pass now carries the grand
    total on every row (unbounded-frame sum over the same
    single-partition exchange, one predicate term per ventile) and
    doubles as the cache-materializing action. Measured effect: quiet
    min 1.67 → 1.60 s at sf0.1 (min-of-10, same session), NOT the
    hoped ≤1.2 s — the removed count job had overlapped the cache
    build, which simply moved into the window job; cache-warm probes
    put the bracket job alone at ~1.05 s (fact aggregate + 1-partition
    exchange + two window frames + collect), so the residual is the
    two jobs' real work on |distinct prices| rows plus one stage
    floor, with no third job left to remove: cuts must be collected
    before the literal-cut bin aggregate can be planned.
    Arithmetic is bit-identical to the distributed plan: cumulative
    n/nf are Python ints (exact), every span rate is one int/int
    double division — the same IEEE operation Spark runs — and min/max
    over doubles are order-free; the only rounding happens in Spark,
    exactly where it happened before."""
    o = load_table(spark, sf_dir, "orders")
    v = F.col("o_totalprice").cast("double")
    vc = o.groupBy(v.alias("val")).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(
            F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)
        ).alias("cf"),
    )
    # Consumed three times (n, cuts, binning): cache so the fact table
    # is scanned once; the n aggregate below is the materializing
    # action, and the cache is dropped before returning (the result
    # frame is a driver-built local relation, independent of vc).
    vc = vc.persist()
    try:
        # Ventile cuts via the running-count selector, specialized:
        # instead of the helper's 38-expression conditional aggregate
        # (wide enough to fall out of whole-stage codegen), a row-wise
        # predicate over LITERAL integer edges keeps only the ≤2
        # bracketing rows per percentile — a bounded ≤38-row collect —
        # and the interpolation (the same vlo·(hi−pos)+vhi·(pos−lo)
        # IEEE doubles the helper and DuckDB's quantile_cont evaluate)
        # folds on the driver. The cuts then enter the binning pass as
        # literals too, so binning stays one codegen aggregate with no
        # broadcast join and no window recomputation.
        import math

        # n is NOT fetched with a separate count job (round-10 verdict
        # task: 3 jobs → 2): the same single-partition window pass that
        # produces the running count also carries the grand total on
        # every row (an unbounded-frame sum over the SAME exchange —
        # no extra shuffle, no extra job), so the bracket predicate is
        # written against floor/ceil(p·(total−1)) as row-wise
        # expressions and n is read off the collected bracket rows.
        # This collect is also the cache-materializing action for vc.
        cum_df = vc.where(F.col("val").isNotNull()).select(
            "val",
            "c",
            F.sum("c")
            .over(
                Window.partitionBy()
                .orderBy("val")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .alias("cum"),
            F.sum("c")
            .over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
            .alias("total"),
        )
        pred = None
        for p in _ISO_PS.values():
            # Same IEEE arithmetic as the driver interpolation below:
            # (total−1) is an exact long→double cast, times the literal
            # ventile fraction. A row covers expanded positions
            # [cum−c, cum); with ceil−floor ≤ 1 it intersects
            # {floor(pos), ceil(pos)} iff cum > floor(pos) AND
            # cum−c ≤ ceil(pos) — one term per ventile instead of two
            # (the 38-term form measured ~2× slower per row).
            pos = F.lit(p) * (F.col("total") - F.lit(1)).cast("double")
            hit = (F.col("cum") > F.floor(pos)) & (
                (F.col("cum") - F.col("c")) <= F.ceil(pos)
            )
            pred = hit if pred is None else (pred | hit)
        brackets = cum_df.where(pred).select(
            "val", "c", "cum", "total"
        ).collect()
        if not brackets:
            return spark.createDataFrame(
                [],
                "bin long, n_orders long, raw_rate double, iso_rate double",
            )
        nn = brackets[0]["total"]
        positions = [float(p) * float(nn - 1) for p in _ISO_PS.values()]

        def _val_at(t: int) -> float:
            # The unique row with cum_prev <= t < cum holds expanded
            # row t of the sorted fact order.
            for r in brackets:
                if r["cum"] - r["c"] <= t < r["cum"]:
                    return r["val"]
            raise AssertionError(f"no bracket row for position {t}")

        cut_vals = []
        for pos in positions:
            lo, hi = math.floor(pos), math.ceil(pos)
            vlo = _val_at(lo)
            if lo == hi:
                cut_vals.append(vlo)
            else:
                cut_vals.append(
                    vlo * (hi - pos) + _val_at(hi) * (pos - lo)
                )
        bin_col = None
        for cut in cut_vals:
            term = F.when(F.col("val") > F.lit(cut), 1).otherwise(0)
            bin_col = term if bin_col is None else bin_col + term
        bins = vc.groupBy(bin_col.cast("long").alias("bin")).agg(
            F.sum("c").cast("long").alias("n"),
            F.sum("cf").cast("long").alias("nf"),
        )
        rows = sorted(bins.collect(), key=lambda r: r["bin"])  # ≤ 20
    finally:
        vc.unpersist()
    cn = cf = 0
    cum = []  # (bin, n, nf, cn_prev, cf_prev, cn, cf)
    for r in rows:
        cum.append((r["bin"], r["n"], r["nf"], cn, cf,
                    cn + r["n"], cf + r["nf"]))
        cn += r["n"]
        cf += r["nf"]
    out = []
    for i, (b, n, nf, _, _, _, _) in enumerate(cum):
        iso = max(
            min(
                (cum[k][6] - cum[j][4]) / float(cum[k][5] - cum[j][3])
                for k in range(i, len(cum))
            )
            for j in range(0, i + 1)
        )
        out.append((b, n, nf, iso))
    return spark.createDataFrame(
        out, "bin long, n long, nf long, iso double"
    ).select(
        "bin",
        F.col("n").alias("n_orders"),
        F.round(F.col("nf") / F.col("n").cast("double"), 6).alias(
            "raw_rate"
        ),
        F.round("iso", 6).alias("iso_rate"),
    )


_WOE_ORACLE = """
WITH counts AS (
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bad,
           CAST(SUM(CASE WHEN o_orderstatus <> 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_good
    FROM orders GROUP BY o_orderpriority
),
tot AS (SELECT SUM(n_bad) AS tb, SUM(n_good) AS tg FROM counts)
SELECT c.o_orderpriority AS priority,
       c.n_good, c.n_bad,
       round(ln((c.n_good / CAST(t.tg AS DOUBLE))
                / (c.n_bad / CAST(t.tb AS DOUBLE))), 6) AS woe,
       round((c.n_good / CAST(t.tg AS DOUBLE)
              - c.n_bad / CAST(t.tb AS DOUBLE))
             * round(ln((c.n_good / CAST(t.tg AS DOUBLE))
                        / (c.n_bad / CAST(t.tb AS DOUBLE))), 6), 6)
           AS iv_contrib
FROM counts c CROSS JOIN tot t
"""


@query("feature_woe_iv", oracle=_WOE_ORACLE)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of Evidence + Information Value of order priority against
    the 'F'-status target — the credit-scoring feature screen (IV < .02
    useless, .02–.1 weak, .1–.3 medium, > .3 strong) and the log-odds
    encoding scorecards bin by. Unlike `feature_target_encoding` (a
    smoothed MEAN substitution) WOE is the log-ratio of class shares,
    additive in a logistic model. One 5-group conditional-count
    aggregate + a 1-row total broadcast; all ratios are integer/integer
    so both engines divide identical numbers, with ln quantized at 6 dp
    (the cross-engine discipline)."""
    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_bad"),
        F.sum(F.when(F.col("o_orderstatus") != "F", 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
    )
    tot = counts.agg(
        F.sum("n_bad").alias("tb"), F.sum("n_good").alias("tg")
    )
    pg = F.col("n_good") / F.col("tg").cast("double")
    pb = F.col("n_bad") / F.col("tb").cast("double")
    woe = F.round(F.log(pg / pb), 6)
    return counts.crossJoin(F.broadcast(tot)).select(
        "priority",
        "n_good",
        "n_bad",
        woe.alias("woe"),
        F.round((pg - pb) * woe, 6).alias("iv_contrib"),
    )


_NELSON_AALEN_ORACLE = """
WITH horizon AS (SELECT max(o_orderdate) AS dmax FROM orders),
subj AS (
    SELECT o_custkey,
           CAST(datediff('day', min(o_orderdate), max(o_orderdate))
                AS BIGINT) AS dur,
           CASE WHEN datediff('day', max(o_orderdate),
                              (SELECT dmax FROM horizon)) < 60
                THEN 0 ELSE 1 END AS ev
    FROM orders GROUP BY o_custkey
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM subj),
times AS (
    SELECT dur AS t,
           CAST(SUM(ev) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM subj GROUP BY dur
),
risk AS (
    SELECT t, d,
           (SELECT n FROM tot)
             - COALESCE(SUM(c) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS n_risk
    FROM times
),
haz AS (
    SELECT t, d, n_risk,
           round(CAST(d AS DOUBLE) / n_risk, 6) AS h_inc
    FROM risk WHERE d > 0
)
SELECT t AS duration_days,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_events,
       round(CAST(SUM(CAST(h_inc AS DECIMAL(38,6)))
                  OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS DOUBLE), 6)
           AS cumulative_hazard,
       round(exp(-CAST(SUM(CAST(h_inc AS DECIMAL(38,6)))
                  OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS DOUBLE)), 6)
           AS fh_survival
FROM haz
"""


@query("agg_nelson_aalen_hazard", oracle=_NELSON_AALEN_ORACLE)
def agg_nelson_aalen_hazard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nelson-Aalen cumulative-hazard estimator H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ on
    the same right-censored customer-activity spans as
    `agg_kaplan_meier_survival`, plus the Fleming-Harrington survival
    exp(−H) — the estimator of choice when event counts per time are
    small (KM's product-limit degenerates to 0 at any d=n time; N-A
    never does) and the quantity hazard-RATE models regress on. Same
    bounded shape as KM: per-customer aggregate, distinct-duration
    collapse, one running sum over the ≤duration-count frame; hazard
    increments are quantized at 6 dp so the cumulative decimal sum is
    order-independent and cross-engine exact."""
    from pyspark.sql import Window as Win

    o = load_table(spark, sf_dir, "orders")
    horizon = o.agg(F.max("o_orderdate").alias("dmax"))
    subj = (
        o.groupBy("o_custkey")
        .agg(
            F.min("o_orderdate").alias("dmin"),
            F.max("o_orderdate").alias("dlast"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("dlast", "dmin").cast("long").alias("dur"),
            F.when(
                F.datediff("dmax", "dlast") < 60, 0
            ).otherwise(1).alias("ev"),
        )
    )
    tot = subj.agg(F.count(F.lit(1)).cast("long").alias("n"))
    times = subj.groupBy(F.col("dur").alias("t")).agg(
        F.sum("ev").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    w_prev = Win.orderBy("t").rowsBetween(Win.unboundedPreceding, -1)
    risk = times.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        (
            F.col("n")
            - F.coalesce(F.sum("c").over(w_prev), F.lit(0))
        ).alias("n_risk"),
    )
    haz = risk.where(F.col("d") > 0).select(
        "t",
        "d",
        "n_risk",
        F.round(
            F.col("d").cast("double") / F.col("n_risk"), 6
        ).alias("h_inc"),
    )
    w_cum = Win.orderBy("t").rowsBetween(Win.unboundedPreceding, 0)
    cum_h = (
        F.sum(F.col("h_inc").cast("decimal(38,6)"))
        .over(w_cum)
        .cast("double")
    )
    return haz.select(
        F.col("t").alias("duration_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_events"),
        F.round(cum_h, 6).alias("cumulative_hazard"),
        F.round(F.exp(-cum_h), 6).alias("fh_survival"),
    )


_VIF_ORACLE = """
WITH s AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sq,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS sp,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sd,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
                AS DOUBLE) AS sqq,
           CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6)))
                AS DOUBLE) AS sqp,
           CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS sqd,
           CAST(SUM(CAST(l_extendedprice * l_extendedprice
                         AS DECIMAL(38,6))) AS DOUBLE) AS spp,
           CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS spd,
           CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS sdd
    FROM lineitem
),
r AS (
    SELECT (sqp - sq * sp / n)
             / (sqrt(sqq - sq * sq / n) * sqrt(spp - sp * sp / n)) AS rqp,
           (sqd - sq * sd / n)
             / (sqrt(sqq - sq * sq / n) * sqrt(sdd - sd * sd / n)) AS rqd,
           (spd - sp * sd / n)
             / (sqrt(spp - sp * sp / n) * sqrt(sdd - sd * sd / n)) AS rpd
    FROM s
),
v AS (
    SELECT t.var_name,
           (t.r1 * t.r1 + t.r2 * t.r2 - 2 * t.r1 * t.r2 * t.r3)
             / (1 - t.r3 * t.r3) AS r2
    FROM r, LATERAL (
        SELECT * FROM (VALUES
            ('quantity', r.rqp, r.rqd, r.rpd),
            ('extendedprice', r.rqp, r.rpd, r.rqd),
            ('discount', r.rqd, r.rpd, r.rqp)
        ) AS t(var_name, r1, r2, r3)
    ) t
)
SELECT var_name,
       round(r2, 6) AS r_squared,
       round(1.0 / (1 - r2), 6) AS vif
FROM v
"""


@query("agg_vif_multicollinearity", oracle=_VIF_ORACLE)
def agg_vif_multicollinearity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Variance Inflation Factor for (quantity, extendedprice, discount)
    — the multicollinearity screen run before any regression (VIF > 5
    means the feature is mostly explained by the others and its
    coefficient is unstable). For 3 features each R²ᵢ has the closed
    form (r₁²+r₂²−2r₁r₂r₃)/(1−r₃²) over the pairwise correlations, so
    the whole diagnostic is ONE decimal-routed moments pass (the same
    10 sums as `agg_covariance_matrix`) plus constant scalar algebra —
    no per-feature regression passes, nothing driver-side."""
    s = _lineitem_moments(spark, sf_dir)

    def corr(sab, sa, sb, saa, sbb):
        n = F.col("n")
        return (F.col(sab) - F.col(sa) * F.col(sb) / n) / (
            F.sqrt(F.col(saa) - F.col(sa) * F.col(sa) / n)
            * F.sqrt(F.col(sbb) - F.col(sb) * F.col(sb) / n)
        )

    r = s.select(
        corr("sqp", "sq", "sp", "sqq", "spp").alias("rqp"),
        corr("sqd", "sq", "sd", "sqq", "sdd").alias("rqd"),
        corr("spd", "sp", "sd", "spp", "sdd").alias("rpd"),
    )
    rows = spark.createDataFrame(
        [
            ("quantity", "rqp", "rqd", "rpd"),
            ("extendedprice", "rqp", "rpd", "rqd"),
            ("discount", "rqd", "rpd", "rqp"),
        ],
        "var_name string, c1 string, c2 string, c3 string",
    )
    joined = rows.crossJoin(F.broadcast(r))
    pick = lambda tag: (  # noqa: E731
        F.when(F.col(tag) == "rqp", F.col("rqp"))
        .when(F.col(tag) == "rqd", F.col("rqd"))
        .otherwise(F.col("rpd"))
    )
    r1, r2_, r3 = pick("c1"), pick("c2"), pick("c3")
    r2 = (r1 * r1 + r2_ * r2_ - 2 * r1 * r2_ * r3) / (1 - r3 * r3)
    return joined.select(
        "var_name",
        F.round(r2, 6).alias("r_squared"),
        F.round(1.0 / (1 - r2), 6).alias("vif"),
    )


_ALLEN_ORACLE = """
WITH iv AS (
    SELECT l_orderkey AS ok, l_linenumber AS ln,
           CAST(l_shipdate AS DATE) AS s,
           CAST(l_shipdate AS DATE)
             + to_days(CAST(l_quantity AS INT)) AS e
    FROM lineitem
),
pairs AS (
    SELECT a.s AS s1, a.e AS e1, b.s AS s2, b.e AS e2
    FROM iv a JOIN iv b
      ON a.ok = b.ok
     AND (a.s < b.s OR (a.s = b.s AND a.e < b.e)
          OR (a.s = b.s AND a.e = b.e AND a.ln < b.ln))
),
rel AS (
    SELECT CASE
        WHEN s1 = s2 AND e1 = e2 THEN 'equals'
        WHEN s1 = s2 THEN 'starts'
        WHEN e1 < s2 THEN 'before'
        WHEN e1 = s2 THEN 'meets'
        WHEN e1 < e2 THEN 'overlaps'
        WHEN e1 = e2 THEN 'finishes'
        ELSE 'during' END AS relation
    FROM pairs
),
tot AS (SELECT COUNT(*) AS t FROM rel)
SELECT relation,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       round(COUNT(*) / CAST((SELECT t FROM tot) AS DOUBLE), 6) AS share
FROM rel GROUP BY relation
"""


@query("join_allen_interval_relations", oracle=_ALLEN_ORACLE)
def join_allen_interval_relations(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Allen's interval-algebra census over same-order shipment windows:
    every within-order pair of [shipdate, receiptdate] intervals is
    classified into the 7 canonical relations (before / meets /
    overlaps / starts / during / finishes / equals — inverses collapsed
    by ordering each pair canonically on (start, end, linenumber)), the
    temporal-reasoning primitive under overlap joins, conflict
    detection and timeline validation. The fixture carries no receipt
    date, so the interval end is the deterministic handling window
    shipdate + quantity days (integer day arithmetic, identical in
    both engines). The self-join is keyed on
    l_orderkey — per-key fanout is the order's line count (≤ 7 in
    TPC-H), so pair volume is O(|lineitem|·lines), never quadratic in
    the table; classification is a fixed CASE chain on date compares
    and the census is one 7-group aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    iv = li.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_linenumber").alias("ln"),
        F.col("l_shipdate").cast("date").alias("s"),
        F.date_add(
            F.col("l_shipdate").cast("date"),
            F.col("l_quantity").cast("int"),
        ).alias("e"),
    )
    a = iv.alias("a")
    b = iv.alias("b")
    canon = (
        (F.col("a.s") < F.col("b.s"))
        | ((F.col("a.s") == F.col("b.s")) & (F.col("a.e") < F.col("b.e")))
        | (
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.e") == F.col("b.e"))
            & (F.col("a.ln") < F.col("b.ln"))
        )
    )
    pairs = a.join(
        b, (F.col("a.ok") == F.col("b.ok")) & canon
    ).select(
        F.col("a.s").alias("s1"),
        F.col("a.e").alias("e1"),
        F.col("b.s").alias("s2"),
        F.col("b.e").alias("e2"),
    )
    rel = pairs.select(
        F.when(
            (F.col("s1") == F.col("s2")) & (F.col("e1") == F.col("e2")),
            "equals",
        )
        .when(F.col("s1") == F.col("s2"), "starts")
        .when(F.col("e1") < F.col("s2"), "before")
        .when(F.col("e1") == F.col("s2"), "meets")
        .when(F.col("e1") < F.col("e2"), "overlaps")
        .when(F.col("e1") == F.col("e2"), "finishes")
        .otherwise("during")
        .alias("relation")
    )
    counts = rel.groupBy("relation").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )
    tot = counts.agg(F.sum("n_pairs").alias("t"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "relation",
        "n_pairs",
        F.round(
            F.col("n_pairs") / F.col("t").cast("double"), 6
        ).alias("share"),
    )


_CMS_ORACLE = """
WITH hashed AS (
    SELECT e.user_id, r.j,
           CAST(('0x' || substr(md5(CAST(r.j AS VARCHAR) || ':'
                                 || CAST(e.user_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 256 AS col
    FROM events e CROSS JOIN (SELECT unnest(range(0, 4)) AS j) r
),
sketch AS (
    SELECT j, col, CAST(COUNT(*) AS BIGINT) AS cell
    FROM hashed GROUP BY j, col
),
exact AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_n
    FROM events GROUP BY user_id
    ORDER BY exact_n DESC, user_id LIMIT 10
),
keyhash AS (
    SELECT x.user_id, x.exact_n, r.j,
           CAST(('0x' || substr(md5(CAST(r.j AS VARCHAR) || ':'
                                 || CAST(x.user_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 256 AS col
    FROM exact x CROSS JOIN (SELECT unnest(range(0, 4)) AS j) r
)
SELECT k.user_id, k.exact_n,
       CAST(MIN(s.cell) AS BIGINT) AS cms_estimate,
       CAST(MIN(s.cell) - k.exact_n AS BIGINT) AS overcount
FROM keyhash k JOIN sketch s ON s.j = k.j AND s.col = k.col
GROUP BY k.user_id, k.exact_n
"""


@query("agg_cms_heavy_hitters", oracle=_CMS_ORACLE)
def agg_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4 rows × w=256 counters, md5-derived row
    hashes) queried for the stream's true top-10 users: estimate =
    min over rows of the hashed cell, always ≥ the exact count — the
    mergeable fixed-memory frequency sketch behind heavy-hitter
    detection when exact per-key counting can't fit (the 1024-cell
    sketch is THE state, regardless of key cardinality, and cells sum
    under union/partition merge exactly like any partial aggregate).
    The fixture makes the exact counts visible, so the query reports
    estimate AND overcount — the CMS error bound (≤ e·N/w with prob
    1−e^−d) made checkable. One ×4 hash explode + 1024-group count
    builds the sketch; the 40-row key×row probe broadcasts onto it."""
    ev = load_table(spark, sf_dir, "events")
    js = spark.range(0, 4).select(F.col("id").cast("int").alias("j"))

    def cms_col(uid):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("j").cast("string"),
                            F.lit(":"),
                            uid.cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 256
        ).alias("col")

    sketch = (
        ev.select("user_id")
        .crossJoin(F.broadcast(js))
        .select("j", cms_col(F.col("user_id")))
        .groupBy("j", "col")
        .agg(F.count(F.lit(1)).cast("long").alias("cell"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(10)
    )
    keyhash = exact.crossJoin(F.broadcast(js)).select(
        "user_id", "exact_n", "j", cms_col(F.col("user_id"))
    )
    return (
        sketch.join(F.broadcast(keyhash), ["j", "col"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("cell").cast("long").alias("cms_estimate"))
        .select(
            "user_id",
            "exact_n",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_n"))
            .cast("long")
            .alias("overcount"),
        )
    )


_SIMPSON_ORACLE = """
WITH m AS (
    SELECT l_returnflag AS stratum,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,6)))
                AS DOUBLE) AS sxx,
           CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS sxy,
           CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(38,6)))
                AS DOUBLE) AS syy
    FROM lineitem GROUP BY l_returnflag
),
rows_all AS (
    SELECT stratum, n, sx, sy, sxx, sxy, syy FROM m
    UNION ALL
    SELECT 'POOLED', SUM(n), SUM(sx), SUM(sy), SUM(sxx), SUM(sxy),
           SUM(syy)
    FROM m
),
corr AS (
    SELECT stratum, CAST(n AS BIGINT) AS n_rows,
           (sxy - sx * sy / n)
             / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)) AS r
    FROM rows_all
)
SELECT c.stratum, c.n_rows, round(c.r, 6) AS pearson_r,
       CAST(sign(c.r) AS BIGINT) AS r_sign,
       (SELECT bool_and(sign(r) <> (SELECT sign(r) FROM corr
                                    WHERE stratum = 'POOLED'))
        FROM corr WHERE stratum <> 'POOLED') AS simpson_reversal
FROM corr c
"""


@query("agg_simpson_paradox_detector", oracle=_SIMPSON_ORACLE)
def agg_simpson_paradox_detector(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson's-paradox screen for the quantity↔discount association:
    Pearson r within each returnflag stratum AND pooled over all rows,
    with a reversal flag set when EVERY stratum's sign opposes the
    pooled sign — the aggregation-bias check any segmented metric
    report should run before trusting a topline correlation. The
    stratum moments are ONE decimal-routed grouped pass; the pooled row
    is their exact sum (decimal sums are associative, so pooling the
    per-stratum sums IS the full-table pass — no second scan); the flag
    is a 4-row broadcast comparison."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_discount")
    m = li.groupBy(F.col("l_returnflag").alias("stratum")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x, "sx"),
        dsum(y, "sy"),
        dsum(x * x, "sxx"),
        dsum(x * y, "sxy"),
        dsum(y * y, "syy"),
    ).localCheckpoint(eager=True)
    pooled = m.agg(
        F.lit("POOLED").alias("stratum"),
        F.sum("n").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("sxy").alias("sxy"),
        F.sum("syy").alias("syy"),
    )
    rows_all = m.unionByName(pooled)
    n = F.col("n")
    r = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (
        F.sqrt(F.col("sxx") - F.col("sx") * F.col("sx") / n)
        * F.sqrt(F.col("syy") - F.col("sy") * F.col("sy") / n)
    )
    corr = rows_all.select(
        "stratum",
        n.cast("long").alias("n_rows"),
        r.alias("r"),
    ).localCheckpoint(eager=True)
    pooled_sign = corr.where(F.col("stratum") == "POOLED").select(
        F.signum("r").alias("ps")
    )
    reversal = (
        corr.where(F.col("stratum") != "POOLED")
        .crossJoin(F.broadcast(pooled_sign))
        .agg(
            F.min(F.signum("r") != F.col("ps")).alias("simpson_reversal")
        )
    )
    return corr.crossJoin(F.broadcast(reversal)).select(
        "stratum",
        "n_rows",
        F.round("r", 6).alias("pearson_r"),
        F.signum("r").cast("long").alias("r_sign"),
        "simpson_reversal",
    )


_RESIDUALS_ORACLE = """
WITH cells AS (
    SELECT l_returnflag AS rf, l_linestatus AS ls,
           CAST(COUNT(*) AS BIGINT) AS obs
    FROM lineitem GROUP BY 1, 2
),
margins AS (
    SELECT c.rf, c.ls, c.obs,
           SUM(c.obs) OVER (PARTITION BY c.rf) AS row_tot,
           SUM(c.obs) OVER (PARTITION BY c.ls) AS col_tot,
           SUM(c.obs) OVER () AS n
    FROM cells c
)
SELECT rf AS returnflag, ls AS linestatus, obs,
       round(row_tot * col_tot / CAST(n AS DOUBLE), 6) AS expected,
       round((obs - row_tot * col_tot / CAST(n AS DOUBLE))
             / sqrt(row_tot * col_tot / CAST(n AS DOUBLE)
                    * (1 - row_tot / CAST(n AS DOUBLE))
                    * (1 - col_tot / CAST(n AS DOUBLE))), 6)
           AS adj_residual
FROM margins
"""


@query("agg_contingency_residuals", oracle=_RESIDUALS_ORACLE)
def agg_contingency_residuals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Adjusted standardized residuals of the returnflag × linestatus
    contingency table — the post-hoc that tells you WHICH cells drive a
    significant chi-square (|residual| > 2 ≈ cell-level significance),
    where `agg_chi_square_independence` only says THAT the table
    deviates. One grouped count over the fact table; margins are
    windows over the CELL table (≤ |rf|×|ls| rows), so everything past
    the first aggregate is constant-size. All ratios divide exact
    integers — cross-engine bit-equal."""
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_returnflag").alias("returnflag"),
        F.col("l_linestatus").alias("linestatus"),
    ).agg(F.count(F.lit(1)).cast("long").alias("obs"))
    wr = Window.partitionBy("returnflag")
    wc = Window.partitionBy("linestatus")
    wall = Window.partitionBy()
    m = cells.select(
        "returnflag",
        "linestatus",
        "obs",
        F.sum("obs").over(wr).alias("row_tot"),
        F.sum("obs").over(wc).alias("col_tot"),
        F.sum("obs").over(wall).alias("n"),
    )
    nd = F.col("n").cast("double")
    exp = F.col("row_tot") * F.col("col_tot") / nd
    adj = (F.col("obs") - exp) / F.sqrt(
        exp
        * (1 - F.col("row_tot") / nd)
        * (1 - F.col("col_tot") / nd)
    )
    return m.select(
        "returnflag",
        "linestatus",
        "obs",
        F.round(exp, 6).alias("expected"),
        F.round(adj, 6).alias("adj_residual"),
    )


_AP_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           CAST(COUNT(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN 1 END) AS BIGINT) AS score,
           CAST(SUM(CAST(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                              THEN value ELSE 0 END AS DECIMAL(38,6)))
                > SUM(CAST(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                THEN value ELSE 0 END AS DECIMAL(38,6)))
               AS INT) AS y
    FROM events GROUP BY user_id
),
ranked AS (
    SELECT y,
           CAST(row_number() OVER (ORDER BY score DESC, user_id)
                AS BIGINT) AS k,
           CAST(SUM(y) OVER (ORDER BY score DESC, user_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_pos
    FROM per_user
),
s AS (
    SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(CAST(CASE WHEN y = 1
                              THEN round(cum_pos / CAST(k AS DOUBLE), 9)
                              ELSE 0 END AS DECIMAL(38,9)))
                AS DOUBLE) AS ap_sum
    FROM ranked
)
SELECT n_pos,
       round(ap_sum / n_pos, 6) AS average_precision
FROM s
"""


@query("agg_average_precision", oracle=_AP_ORACLE)
def agg_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve) of the
    same early-activity score / later-spend label as
    `agg_auc_rank_sum` — the metric that matters when positives are
    rare and ROC-AUC flatters (PR-AUC weights by precision at each hit,
    not by true-negative volume). AP = (1/P) Σ_{hits} precision@k with
    a total (score desc, user_id) order so tie handling is identical in
    both engines; each precision@k is an exact integer ratio quantized
    at 9 dp before the decimal sum. The ranking window runs over the
    per-USER aggregate (user-dimension-sized, not the event stream) —
    same posture as the AUC and lifecycle queries."""
    cut = F.lit("2024-01-16").cast("timestamp")
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("ts") < cut, 1))
        .cast("long")
        .alias("score"),
        (
            F.sum(
                F.when(F.col("ts") >= cut, F.col("value"))
                .otherwise(0)
                .cast("decimal(38,6)")
            )
            > F.sum(
                F.when(F.col("ts") < cut, F.col("value"))
                .otherwise(0)
                .cast("decimal(38,6)")
            )
        )
        .cast("int")
        .alias("y"),
    )
    w = Window.orderBy(F.col("score").desc(), "user_id")
    ranked = per_user.select(
        "y",
        F.row_number().over(w).cast("long").alias("k"),
        F.sum("y")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum_pos"),
    )
    s = ranked.agg(
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(
            F.when(
                F.col("y") == 1,
                F.round(
                    F.col("cum_pos") / F.col("k").cast("double"), 9
                ),
            )
            .otherwise(0)
            .cast("decimal(38,9)")
        )
        .cast("double")
        .alias("ap_sum"),
    )
    return s.select(
        "n_pos",
        F.round(F.col("ap_sum") / F.col("n_pos"), 6).alias(
            "average_precision"
        ),
    )


_DISJUNCTIVE_ORACLE = """
WITH a AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
b AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem l JOIN orders o
      ON CAST(l.l_shipdate AS DATE) = CAST(o.o_orderdate AS DATE)
),
ab AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem l JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND CAST(l.l_shipdate AS DATE) = CAST(o.o_orderdate AS DATE)
)
SELECT a.n AS n_key_match,
       b.n AS n_date_match,
       ab.n AS n_both,
       a.n + b.n - ab.n AS n_disjunctive_union
FROM a CROSS JOIN b CROSS JOIN ab
"""


@query("join_disjunctive_union_rewrite", oracle=_DISJUNCTIVE_ORACLE)
def join_disjunctive_union_rewrite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OR-predicate join cardinality via the union rewrite: the naive
    ``ON a=x OR b=y`` join cannot hash on either key, so Spark (and
    every hash engine) falls back to a nested-loop/cartesian — the
    single worst plan shape at 100 TB. The rewrite runs each disjunct
    as its own EQUI-join and combines by inclusion-exclusion
    |A∪B| = |A|+|B|−|A∩B| — three hash joins, zero nested loops, no
    union materialization at all for a count. Here: lineitem×orders
    matched by key OR by ship-date=order-date; the A∩B leg hashes on
    the composite key. The pattern generalizes to materializing rows
    (union + dropDuplicates on the pair key) when the payload is
    needed.

    Count-only legs never materialize matched ROWS: the key leg and the
    conjunctive A∩B leg share ONE orderkey equi-join pass (n_both is
    just a conditional count inside it), and the date leg — whose
    matched-row form explodes to Σ_d n_li(d)·n_ord(d) rows (~36M at
    sf0.1, quadratic per date at scale) — reduces to exactly that sum
    of per-date COUNT PRODUCTS: two date rollups and a tiny equi-join
    on the date key."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    a = li.join(o, li["l_orderkey"] == o["o_orderkey"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_key_match"),
        F.count(F.when(F.col("sd") == F.col("od"), 1))
        .cast("long")
        .alias("n_both"),
    )
    li_d = li.groupBy("sd").agg(F.count(F.lit(1)).alias("nl"))
    o_d = o.groupBy("od").agg(F.count(F.lit(1)).alias("no"))
    b = (
        li_d.join(o_d, li_d["sd"] == o_d["od"])
        .agg(
            F.sum(F.col("nl") * F.col("no"))
            .cast("long")
            .alias("n_date_match")
        )
        .select(F.coalesce("n_date_match", F.lit(0)).alias("n_date_match"))
    )
    return a.crossJoin(F.broadcast(b)).select(
        "n_key_match",
        "n_date_match",
        "n_both",
        (
            F.col("n_key_match")
            + F.col("n_date_match")
            - F.col("n_both")
        ).alias("n_disjunctive_union"),
    )


_CONFUSION_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           CAST(COUNT(CASE WHEN ts < TIMESTAMP '2024-01-16'
                      THEN 1 END) AS BIGINT) AS score,
           CAST(SUM(CAST(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                              THEN value ELSE 0 END AS DECIMAL(38,6)))
                > SUM(CAST(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                THEN value ELSE 0 END AS DECIMAL(38,6)))
               AS INT) AS y
    FROM events GROUP BY user_id
),
c AS (
    SELECT CAST(SUM(CASE WHEN score >= 34 AND y = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN score >= 34 AND y = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN score < 34 AND y = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN score < 34 AND y = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS tn
    FROM per_user
)
SELECT tp, fp, fn, tn,
       round(tp / CAST(tp + fp AS DOUBLE), 6) AS precision_,
       round(tp / CAST(tp + fn AS DOUBLE), 6) AS recall_,
       round(2.0 * tp / CAST(2 * tp + fp + fn AS DOUBLE), 6) AS f1,
       round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
             / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
                    * (tn + fp) * (tn + fn)), 6) AS mcc
FROM c
"""


@query("agg_confusion_threshold_metrics", oracle=_CONFUSION_ORACLE)
def agg_confusion_threshold_metrics(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Thresholded confusion matrix + precision/recall/F1/MCC at the
    fixed operating point score ≥ 34 (the score median, so every margin is populated at all fixture scales), over the same early-activity
    score / later-spend label as `agg_auc_rank_sum` — the DEPLOYED
    metric set (AUC/AP grade the ranking; a shipped model runs at one
    threshold, and MCC is the single number robust to class
    imbalance). Four conditional counts in one per-user pass; every
    derived metric is exact-integer algebra with one final sqrt."""
    cut = F.lit("2024-01-16").cast("timestamp")
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.when(F.col("ts") < cut, 1))
        .cast("long")
        .alias("score"),
        (
            F.sum(
                F.when(F.col("ts") >= cut, F.col("value"))
                .otherwise(0)
                .cast("decimal(38,6)")
            )
            > F.sum(
                F.when(F.col("ts") < cut, F.col("value"))
                .otherwise(0)
                .cast("decimal(38,6)")
            )
        )
        .cast("int")
        .alias("y"),
    )
    pred = F.col("score") >= 34
    c = per_user.agg(
        F.sum(F.when(pred & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(pred & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(~pred & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when(~pred & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    tp, fp, fn, tn = (
        F.col("tp"),
        F.col("fp"),
        F.col("fn"),
        F.col("tn"),
    )
    return c.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(tp / (tp + fp).cast("double"), 6).alias("precision_"),
        F.round(tp / (tp + fn).cast("double"), 6).alias("recall_"),
        F.round(
            2.0 * tp / (2 * tp + fp + fn).cast("double"), 6
        ).alias("f1"),
        F.round(
            (tp.cast("double") * tn - fp.cast("double") * fn)
            / F.sqrt(
                (tp + fp).cast("double")
                * (tp + fn)
                * (tn + fp)
                * (tn + fn)
            ),
            6,
        ).alias("mcc"),
    )


_NN1D_ORACLE = """
WITH o AS (
    SELECT o_orderkey AS ok, o_totalprice AS p FROM orders
),
seq AS (
    SELECT ok, p,
           lag(p) OVER w AS prev_p, lag(ok) OVER w AS prev_k,
           lead(p) OVER w AS next_p, lead(ok) OVER w AS next_k
    FROM o WINDOW w AS (ORDER BY p, ok)
)
SELECT ok AS orderkey, p AS price,
       CASE WHEN prev_p IS NULL THEN next_k
            WHEN next_p IS NULL THEN prev_k
            WHEN p - prev_p <= next_p - p THEN prev_k
            ELSE next_k END AS neighbor_key,
       round(CASE WHEN prev_p IS NULL THEN next_p - p
                  WHEN next_p IS NULL THEN p - prev_p
                  WHEN p - prev_p <= next_p - p THEN p - prev_p
                  ELSE next_p - p END, 2) AS price_gap
FROM seq
"""


@query("join_nearest_price_neighbor", oracle=_NN1D_ORACLE)
def join_nearest_price_neighbor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """All-nearest-neighbors in 1-D (each order's closest other order
    by totalprice, predecessor preferred on equal gaps) WITHOUT a
    global sort: the nearest value is always adjacent in (price, key)
    order, so the kernel is bucket-local adjacency (windows partitioned
    by a price bucket) plus a BOUNDARY STREAM — each bucket's first and
    last row, ≤2 per non-empty bucket — whose tiny global window
    supplies the cross-bucket predecessor/successor for bucket-edge
    rows. Handles empty buckets for free (the boundary stream's
    adjacency skips them), which naive bucket+1 joins get wrong. The
    only unpartitioned window runs over the boundary frame (~2×
    buckets); everything fact-sized is hash-partitioned. The oracle is
    the single-node global-window form — matching it exactly validates
    the distributed decomposition."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_totalprice").alias("p"),
        F.floor(F.col("o_totalprice") / 1000)
        .cast("long")
        .alias("bkt"),
    )
    wb = Window.partitionBy("bkt").orderBy("p", "ok")
    local = o.select(
        "ok",
        "p",
        "bkt",
        F.lag("p").over(wb).alias("prev_p"),
        F.lag("ok").over(wb).alias("prev_k"),
        F.lead("p").over(wb).alias("next_p"),
        F.lead("ok").over(wb).alias("next_k"),
    ).localCheckpoint(eager=True)
    # Boundary stream: each bucket's extreme rows (first lacks an
    # in-bucket predecessor, last lacks a successor).
    firsts = local.where(F.col("prev_p").isNull()).select(
        "bkt", "p", "ok"
    )
    lasts = local.where(F.col("next_p").isNull()).select(
        "bkt", "p", "ok"
    )
    boundary = firsts.unionByName(lasts).distinct()
    wg = Window.orderBy("p", "ok")
    bseq = boundary.select(
        "bkt",
        "p",
        "ok",
        F.lag("p").over(wg).alias("g_prev_p"),
        F.lag("ok").over(wg).alias("g_prev_k"),
        F.lag("bkt").over(wg).alias("g_prev_b"),
        F.lead("p").over(wg).alias("g_next_p"),
        F.lead("ok").over(wg).alias("g_next_k"),
        F.lead("bkt").over(wg).alias("g_next_b"),
    )
    # Cross-bucket predecessor for each bucket's FIRST row: the global
    # predecessor in the boundary stream, provided it comes from an
    # earlier bucket (a same-bucket hit means first==last handled rows).
    bprev = bseq.where(
        F.col("g_prev_p").isNotNull() & (F.col("g_prev_b") < F.col("bkt"))
    ).select(
        F.col("ok").alias("f_ok"),
        F.col("g_prev_p").alias("xprev_p"),
        F.col("g_prev_k").alias("xprev_k"),
    )
    bnext = bseq.where(
        F.col("g_next_p").isNotNull() & (F.col("g_next_b") > F.col("bkt"))
    ).select(
        F.col("ok").alias("l_ok"),
        F.col("g_next_p").alias("xnext_p"),
        F.col("g_next_k").alias("xnext_k"),
    )
    full = (
        local.join(
            F.broadcast(bprev), local["ok"] == bprev["f_ok"], "left"
        )
        .join(F.broadcast(bnext), local["ok"] == bnext["l_ok"], "left")
        .select(
            "ok",
            "p",
            F.coalesce("prev_p", "xprev_p").alias("pp"),
            F.coalesce("prev_k", "xprev_k").alias("pk"),
            F.coalesce("next_p", "xnext_p").alias("np"),
            F.coalesce("next_k", "xnext_k").alias("nk"),
        )
    )
    pick_prev = (F.col("p") - F.col("pp")) <= (F.col("np") - F.col("p"))
    return full.select(
        F.col("ok").alias("orderkey"),
        F.col("p").alias("price"),
        F.when(F.col("pp").isNull(), F.col("nk"))
        .when(F.col("np").isNull(), F.col("pk"))
        .when(pick_prev, F.col("pk"))
        .otherwise(F.col("nk"))
        .alias("neighbor_key"),
        F.round(
            F.when(F.col("pp").isNull(), F.col("np") - F.col("p"))
            .when(F.col("np").isNull(), F.col("p") - F.col("pp"))
            .when(pick_prev, F.col("p") - F.col("pp"))
            .otherwise(F.col("np") - F.col("p")),
            2,
        ).alias("price_gap"),
    )


_RATIO_DELTA_ORACLE = """
WITH per_user AS (
    SELECT user_id,
           CAST(SUM(CAST(CASE WHEN isnan(value) OR NOT isfinite(value)
                              THEN 0 ELSE value END AS DECIMAL(38,6)))
                AS DOUBLE) AS x,
           CAST(COUNT(*) AS DOUBLE) AS y
    FROM events GROUP BY user_id
),
m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(x * y AS DECIMAL(38,6))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(y * y AS DECIMAL(38,6))) AS DOUBLE) AS syy
    FROM per_user
),
d AS (
    SELECT n, sx / n AS mx, sy / n AS my,
           (sxx - sx * sx / n) / (n - 1) AS vx,
           (syy - sy * sy / n) / (n - 1) AS vy,
           (sxy - sx * sy / n) / (n - 1) AS cxy
    FROM m
)
SELECT CAST(n AS BIGINT) AS n_users,
       round(mx / my, 6) AS ratio,
       round(sqrt((vx / (my * my)
                   - 2 * (mx / (my * my * my)) * cxy
                   + (mx * mx / (my * my * my * my)) * vy) / n), 6)
           AS delta_se,
       round(mx / my - 1.959964 * sqrt((vx / (my * my)
                   - 2 * (mx / (my * my * my)) * cxy
                   + (mx * mx / (my * my * my * my)) * vy) / n), 6)
           AS ci_lo,
       round(mx / my + 1.959964 * sqrt((vx / (my * my)
                   - 2 * (mx / (my * my * my)) * cxy
                   + (mx * mx / (my * my * my * my)) * vy) / n), 6)
           AS ci_hi
FROM d
"""


@query("agg_ratio_metric_delta_ci", oracle=_RATIO_DELTA_ORACLE)
def agg_ratio_metric_delta_ci(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Delta-method 95% CI for a RATIO metric (value per event, both
    summed per user): Var(X̄/Ȳ) ≈ (Vx/μy² − 2μxCxy/μy³ + μx²Vy/μy⁴)/n —
    the correct uncertainty for per-user ratio metrics, where the naive
    row-level SE is wrong because numerator and denominator are
    correlated WITHIN user (the unit of randomization). This is the
    experimentation-platform staple behind every revenue-per-session
    readout. One per-user aggregate + one 5-sum moments pass (decimal-
    routed), then constant scalar algebra; z=1.959964 appears as the
    same double literal in both engines."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    clean = F.when(
        F.isnan(v) | v.isin(float("inf"), float("-inf")), 0.0
    ).otherwise(v)
    per_user = ev.groupBy("user_id").agg(
        F.sum(clean.cast("decimal(38,6)"))
        .cast("double")
        .alias("x"),
        F.count(F.lit(1)).cast("double").alias("y"),
    )
    x, y = F.col("x"), F.col("y")
    m = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(x, "sx"),
        dsum(y, "sy"),
        dsum(x * x, "sxx"),
        dsum(x * y, "sxy"),
        dsum(y * y, "syy"),
    )
    n = F.col("n")
    mx, my = F.col("sx") / n, F.col("sy") / n
    vx = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - 1)
    vy = (F.col("syy") - F.col("sy") * F.col("sy") / n) / (n - 1)
    cxy = (F.col("sxy") - F.col("sx") * F.col("sy") / n) / (n - 1)
    var_ratio = (
        vx / (my * my)
        - 2 * (mx / (my * my * my)) * cxy
        + (mx * mx / (my * my * my * my)) * vy
    ) / n
    se = F.sqrt(var_ratio)
    z = F.lit(1.959964)
    return m.select(
        n.cast("long").alias("n_users"),
        F.round(mx / my, 6).alias("ratio"),
        F.round(se, 6).alias("delta_se"),
        F.round(mx / my - z * se, 6).alias("ci_lo"),
        F.round(mx / my + z * se, 6).alias("ci_hi"),
    )


_ASOF_FWD_ORACLE = """
WITH r AS (
    SELECT o_custkey, CAST(o_orderdate AS DATE) AS od,
           count(*) AS n_orders_day,
           max(o_orderkey) AS next_orderkey
    FROM orders GROUP BY o_custkey, o_orderdate
),
j AS (
    SELECT e.event_id, e.user_id, e.ts, r.od, r.next_orderkey,
           r.n_orders_day
    FROM events e JOIN r
      ON r.o_custkey = e.user_id AND CAST(r.od AS TIMESTAMP) >= e.ts
),
pick AS (
    SELECT event_id, user_id, ts,
           min_by(next_orderkey, od) AS next_orderkey,
           min_by(n_orders_day, od) AS n_orders_day,
           min(od) AS next_order_date
    FROM j GROUP BY event_id, user_id, ts
)
SELECT e.event_id, e.user_id, e.ts,
       p.next_orderkey, p.n_orders_day,
       COALESCE(p.next_order_date, DATE '9999-12-31')
           AS next_order_date
FROM events e LEFT JOIN pick p ON p.event_id = e.event_id
"""


@query("join_asof_forward_next_order", oracle=_ASOF_FWD_ORACLE)
def join_asof_forward_next_order(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FORWARD as-of join: each event picks up the customer's NEXT
    order-day at-or-after the event — the scheduling direction
    (`join_asof_latest_order` answers 'what already happened'; this
    answers 'what happens next': next shipment, renewal, maintenance
    window). Spark side is the reversed union+carry construction — one
    shuffle on (key), a descending-time running window carrying each
    right payload backward — never a per-row subquery; the oracle picks
    the same row with a grouped min_by over the exploded join, which
    at warehouse scale would be the wrong plan (fanout × regroup) but
    is the clearest single-node specification of the semantics."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    o = load_table(spark, sf_dir, "orders")
    r = o.groupBy(
        F.col("o_custkey"),
        F.col("o_orderdate").cast("date").alias("next_order_date"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders_day"),
        F.max("o_orderkey").alias("next_orderkey"),
    ).select(
        "o_custkey",
        F.col("next_order_date").cast("timestamp").alias("od_ts"),
        "next_order_date",
        "next_orderkey",
        "n_orders_day",
    )
    out = tp.asof_join_forward(
        ev,
        r,
        left_key="user_id",
        right_key="o_custkey",
        left_ts="ts",
        right_ts="od_ts",
        payload_cols=("next_orderkey", "n_orders_day", "next_order_date"),
    )
    # No-match sentinel: a NULL DATE round-trips as NaT/None asymmetry
    # across Arrow/pandas, so 'no next order' is the explicit far-future
    # date (the same convention open-ended SCD2 intervals avoid by NULL
    # because they are never hashed).
    return out.withColumn(
        "next_order_date",
        F.coalesce(
            F.col("next_order_date"),
            F.lit("9999-12-31").cast("date"),
        ),
    )


_PVM_ORACLE = """
WITH yr AS (
    SELECT l_partkey AS part,
           CAST(year(CAST(l_shipdate AS DATE)) AS INT) AS y,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS rev,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
    FROM lineitem
    WHERE year(CAST(l_shipdate AS DATE)) IN (1996, 1997)
    GROUP BY 1, 2
),
base AS (SELECT part, rev AS rev0, qty AS qty0 FROM yr WHERE y = 1996),
curr AS (SELECT part, rev AS rev1, qty AS qty1 FROM yr WHERE y = 1997),
both_y AS (
    SELECT b.part, b.rev0, b.qty0, c.rev1, c.qty1,
           round(b.rev0 / b.qty0, 6) AS p0,
           round(c.rev1 / c.qty1, 6) AS p1
    FROM base b JOIN curr c ON c.part = b.part
    WHERE b.qty0 > 0 AND c.qty1 > 0
)
SELECT part,
       round(rev1 - rev0, 2) AS delta_revenue,
       round((p1 - p0) * qty1, 2) AS price_effect,
       round((qty1 - qty0) * p0, 2) AS volume_effect
FROM both_y
ORDER BY abs(rev1 - rev0) DESC, part
LIMIT 20
"""


@query("agg_price_volume_mix", oracle=_PVM_ORACLE)
def agg_price_volume_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume decomposition of year-over-year revenue change per
    part: ΔR = (p₁−p₀)·q₁ + (q₁−q₀)·p₀ EXACTLY (the two-factor
    Laspeyres/Paasche split — price effect at current volume, volume
    effect at base price; the identity has no residual), the FP&A
    bridge behind every 'why did revenue move' waterfall. One
    year-grouped decimal pass per part, a part-keyed self-join of the
    two year slices, scalar algebra; top-20 movers by |ΔR| via
    TakeOrdered. Unit prices are ratios of exact decimal sums, so both
    engines divide identical numbers."""
    li = load_table(spark, sf_dir, "lineitem")
    yr = (
        li.where(
            F.year(F.col("l_shipdate").cast("date")).isin(1996, 1997)
        )
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.year(F.col("l_shipdate").cast("date")).alias("y"),
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("rev"),
            F.sum(F.col("l_quantity").cast("long"))
            .cast("long")
            .alias("qty"),
        )
    )
    base = yr.where(F.col("y") == 1996).select(
        "part",
        F.col("rev").alias("rev0"),
        F.col("qty").alias("qty0"),
    )
    curr = yr.where(F.col("y") == 1997).select(
        "part",
        F.col("rev").alias("rev1"),
        F.col("qty").alias("qty1"),
    )
    both_y = base.join(curr, "part").where(
        (F.col("qty0") > 0) & (F.col("qty1") > 0)
    )
    # Unit prices quantized at 6 dp before the effect products — the
    # raw double quotient can land an ulp either side of a 2-dp
    # rounding boundary across engines.
    p0 = F.round(F.col("rev0") / F.col("qty0"), 6)
    p1 = F.round(F.col("rev1") / F.col("qty1"), 6)
    return (
        both_y.select(
            "part",
            F.round(F.col("rev1") - F.col("rev0"), 2).alias(
                "delta_revenue"
            ),
            F.round((p1 - p0) * F.col("qty1"), 2).alias("price_effect"),
            F.round(
                (F.col("qty1") - F.col("qty0")) * p0, 2
            ).alias("volume_effect"),
        )
        .orderBy(F.abs(F.col("delta_revenue")).desc(), "part")
        .limit(20)
    )


_ABC_XYZ_ORACLE = """
WITH per_part AS (
    SELECT l_partkey AS part,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
               AS rev,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq,
           CAST(SUM(CAST(l_quantity * l_quantity AS BIGINT)) AS BIGINT)
               AS sqq
    FROM lineitem GROUP BY 1
),
ranked AS (
    SELECT part, rev, n, sq, sqq,
           SUM(CAST(round(rev, 2) AS DECIMAL(38,2)))
             OVER (ORDER BY rev DESC, part
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_rev,
           SUM(CAST(round(rev, 2) AS DECIMAL(38,2))) OVER () AS tot_rev
    FROM per_part
),
classed AS (
    SELECT part, rev, n,
           CASE WHEN CAST(cum_rev AS DOUBLE)
                     <= CAST(tot_rev AS DOUBLE) * 0.8 THEN 'A'
                WHEN CAST(cum_rev AS DOUBLE)
                     <= CAST(tot_rev AS DOUBLE) * 0.95 THEN 'B'
                ELSE 'C' END AS abc,
           CASE WHEN n < 2 THEN 'Z'
                WHEN sqrt(greatest((sqq - CAST(sq AS DOUBLE) * sq / n)
                                   / (n - 1), 0))
                       / (CAST(sq AS DOUBLE) / n) < 0.3 THEN 'X'
                WHEN sqrt(greatest((sqq - CAST(sq AS DOUBLE) * sq / n)
                                   / (n - 1), 0))
                       / (CAST(sq AS DOUBLE) / n) < 0.6 THEN 'Y'
                ELSE 'Z' END AS xyz
    FROM ranked
)
SELECT abc, xyz,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       round(CAST(SUM(CAST(round(rev, 2) AS DECIMAL(38,2))) AS DOUBLE),
             2) AS class_revenue
FROM classed GROUP BY abc, xyz
"""


@query("agg_abc_xyz_classification", oracle=_ABC_XYZ_ORACLE)
def agg_abc_xyz_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ABC/XYZ inventory segmentation: ABC from the cumulative-revenue
    Pareto (A = first 80% of revenue, B = next 15%, C = tail) and XYZ
    from demand variability (quantity coefficient of variation < 0.3 /
    < 0.6 / else) — the 9-cell matrix supply-chain planners use to pick
    forecasting and stocking policy per item. One part-grouped decimal
    pass carries revenue AND the quantity moments; the Pareto cumsum is
    a window over the PART summary (2-dp grid, order (rev desc, part)
    total), CV is scalar algebra on integer moments; the output is the
    9-cell rollup. At billions of parts the ranking window partitions
    by a revenue band first — same two-level trick as the concurrency
    sweep."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("part")).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
        .cast("double")
        .alias("rev"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("l_quantity").cast("long"))
        .cast("long")
        .alias("sq"),
        F.sum(
            (
                F.col("l_quantity").cast("long")
                * F.col("l_quantity").cast("long")
            )
        )
        .cast("long")
        .alias("sqq"),
    )
    from pyspark.sql import Window as Win

    wr = Win.orderBy(F.col("rev").desc(), "part").rowsBetween(
        Win.unboundedPreceding, 0
    )
    ranked = per_part.select(
        "part",
        "rev",
        "n",
        "sq",
        "sqq",
        F.sum(F.round("rev", 2).cast("decimal(38,2)"))
        .over(wr)
        .alias("cum_rev"),
        F.sum(F.round("rev", 2).cast("decimal(38,2)"))
        .over(Win.partitionBy())
        .alias("tot_rev"),
    )
    n, sq, sqq = F.col("n"), F.col("sq"), F.col("sqq")
    cv = F.sqrt(
        F.greatest(
            (sqq - sq.cast("double") * sq / n) / (n - 1), F.lit(0.0)
        )
    ) / (sq.cast("double") / n)
    abc = (
        F.when(
            F.col("cum_rev").cast("double")
            <= F.col("tot_rev").cast("double") * 0.8,
            "A",
        )
        .when(
            F.col("cum_rev").cast("double")
            <= F.col("tot_rev").cast("double") * 0.95,
            "B",
        )
        .otherwise("C")
    )
    xyz = (
        F.when(n < 2, "Z")
        .when(cv < 0.3, "X")
        .when(cv < 0.6, "Y")
        .otherwise("Z")
    )
    classed = ranked.select(
        "rev", abc.alias("abc"), xyz.alias("xyz")
    )
    return classed.groupBy("abc", "xyz").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.round(
            F.sum(F.round("rev", 2).cast("decimal(38,2)")).cast(
                "double"
            ),
            2,
        ).alias("class_revenue"),
    )


_BETA_BINOMIAL_ORACLE = """
WITH arms AS (
    SELECT o_orderpriority AS arm,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                AS BIGINT) AS successes,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority
),
post AS (
    SELECT arm, successes, n,
           CAST(successes + 1 AS BIGINT) AS alpha,
           CAST(n - successes + 1 AS BIGINT) AS beta
    FROM arms
)
SELECT arm, successes, n, alpha, beta,
       round(alpha / CAST(alpha + beta AS DOUBLE), 6) AS posterior_mean,
       round(sqrt(alpha * CAST(beta AS DOUBLE)
                  / ((alpha + beta) * CAST(alpha + beta AS DOUBLE)
                     * (alpha + beta + 1))), 6) AS posterior_sd,
       round(alpha / CAST(alpha + beta AS DOUBLE)
             - 1.959964 * sqrt(alpha * CAST(beta AS DOUBLE)
                  / ((alpha + beta) * CAST(alpha + beta AS DOUBLE)
                     * (alpha + beta + 1))), 6) AS cred_lo,
       round(alpha / CAST(alpha + beta AS DOUBLE)
             + 1.959964 * sqrt(alpha * CAST(beta AS DOUBLE)
                  / ((alpha + beta) * CAST(alpha + beta AS DOUBLE)
                     * (alpha + beta + 1))), 6) AS cred_hi
FROM post
"""


@query("agg_beta_binomial_posterior", oracle=_BETA_BINOMIAL_ORACLE)
def agg_beta_binomial_posterior(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Beta-binomial posterior per arm (uniform Beta(1,1) prior): the
    exact conjugate update α = s+1, β = n−s+1 with the closed-form
    posterior mean, sd and a normal-approx 95% credible band — the
    bookkeeping a Thompson-sampling bandit keeps per variant, and the
    Bayesian counterpart to the frequentist rate CIs elsewhere in this
    package (`agg_empirical_bayes_shrinkage` pools arms toward the
    grand mean; this reports each arm's own posterior). One 5-group
    conditional-count pass; every quantity is integer algebra plus one
    sqrt, bit-identical across engines."""
    o = load_table(spark, sf_dir, "orders")
    arms = o.groupBy(F.col("o_orderpriority").alias("arm")).agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("successes"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    alpha = (F.col("successes") + 1).cast("long")
    beta = (F.col("n") - F.col("successes") + 1).cast("long")
    post = arms.select(
        "arm",
        "successes",
        "n",
        alpha.alias("alpha"),
        beta.alias("beta"),
    )
    a, b = F.col("alpha"), F.col("beta")
    mean = a / (a + b).cast("double")
    sd = F.sqrt(
        a * b.cast("double")
        / ((a + b) * (a + b).cast("double") * (a + b + 1))
    )
    z = F.lit(1.959964)
    return post.select(
        "arm",
        "successes",
        "n",
        "alpha",
        "beta",
        F.round(mean, 6).alias("posterior_mean"),
        F.round(sd, 6).alias("posterior_sd"),
        F.round(mean - z * sd, 6).alias("cred_lo"),
        F.round(mean + z * sd, 6).alias("cred_hi"),
    )


_JACCARD_LINKPRED_ORACLE = """
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
    FROM op a
    JOIN op b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= 2
),
sym AS (
    SELECT part_a AS a, part_b AS b FROM pairs
    UNION ALL
    SELECT part_b AS a, part_a AS b FROM pairs
),
deg AS (
    SELECT a AS v, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a
),
two_hop AS (
    SELECT x.b AS a, y.b AS b, CAST(COUNT(*) AS BIGINT) AS common_neighbors
    FROM sym x JOIN sym y ON x.a = y.a AND x.b < y.b
    GROUP BY x.b, y.b
),
scored AS (
    SELECT t.a, t.b, t.common_neighbors,
           round(CAST(t.common_neighbors AS DOUBLE)
                 / (da.d + db.d - t.common_neighbors), 6) AS jaccard
    FROM two_hop t
    JOIN deg da ON da.v = t.a
    JOIN deg db ON db.v = t.b
)
SELECT s.a AS part_a, s.b AS part_b, s.common_neighbors, s.jaccard
FROM scored s
LEFT JOIN pairs p ON p.part_a = s.a AND p.part_b = s.b
WHERE p.part_a IS NULL
ORDER BY s.jaccard DESC, s.a, s.b
LIMIT 30
"""


@query("graph_linkpred_jaccard", oracle=_JACCARD_LINKPRED_ORACLE)
def graph_linkpred_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction on the co-purchase graph —
    common neighbors normalized by the UNION of the two neighborhoods
    (|Γa∩Γb| / (|Γa|+|Γb|−|Γa∩Γb|)), completing the classical link-pred
    trio beside `graph_linkpred_common_neighbors` (raw counts, biased
    to hubs) and `graph_linkpred_adamic_adar` (rare-neighbor weighting):
    Jaccard instead penalizes BOTH endpoints' popularity, surfacing
    niche pairs whose co-purchase contexts overlap almost completely.
    Same scale shape: the ≥2-support cap bounds Σdeg² in the wedge
    join, `pairs` is checkpointed once against the 5×-reference
    recompute, degrees join in from a broadcast-size table, and top-30
    plans as TakeOrderedAndProject after the existing-edge anti join.
    Jaccard itself is one exact integer division (both engines see the
    identical IEEE double)."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = copurchase_pairs(li, min_support=2)
    sym = pairs.select(
        F.col("part_a").alias("a"), F.col("part_b").alias("b")
    ).unionAll(
        pairs.select(F.col("part_b").alias("a"), F.col("part_a").alias("b"))
    )
    deg = sym.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    x, y = sym.alias("x"), sym.alias("y")
    two_hop = (
        x.join(
            y,
            (F.col("x.a") == F.col("y.a")) & (F.col("x.b") < F.col("y.b")),
        )
        .groupBy(F.col("x.b").alias("ta"), F.col("y.b").alias("tb"))
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    da = deg.select(F.col("v").alias("va"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("v").alias("vb"), F.col("d").alias("deg_b"))
    scored = (
        two_hop.join(F.broadcast(da), F.col("ta") == F.col("va"))
        .join(F.broadcast(db), F.col("tb") == F.col("vb"))
        .select(
            "ta",
            "tb",
            "common_neighbors",
            F.round(
                F.col("common_neighbors").cast("double")
                / (
                    F.col("deg_a")
                    + F.col("deg_b")
                    - F.col("common_neighbors")
                ),
                6,
            ).alias("jaccard"),
        )
    )
    return (
        scored.join(
            pairs,
            (F.col("ta") == F.col("part_a"))
            & (F.col("tb") == F.col("part_b")),
            "left_anti",
        )
        .select(
            F.col("ta").alias("part_a"),
            F.col("tb").alias("part_b"),
            "common_neighbors",
            "jaccard",
        )
        .orderBy(F.col("jaccard").desc(), "part_a", "part_b")
        .limit(30)
    )


_ROBUST_SCALER_ORACLE = """
WITH f AS (
    SELECT event_id, event_type, value
    FROM events
    WHERE NOT isnan(value) AND NOT isinf(value)
),
q AS (
    SELECT event_type,
           quantile_cont(value, 0.25) AS p25,
           quantile_cont(value, 0.5) AS p50,
           quantile_cont(value, 0.75) AS p75
    FROM f GROUP BY event_type
)
SELECT f.event_id, f.event_type, f.value,
       round((f.value - q.p50) / (q.p75 - q.p25), 6) AS scaled
FROM f JOIN q ON q.event_type = f.event_type
"""


@query("feature_robust_scaler", oracle=_ROBUST_SCALER_ORACLE)
def feature_robust_scaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/IQR) feature scaling per group — the
    outlier-immune alternative to z-scoring (`feature_normalize_per_group`):
    heavy-tailed metric columns make mean/std useless, while median and
    IQR are 25%-breakdown statistics. Group quantiles come from the
    distributed exact-percentile selector (one fact pass, external
    sort, no one-reducer buffering) and broadcast back onto the rows —
    the join side is |groups| rows, so the scale cost is the same one
    shuffle the percentile already paid."""
    ev = load_table(spark, sf_dir, "events").filter(
        ~F.isnan("value")
        & ~F.col("value").isin(float("inf"), float("-inf"))
    )
    q = exact_percentiles(
        ev,
        ["event_type"],
        "value",
        {"p25": 0.25, "p50": 0.5, "p75": 0.75},
    ).withColumnRenamed("event_type", "q_type")
    return ev.join(
        F.broadcast(q), F.col("event_type") == F.col("q_type")
    ).select(
        "event_id",
        "event_type",
        "value",
        F.round(
            (F.col("value") - F.col("p50"))
            / (F.col("p75") - F.col("p25")),
            6,
        ).alias("scaled"),
    )


_HASHED_CROSS_ORACLE = """
WITH f AS (
    SELECT event_type || ':' || CAST(user_id % 10 AS VARCHAR) AS cross_key,
           value
    FROM events
    WHERE user_id IS NOT NULL
      AND NOT isnan(value) AND NOT isinf(value)
),
b AS (
    SELECT CAST(('0x' || substr(md5(cross_key), 1, 8)) AS BIGINT) % 64
               AS bucket,
           cross_key, value
    FROM f
)
SELECT bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT cross_key) AS BIGINT) AS n_crosses,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
           AS mean_value
FROM b GROUP BY bucket
"""


@query("feature_hashed_cross", oracle=_HASHED_CROSS_ORACLE)
def feature_hashed_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed feature crosses (the hashing trick applied to feature
    INTERACTIONS): event_type × user-cohort crosses hash (md5 → 32-bit
    → mod 64) into a fixed bucket space, with per-bucket support, the
    number of distinct raw crosses sharing the bucket (collision
    accounting — the quantity a feature-quality audit monitors), and
    the DECIMAL-exact mean target value. No vocabulary build, no OOV,
    bounded feature dimensionality at any cardinality — the property
    that makes crosses usable at 100 TB. One partial-aggregable
    shuffle on the bucket id."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & ~F.isnan("value")
        & ~F.col("value").isin(float("inf"), float("-inf"))
    )
    cross_key = F.concat_ws(
        ":", F.col("event_type"), (F.col("user_id") % 10).cast("string")
    )
    b = ev.select(
        (
            F.conv(F.substring(F.md5(cross_key), 1, 8), 16, 10).cast(
                "long"
            )
            % 64
        ).alias("bucket"),
        cross_key.alias("cross_key"),
        "value",
    )
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("cross_key").cast("long").alias("n_crosses"),
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_value"),
    )


_POISSON_RR_ORACLE = """
WITH c AS (
    SELECT CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT)
               AS c1,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS c2
    FROM events
)
SELECT c1, c2,
       round(CAST(c1 AS DOUBLE) / c2, 6) AS rate_ratio,
       round(ln(CAST(c1 AS DOUBLE) / c2)
             / sqrt(CAST(1 AS DOUBLE) / c1 + CAST(1 AS DOUBLE) / c2), 6)
           AS wald_z
FROM c
"""


@query("agg_poisson_rate_ratio", oracle=_POISSON_RR_ORACLE)
def agg_poisson_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate-ratio test (Wald on the log scale) between two event
    streams over a common exposure window: z = ln(c1/c2)/√(1/c1+1/c2).
    The incidence-rate comparison for COUNT metrics — where the
    two-proportion z-test (`agg_two_proportion_z_test`) needs per-unit
    denominators, event rates per time window are Poisson and the
    exposure cancels when both streams share it. One map-side-combined
    count pass; a single-row result."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("long")
        .alias("c1"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("c2"),
    )
    r = F.col("c1").cast("double") / F.col("c2")
    return c.select(
        "c1",
        "c2",
        F.round(r, 6).alias("rate_ratio"),
        F.round(
            F.log(r)
            / F.sqrt(
                F.lit(1.0) / F.col("c1") + F.lit(1.0) / F.col("c2")
            ),
            6,
        ).alias("wald_z"),
    )


_HODGES_LEHMANN_ORACLE = """
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) * 100 AS BIGINT)
               AS rev_c
    FROM orders GROUP BY 1
),
walsh AS (
    SELECT CAST(a.rev_c + b.rev_c AS BIGINT) AS pair_sum
    FROM daily a JOIN daily b ON a.day <= b.day
)
SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       quantile_cont(CAST(pair_sum AS DOUBLE), 0.5) / 2 / 100
           AS hl_estimate
FROM walsh
"""


@query("agg_hodges_lehmann", oracle=_HODGES_LEHMANN_ORACLE)
def agg_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges-Lehmann pseudo-median of daily revenue — the median of all
    Walsh averages (pairwise means incl. self-pairs), the location
    estimator behind the Wilcoxon signed-rank interval: ~96% efficient
    under normality yet 29%-breakdown robust, where the plain median
    throws away efficiency and the mean throws away robustness. The
    O(n²) pair set materializes DISTRIBUTED (self-join on the daily
    rollup — n days, not n rows, so ~n²/2 pairs stay modest even at
    100 TB of facts), and the exact median runs through the
    running-count percentile selector, never one reducer's memory.
    Pair sums stay in exact integer cents (≤2^53), interpolation
    matches quantile_cont bit-for-bit."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(38,6)")) * 100)
        .cast("long")
        .alias("rev_c")
    )
    a, b = daily.alias("a"), daily.alias("b")
    walsh = a.join(b, F.col("a.day") <= F.col("b.day")).select(
        (F.col("a.rev_c") + F.col("b.rev_c")).alias("pair_sum")
    )
    med = exact_percentiles(
        walsh, [], "pair_sum", {"med_sum": 0.5}, extras={"n_pairs": "n"}
    )
    n_days = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        med.crossJoin(F.broadcast(n_days))
        .select(
            "n_days",
            "n_pairs",
            (F.col("med_sum") / 2 / 100).alias("hl_estimate"),
        )
    )


_KMV_ORACLE = """
WITH h AS (
    SELECT DISTINCT
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                AS BIGINT) AS h32
    FROM events WHERE user_id IS NOT NULL
),
ranked AS (
    SELECT h32 FROM h ORDER BY h32 LIMIT 256
),
kth AS (
    SELECT CAST(MAX(h32) AS BIGINT) AS h_k,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM ranked
),
truth AS (
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS true_distinct
    FROM events WHERE user_id IS NOT NULL
)
SELECT k.k, k.h_k,
       (CAST(k.k AS DOUBLE) - 1)
           / ((k.h_k + CAST(0.5 AS DOUBLE)) / 4294967296) AS kmv_estimate,
       t.true_distinct
FROM kth k CROSS JOIN truth t
"""


@query("agg_kmv_distinct_sketch", oracle=_KMV_ORACLE)
def agg_kmv_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, k=256: hash every
    key to a 32-bit uniform, keep the k smallest DISTINCT hashes, and
    estimate |D| ≈ (k−1)/u_k from the k-th value's normalized position —
    the order-statistics alternative to HLL (`agg_approx_sketches`)
    with the property HLL lacks: KMV sketches support set
    INTERSECTION estimates, which data-overlap audits need. The
    k-smallest selection plans as TakeOrderedAndProject (no global
    sort materializes), the hash is md5-derived so both engines agree
    exactly, and the true count rides along for the error check."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    h = ev.select(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
            16,
            10,
        )
        .cast("long")
        .alias("h32")
    ).distinct()
    kth = (
        h.orderBy("h32")
        .limit(256)
        .agg(
            F.max("h32").cast("long").alias("h_k"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
    )
    truth = ev.agg(
        F.countDistinct("user_id").cast("long").alias("true_distinct")
    )
    return kth.crossJoin(F.broadcast(truth)).select(
        "k",
        "h_k",
        (
            (F.col("k").cast("double") - 1)
            / ((F.col("h_k") + F.lit(0.5)) / F.lit(4294967296.0))
        ).alias("kmv_estimate"),
        "true_distinct",
    )


def _hilbert_oracle() -> str:
    """Generate the 10-step unrolled Hilbert xy→d oracle (1024×1024
    grid): each step is one CTE computing the quadrant contribution and
    the rotate/flip state threading, exactly the classic iterative
    xy2d loop with the loop unrolled at plan-build time."""
    steps = []
    prev = "h0"
    for i, s in enumerate([512, 256, 128, 64, 32, 16, 8, 4, 2, 1]):
        cur = f"h{i + 1}"
        rx = f"(CASE WHEN (hx & {s}) > 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) > 0 THEN 1 ELSE 0 END)"
        steps.append(
            f"""{cur} AS (
    SELECT c_custkey, x, y,
           CASE WHEN {ry} = 0
                THEN CASE WHEN {rx} = 1 THEN {s} - 1 - hy ELSE hy END
                ELSE hx END AS hx,
           CASE WHEN {ry} = 0
                THEN CASE WHEN {rx} = 1 THEN {s} - 1 - hx ELSE hx END
                ELSE hy END AS hy,
           hd + CAST({s} AS BIGINT) * {s} * xor(3 * {rx}, {ry}) AS hd
    FROM {prev}
)"""
        )
        prev = cur
    return (
        """coords AS (
    SELECT c_custkey,
           CAST((c_custkey * 7) % 1024 AS BIGINT) AS x,
           CAST((c_custkey * 13) % 1024 AS BIGINT) AS y
    FROM customer
),
h0 AS (
    SELECT c_custkey, x, y, x AS hx, y AS hy, CAST(0 AS BIGINT) AS hd
    FROM coords
),
"""
        + ",\n".join(steps)
        + f""",
hil AS (SELECT c_custkey, x, y, hd FROM {prev})"""
    )


# Reusable CTE chain ending in `hil(c_custkey, x, y, hd)`.
_HILBERT_CHAIN = _hilbert_oracle()

_HILBERT_ORACLE = (
    "WITH "
    + _HILBERT_CHAIN
    + """
SELECT c_custkey, x, y, hd AS hilbert_d FROM hil
"""
)


def _with_hilbert(df):
    """Attach synthetic 10-bit grid coords and the Hilbert distance to a
    customer frame: (c_custkey, x, y, hd) — the Spark mirror of
    ``_HILBERT_CHAIN``, 10 unrolled integer steps in codegen."""
    df = df.select(
        "c_custkey",
        ((F.col("c_custkey") * 7) % 1024).cast("long").alias("x"),
        ((F.col("c_custkey") * 13) % 1024).cast("long").alias("y"),
    ).select(
        "c_custkey",
        "x",
        "y",
        F.col("x").alias("hx"),
        F.col("y").alias("hy"),
        F.lit(0).cast("long").alias("hd"),
    )
    for s in [512, 256, 128, 64, 32, 16, 8, 4, 2, 1]:
        rx = F.when(
            F.col("hx").bitwiseAND(F.lit(s)) > 0, 1
        ).otherwise(0)
        ry = F.when(
            F.col("hy").bitwiseAND(F.lit(s)) > 0, 1
        ).otherwise(0)
        flip_x = F.when(rx == 1, F.lit(s - 1) - F.col("hy")).otherwise(
            F.col("hy")
        )
        flip_y = F.when(rx == 1, F.lit(s - 1) - F.col("hx")).otherwise(
            F.col("hx")
        )
        df = df.select(
            "c_custkey",
            "x",
            "y",
            F.when(ry == 0, flip_x).otherwise(F.col("hx")).alias("hx"),
            F.when(ry == 0, flip_y).otherwise(F.col("hy")).alias("hy"),
            (
                F.col("hd")
                + F.lit(s).cast("long")
                * F.lit(s)
                * (rx * 3).bitwiseXOR(ry)
            ).alias("hd"),
        )
    return df.select("c_custkey", "x", "y", "hd")


@query("layout_hilbert_order", oracle=_HILBERT_ORACLE)
def layout_hilbert_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve ordering key for multi-dimensional data layout —
    the strictly-better space-filling curve next to Morton
    (`layout_zvalue_events`): Hilbert never makes the long diagonal
    jumps Z-order makes, so range queries on EITHER dimension touch
    ~25-50% fewer files at the same file size (the reason Delta/Iceberg
    ship it for clustered writes). The classic iterative xy→d transform
    (10 quadrant steps for a 1024² grid, each a flip/rotate + quadrant
    offset) unrolls at plan-build time into pure integer CASE/XOR
    codegen — no UDF, no loop at run time, identical on both engines.
    Writing `df.repartitionByRange(F.col('hilbert_d'))` then sorting
    within partitions gives the clustered layout; this query emits the
    key itself for verification (`layout_pruning_simulation` measures
    the file-skipping payoff)."""
    cu = load_table(spark, sf_dir, "customer")
    return _with_hilbert(cu).select(
        "c_custkey", "x", "y", F.col("hd").alias("hilbert_d")
    )


_TE_LOO_ORACLE = """
WITH f AS (
    SELECT event_id, event_type, value FROM events
    WHERE NOT isnan(value) AND NOT isinf(value)
),
g AS (
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_g,
           CAST(COUNT(*) AS BIGINT) AS n_g
    FROM f GROUP BY event_type
),
p AS (
    SELECT CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
        AS prior
    FROM f
)
SELECT f.event_id, f.event_type, f.value,
       (g.sum_g - f.value + 10 * p.prior) / (g.n_g - 1 + 10) AS te_loo
FROM f
JOIN g USING (event_type)
CROSS JOIN p
WHERE g.n_g >= 2
"""


@query("feature_target_encoding_loo", oracle=_TE_LOO_ORACLE)
def feature_target_encoding_loo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEAVE-ONE-OUT target encoding with additive smoothing toward the
    global mean (m=10) — the leakage-safe form of
    `feature_target_encoding`: plain group-mean encoding lets each row
    see its own target (training-serving skew that inflates offline
    metrics), while LOO subtracts the row's own contribution before
    averaging. The group sums are one DECIMAL-exact pass broadcast back
    onto the rows (each row's encode is then row-local arithmetic), so
    the 'per-row different aggregate' costs no more than the plain
    version — the trick that makes LOO feasible at 100 TB where
    naive per-row re-aggregation would be quadratic."""
    ev = load_table(spark, sf_dir, "events").filter(
        ~F.isnan("value")
        & ~F.col("value").isin(float("inf"), float("-inf"))
    )
    g = ev.groupBy(F.col("event_type").alias("g_type")).agg(
        F.sum(F.col("value").cast("decimal(38,6)"))
        .cast("double")
        .alias("sum_g"),
        F.count(F.lit(1)).cast("long").alias("n_g"),
    )
    p = ev.agg(
        (
            F.sum(F.col("value").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("prior")
    )
    return (
        ev.join(F.broadcast(g), F.col("event_type") == F.col("g_type"))
        .crossJoin(F.broadcast(p))
        .where(F.col("n_g") >= 2)
        .select(
            "event_id",
            "event_type",
            "value",
            (
                (F.col("sum_g") - F.col("value") + 10 * F.col("prior"))
                / (F.col("n_g") - 1 + 10)
            ).alias("te_loo"),
        )
    )


_FD_HIST_ORACLE = """
WITH f AS (
    SELECT value FROM events
    WHERE NOT isnan(value) AND NOT isinf(value)
),
s AS (
    SELECT quantile_cont(value, 0.25) AS q1,
           quantile_cont(value, 0.75) AS q3,
           MIN(value) AS vmin,
           MAX(value) AS vmax,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM f
),
w AS (
    SELECT q1, q3, vmin, vmax, n,
           round(2 * (q3 - q1) / pow(CAST(n AS DOUBLE),
                                     CAST(1 AS DOUBLE) / 3), 6) AS bw
    FROM s
)
SELECT CAST(floor((f.value - w.vmin) / w.bw) AS BIGINT) AS bin_idx,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       MIN(f.value) AS lo_seen,
       MAX(f.value) AS hi_seen,
       ANY_VALUE(w.bw) AS bin_width
FROM f CROSS JOIN w
GROUP BY 1
"""


@query("agg_histogram_fd_bins", oracle=_FD_HIST_ORACLE)
def agg_histogram_fd_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram with the Freedman–Diaconis bin width
    (2·IQR·n^(−1/3)) — the data-driven binning rule that a profiling
    UI should use instead of a fixed bin count (`dq_value_histogram`):
    FD is robust to outliers (IQR, not range) and scales the width
    with sample size. IQR comes from the distributed exact-percentile
    selector in one pass with min/max/count; the width quantizes to 6
    decimals so the floor-binning expression is identical IEEE
    arithmetic on both engines; then one partial-aggregable groupBy on
    the bin index."""
    ev = load_table(spark, sf_dir, "events").filter(
        ~F.isnan("value")
        & ~F.col("value").isin(float("inf"), float("-inf"))
    )
    s = exact_percentiles(
        ev,
        [],
        "value",
        {"q1": 0.25, "q3": 0.75},
        extras={"vmin": "min", "vmax": "max", "n": "n"},
    )
    w = s.select(
        "vmin",
        F.round(
            2
            * (F.col("q3") - F.col("q1"))
            / F.pow(F.col("n").cast("double"), F.lit(1.0) / 3),
            6,
        ).alias("bw"),
    )
    return (
        ev.crossJoin(F.broadcast(w))
        .groupBy(
            F.floor((F.col("value") - F.col("vmin")) / F.col("bw"))
            .cast("long")
            .alias("bin_idx")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("value").alias("lo_seen"),
            F.max("value").alias("hi_seen"),
            F.any_value("bw").alias("bin_width"),
        )
    )


_PERM_TEST_ORACLE = """
WITH f AS (
    SELECT event_id, event_type, value FROM events
    WHERE event_type IN ('click', 'purchase')
      AND NOT isnan(value) AND NOT isinf(value)
),
obs AS (
    SELECT CAST(SUM(CAST(value AS DECIMAL(38,6)))
                FILTER (WHERE event_type = 'click') AS DOUBLE)
               / COUNT(*) FILTER (WHERE event_type = 'click')
         - CAST(SUM(CAST(value AS DECIMAL(38,6)))
                FILTER (WHERE event_type = 'purchase') AS DOUBLE)
               / COUNT(*) FILTER (WHERE event_type = 'purchase')
           AS d_obs
    FROM f
),
perms AS (
    SELECT p.p AS perm,
           f.value,
           CAST(('0x' || substr(md5(CAST(p.p AS VARCHAR) || ':'
                || CAST(f.event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2
               AS side
    FROM f, (SELECT unnest(range(0, 200)) AS p) p
),
pdiff AS (
    SELECT perm,
           CAST(SUM(CAST(value AS DECIMAL(38,6)))
                FILTER (WHERE side = 0) AS DOUBLE)
               / COUNT(*) FILTER (WHERE side = 0)
         - CAST(SUM(CAST(value AS DECIMAL(38,6)))
                FILTER (WHERE side = 1) AS DOUBLE)
               / COUNT(*) FILTER (WHERE side = 1)
           AS d
    FROM perms GROUP BY perm
)
SELECT CAST(200 AS BIGINT) AS n_perms,
       o.d_obs AS observed_diff,
       CAST(COUNT(*) FILTER (WHERE abs(p.d) >= abs(o.d_obs)) AS BIGINT)
           AS n_extreme,
       CAST(COUNT(*) FILTER (WHERE abs(p.d) >= abs(o.d_obs)) AS DOUBLE)
           / 200 AS p_value
FROM pdiff p CROSS JOIN obs o
GROUP BY o.d_obs
"""


@query("agg_permutation_test_mean_diff", oracle=_PERM_TEST_ORACLE)
def agg_permutation_test_mean_diff(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Permutation test of the click-vs-purchase mean difference, 200
    md5-seeded label reshuffles — the assumption-free significance test
    that Welch's t (`agg_welch_t_test`) approximates: no normality, no
    variance model, just the exchangeability null executed literally.
    Each permutation reassigns rows by a hash of (perm, event_id) — a
    deterministic coin both engines flip identically — so the whole
    resampling distribution is reproducible. The 200× row expansion is
    one narrow generator feeding a partial-aggregable (perm)-keyed
    rollup: resampling parallelizes BY REPLICATE at 100 TB, the same
    shape as `agg_bootstrap_se_mean`."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
        & ~F.isnan("value")
        & ~F.col("value").isin(float("inf"), float("-inf"))
    )
    dsum_click = F.sum(
        F.when(
            F.col("event_type") == "click",
            F.col("value").cast("decimal(38,6)"),
        )
    ).cast("double")
    dsum_pur = F.sum(
        F.when(
            F.col("event_type") == "purchase",
            F.col("value").cast("decimal(38,6)"),
        )
    ).cast("double")
    n_click = F.count(F.when(F.col("event_type") == "click", 1))
    n_pur = F.count(F.when(F.col("event_type") == "purchase", 1))
    obs = ev.agg(
        (dsum_click / n_click - dsum_pur / n_pur).alias("d_obs")
    )
    perms = ev.select(
        "event_id",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(199))).alias("perm"),
    ).select(
        "perm",
        "value",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("perm").cast("string"),
                            F.lit(":"),
                            F.col("event_id").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("side"),
    )
    d0 = F.sum(
        F.when(F.col("side") == 0, F.col("value").cast("decimal(38,6)"))
    ).cast("double")
    d1 = F.sum(
        F.when(F.col("side") == 1, F.col("value").cast("decimal(38,6)"))
    ).cast("double")
    n0 = F.count(F.when(F.col("side") == 0, 1))
    n1 = F.count(F.when(F.col("side") == 1, 1))
    pdiff = perms.groupBy("perm").agg((d0 / n0 - d1 / n1).alias("d"))
    extreme = F.count(
        F.when(F.abs(F.col("d")) >= F.abs(F.col("d_obs")), 1)
    )
    return (
        pdiff.crossJoin(F.broadcast(obs))
        .groupBy("d_obs")
        .agg(
            F.lit(200).cast("long").alias("n_perms"),
            extreme.cast("long").alias("n_extreme"),
            (extreme.cast("double") / 200).alias("p_value"),
        )
        .select(
            "n_perms",
            F.col("d_obs").alias("observed_diff"),
            "n_extreme",
            "p_value",
        )
    )


_PRUNING_ORACLE = (
    "WITH "
    + _HILBERT_CHAIN
    + """,
fh AS (
    SELECT ntile(32) OVER (ORDER BY hd, c_custkey) AS f, x, y FROM hil
),
fn AS (
    SELECT ntile(32) OVER (ORDER BY c_custkey) AS f, x, y FROM hil
),
stats_h AS (
    SELECT f, MIN(x) AS x0, MAX(x) AS x1, MIN(y) AS y0, MAX(y) AS y1
    FROM fh GROUP BY f
),
stats_n AS (
    SELECT f, MIN(x) AS x0, MAX(x) AS x1, MIN(y) AS y0, MAX(y) AS y1
    FROM fn GROUP BY f
),
matching AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM hil
    WHERE x >= 100 AND x < 300 AND y >= 400 AND y < 600
)
SELECT 'hilbert' AS layout,
       CAST(32 AS BIGINT) AS n_files,
       CAST(COUNT(*) FILTER (WHERE x0 < 300 AND x1 >= 100
                               AND y0 < 600 AND y1 >= 400) AS BIGINT)
           AS files_scanned,
       CAST(COUNT(*) FILTER (WHERE x0 < 300 AND x1 >= 100
                               AND y0 < 600 AND y1 >= 400) AS DOUBLE)
           / 32 AS scan_fraction,
       ANY_VALUE(m.n_rows) AS matching_rows
FROM stats_h CROSS JOIN matching m
UNION ALL
SELECT 'custkey',
       CAST(32 AS BIGINT),
       CAST(COUNT(*) FILTER (WHERE x0 < 300 AND x1 >= 100
                               AND y0 < 600 AND y1 >= 400) AS BIGINT),
       CAST(COUNT(*) FILTER (WHERE x0 < 300 AND x1 >= 100
                               AND y0 < 600 AND y1 >= 400) AS DOUBLE)
           / 32,
       ANY_VALUE(m.n_rows)
FROM stats_n CROSS JOIN matching m
"""
)


@query("layout_pruning_simulation", oracle=_PRUNING_ORACLE)
def layout_pruning_simulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping payoff of a Hilbert-clustered layout, measured the
    way a lakehouse reader actually prunes: split the table into 32
    'files' under (a) Hilbert-distance order and (b) naive key order,
    keep per-file min/max column stats (the parquet footer / Iceberg
    manifest model), and count how many files a 2-D box predicate must
    read under each layout. The same matching rows come back either
    way — the layouts differ ONLY in scan_fraction, which is the number
    that justifies the clustering write cost at 100 TB (a Hilbert
    layout typically reads a small fraction of files where key order
    reads nearly all, because key order decorrelates from both
    predicate columns). Pure window ntile + min/max rollups, no
    shuffle wider than the file stats."""
    from pyspark.sql import Window as Win

    hil = _with_hilbert(load_table(spark, sf_dir, "customer"))
    matching = hil.where(
        (F.col("x") >= 100)
        & (F.col("x") < 300)
        & (F.col("y") >= 400)
        & (F.col("y") < 600)
    ).agg(F.count(F.lit(1)).cast("long").alias("n_rows"))

    def arm(order_cols, label):
        files = hil.select(
            F.ntile(32).over(Win.orderBy(*order_cols)).alias("f"),
            "x",
            "y",
        )
        stats = files.groupBy("f").agg(
            F.min("x").alias("x0"),
            F.max("x").alias("x1"),
            F.min("y").alias("y0"),
            F.max("y").alias("y1"),
        )
        overlap = (
            (F.col("x0") < 300)
            & (F.col("x1") >= 100)
            & (F.col("y0") < 600)
            & (F.col("y1") >= 400)
        )
        scanned = F.count(F.when(overlap, 1))
        return stats.crossJoin(F.broadcast(matching)).agg(
            F.lit(label).alias("layout"),
            F.lit(32).cast("long").alias("n_files"),
            scanned.cast("long").alias("files_scanned"),
            (scanned.cast("double") / 32).alias("scan_fraction"),
            F.any_value("n_rows").alias("matching_rows"),
        )

    return arm([F.col("hd"), F.col("c_custkey")], "hilbert").unionByName(
        arm([F.col("c_custkey")], "custkey")
    )


_LABELPROP_ORACLE = """
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
    SELECT a.l_partkey AS pa, b.l_partkey AS pb
    FROM op a
    JOIN op b ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= 2
),
sym AS (
    SELECT pa AS a, pb AS b FROM pairs
    UNION ALL
    SELECT pb AS a, pa AS b FROM pairs
),
nodes AS (
    SELECT DISTINCT a AS node FROM sym
),
truth AS (
    SELECT n.node, p.p_brand AS label
    FROM nodes n JOIN part p ON p.p_partkey = n.node
),
seeds AS (
    SELECT node, label FROM truth WHERE node % 3 = 0
),
votes1 AS (
    SELECT e.a AS node, s.label, CAST(COUNT(*) AS BIGINT) AS c
    FROM sym e JOIN seeds s ON s.node = e.b
    GROUP BY e.a, s.label
),
pred1 AS (
    SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rn
        FROM votes1
    ) WHERE rn = 1
),
labels1 AS (
    SELECT node, label FROM seeds
    UNION ALL
    SELECT p.node, p.label FROM pred1 p
    WHERE p.node NOT IN (SELECT node FROM seeds)
),
votes2 AS (
    SELECT e.a AS node, l.label, CAST(COUNT(*) AS BIGINT) AS c
    FROM sym e JOIN labels1 l ON l.node = e.b
    GROUP BY e.a, l.label
),
pred2 AS (
    SELECT node, label FROM (
        SELECT node, label,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rn
        FROM votes2
    ) WHERE rn = 1
),
labels2 AS (
    SELECT node, label FROM seeds
    UNION ALL
    SELECT p.node, p.label FROM pred2 p
    WHERE p.node NOT IN (SELECT node FROM seeds)
),
eval AS (
    SELECT t.node, t.label AS truth_label, l.label AS pred_label
    FROM truth t
    LEFT JOIN labels2 l ON l.node = t.node
    WHERE t.node % 3 <> 0
)
SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM seeds) AS BIGINT) AS n_seeds,
       CAST(COUNT(*) AS BIGINT) AS n_holdout,
       CAST(COUNT(pred_label) AS BIGINT) AS n_predicted,
       CAST(COUNT(*) FILTER (WHERE pred_label = truth_label) AS BIGINT)
           AS n_correct,
       CAST(COUNT(*) FILTER (WHERE pred_label = truth_label) AS DOUBLE)
           / COUNT(pred_label) AS accuracy
FROM eval
"""


@query("graph_label_propagation_semi", oracle=_LABELPROP_ORACLE)
def graph_label_propagation_semi(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semi-supervised label propagation on the co-purchase graph: seed
    1/3 of the parts with their true brand, propagate two rounds of
    clamped majority vote (seeds never change; ties break on the label
    for determinism), and score accuracy on the held-out 2/3 — the
    graph-SSL baseline (Zhu & Ghahramani) a labeling pipeline runs
    before paying for annotations: high propagation accuracy means
    graph structure already encodes the label.

    Scale shape: (1) pair generation is ONE groupBy — collect the
    distinct parts per order (bounded: TPC-H orders hold ≤7 parts, so
    the per-group array and its i<j combinations are constant-size) and
    explode the combinations from an array expression, instead of the
    distinct + self-join + groupBy chain (3 shuffles → 2; measured
    1.8 s → 1.25 s at sf0.1). (2) The label frame is bounded by |parts|
    (one row per node), orders of magnitude smaller than the edge list,
    so every round's edge→label join BROADCASTS the labels and the sym
    frame is never shuffled for the join; the only exchange per round
    is the (node, label) majority groupBy. (3) Only the pair list is
    eagerly checkpointed: every downstream frame is a one-reference
    chain over those ≤ a-few-thousand rows, so per-round checkpoints
    just added driver job round-trips (the whole tail is one AQE job).
    At deeper iteration counts than the fixed 2 rounds here, checkpoint
    the label frame every few rounds to truncate lineage."""
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part")
    from pyspark.sql import Window as Win

    pairs = copurchase_pairs(li, min_support=2).select(
        F.col("part_a").alias("pa"), F.col("part_b").alias("pb")
    )
    sym = pairs.select(
        F.explode(
            F.expr("array(struct(pa AS a, pb AS b), struct(pb AS a, pa AS b))")
        ).alias("e")
    ).select("e.a", "e.b")
    nodes = sym.select(F.col("a").alias("node")).distinct()
    truth = nodes.join(
        F.broadcast(
            pt.select(
                F.col("p_partkey").alias("node"),
                F.col("p_brand").alias("label"),
            )
        ),
        "node",
    )
    seeds = truth.where(F.col("node") % 3 == 0)

    def propagate(labels):
        votes = (
            sym.join(
                F.broadcast(
                    labels.select(
                        F.col("node").alias("src"), F.col("label")
                    )
                ),
                F.col("b") == F.col("src"),
            )
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        pred = (
            votes.withColumn(
                "rn",
                F.row_number().over(
                    Win.partitionBy("node").orderBy(
                        F.col("c").desc(), "label"
                    )
                ),
            )
            .where(F.col("rn") == 1)
            .select("node", "label")
        )
        return seeds.unionByName(
            pred.join(
                F.broadcast(seeds.select("node")), "node", "left_anti"
            )
        )

    labels = propagate(propagate(seeds))
    holdout = (
        truth.where(F.col("node") % 3 != 0)
        .withColumnRenamed("label", "truth_label")
        .join(
            F.broadcast(labels.withColumnRenamed("label", "pred_label")),
            "node",
            "left",
        )
    )
    n_nodes = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    n_seeds = seeds.agg(F.count(F.lit(1)).cast("long").alias("n_seeds"))
    correct = F.count(
        F.when(F.col("pred_label") == F.col("truth_label"), 1)
    )
    return (
        holdout.agg(
            F.count(F.lit(1)).cast("long").alias("n_holdout"),
            F.count("pred_label").cast("long").alias("n_predicted"),
            correct.cast("long").alias("n_correct"),
            (correct.cast("double") / F.count("pred_label")).alias(
                "accuracy"
            ),
        )
        .crossJoin(F.broadcast(n_nodes))
        .crossJoin(F.broadcast(n_seeds))
        .select(
            "n_nodes",
            "n_seeds",
            "n_holdout",
            "n_predicted",
            "n_correct",
            "accuracy",
        )
    )


_IPF_ORACLE = """
WITH f AS (
    SELECT event_type AS et, user_id % 3 AS cohort
    FROM events WHERE user_id IS NOT NULL
),
cell AS (
    SELECT et, cohort, CAST(COUNT(*) AS BIGINT) AS n
    FROM f GROUP BY et, cohort
),
dims AS (
    SELECT CAST(SUM(n) AS BIGINT) AS total,
           CAST(COUNT(DISTINCT et) AS BIGINT) AS n_rows_dim,
           CAST(COUNT(DISTINCT cohort) AS BIGINT) AS n_cols_dim
    FROM cell
),
w0 AS (
    SELECT et, cohort, n, CAST(n AS DOUBLE) AS w
    FROM cell
),
r1 AS (
    SELECT et, cohort, n,
           floor(w * ((CAST(d.total AS DOUBLE) / d.n_rows_dim)
                      / SUM(w) OVER (PARTITION BY et))
                 * 1048576 + 0.5) / 1048576 AS w
    FROM w0 CROSS JOIN dims d
),
c1 AS (
    SELECT et, cohort, n,
           floor(w * ((CAST(d.total AS DOUBLE) / d.n_cols_dim)
                      / SUM(w) OVER (PARTITION BY cohort))
                 * 1048576 + 0.5) / 1048576 AS w
    FROM r1 CROSS JOIN dims d
),
r2 AS (
    SELECT et, cohort, n,
           floor(w * ((CAST(d.total AS DOUBLE) / d.n_rows_dim)
                      / SUM(w) OVER (PARTITION BY et))
                 * 1048576 + 0.5) / 1048576 AS w
    FROM c1 CROSS JOIN dims d
),
c2 AS (
    SELECT et, cohort, n,
           floor(w * ((CAST(d.total AS DOUBLE) / d.n_cols_dim)
                      / SUM(w) OVER (PARTITION BY cohort))
                 * 1048576 + 0.5) / 1048576 AS w
    FROM r2 CROSS JOIN dims d
)
SELECT et AS event_type, CAST(cohort AS BIGINT) AS cohort, n,
       w AS raked_weighted_n,
       w / n AS rake_factor
FROM c2
"""


@query("agg_ipf_raking_2d", oracle=_IPF_ORACLE)
def agg_ipf_raking_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking) of the event_type ×
    user-cohort contingency table to UNIFORM target margins, two full
    row/column sweeps unrolled — the survey-weighting / bias-correction
    primitive: the raked weights preserve the table's interaction
    structure while matching prescribed marginals (here uniform, the
    'equal representation' reweighting a sampling audit applies).
    Each sweep is one window-sum rescale over the |I|×|J| CELL table
    (never the fact rows), so four sweeps cost four window passes over
    a tiny frame after one partial-aggregable rollup of the facts; all
    weights are IEEE doubles derived from exact integer counts —
    engine-identical with no rounding."""
    from pyspark.sql import Window as Win

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    cell = ev.groupBy(
        F.col("event_type").alias("et"),
        (F.col("user_id") % 3).alias("cohort"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    dims = cell.agg(
        F.sum("n").cast("long").alias("total"),
        F.countDistinct("et").cast("long").alias("n_rows_dim"),
        F.countDistinct("cohort").cast("long").alias("n_cols_dim"),
    )
    df = cell.crossJoin(F.broadcast(dims)).withColumn(
        "w", F.col("n").cast("double")
    )
    for axis in ("et", "cohort", "et", "cohort"):
        target = (
            F.col("total").cast("double") / F.col("n_rows_dim")
            if axis == "et"
            else F.col("total").cast("double") / F.col("n_cols_dim")
        )
        # Quantize each sweep's output to the dyadic 2^-20 grid: window
        # SUM over arbitrary doubles is ORDER-DEPENDENT (observed 1-ulp
        # cross-engine drift), but dyadic-grid values of this magnitude
        # sum exactly in ANY order (cell weights * 2^20 stay far below
        # 2^53), so every sweep sees bit-identical partition sums.
        df = df.withColumn(
            "w",
            F.floor(
                F.col("w")
                * (target / F.sum("w").over(Win.partitionBy(axis)))
                * 1048576
                + 0.5
            )
            / 1048576,
        )
    return df.select(
        F.col("et").alias("event_type"),
        F.col("cohort").cast("long").alias("cohort"),
        "n",
        F.col("w").alias("raked_weighted_n"),
        (F.col("w") / F.col("n")).alias("rake_factor"),
    )


_THEIL_INDEX_ORACLE = """
WITH x AS (
    SELECT source, CAST(n_chars AS BIGINT) AS v FROM documents
    WHERE n_chars > 0
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mu
    FROM x
),
terms AS (
    SELECT floor((CAST(v AS DOUBLE) / mu)
                 * round(ln(CAST(v AS DOUBLE) / mu), 6)
                 * 1048576 + 0.5) / 1048576 AS t
    FROM x, tot
),
grp AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS ng,
           CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mug
    FROM x GROUP BY source
),
bterms AS (
    SELECT floor((CAST(ng AS DOUBLE) / n) * (mug / mu)
                 * round(ln(mug / mu), 6) * 1048576 + 0.5) / 1048576 AS t
    FROM grp, tot
),
agg AS (
    SELECT (SELECT SUM(t) FROM terms) / (SELECT n FROM tot) AS t_total,
           (SELECT SUM(t) FROM bterms) AS t_between
)
SELECT (SELECT n FROM tot) AS n_docs,
       t_total, t_between, t_total - t_between AS t_within
FROM agg
"""


@query("agg_theil_index_by_source", oracle=_THEIL_INDEX_ORACLE)
def agg_theil_index_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of document length, decomposed into
    BETWEEN-source and WITHIN-source components — the additive
    inequality decomposition (unlike Gini) that tells a corpus curator
    whether length skew comes from a few bloated sources or from spread
    inside every source. T = (1/N)Σ(x/μ)ln(x/μ);
    T_between = Σ w_g(μ_g/μ)ln(μ_g/μ); T_within = T − T_between.

    Float discipline: means come from exact DECIMAL sums; each ln output
    is 6-dp-quantized (the only non-correctly-rounded op); every summand
    lands on the dyadic 2^-20 grid before the corpus-order-independent
    SUM (the `agg_ipf_raking_2d` rule — grid values of this magnitude
    add exactly in any order). Two corpus passes (global + per-source
    aggregate), both map-side combinable; the per-doc term is a narrow
    map against a broadcast scalar."""
    docs = load_table(spark, sf_dir, "documents")
    x = docs.where(F.col("n_chars") > 0).select(
        "source", F.col("n_chars").cast("long").alias("v")
    )
    tot = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum(F.col("v").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        ),
    )
    r = F.col("v").cast("double") / F.col("mu")
    grid = F.lit(1048576.0)
    t_doc = F.floor(r * F.round(F.log(r), 6) * grid + F.lit(0.5)) / grid
    t_total = (
        x.crossJoin(F.broadcast(tot))
        .agg(F.sum(t_doc).alias("s"), F.any_value("n").alias("n"))
        .select((F.col("s") / F.col("n")).alias("t_total"))
    )
    grp = x.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        (F.sum(F.col("v").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
            "mug"
        ),
    )
    rg = F.col("mug") / F.col("mu")
    t_g = (
        F.floor(
            (F.col("ng").cast("double") / F.col("n"))
            * rg
            * F.round(F.log(rg), 6)
            * grid
            + F.lit(0.5)
        )
        / grid
    )
    t_between = (
        grp.crossJoin(F.broadcast(tot))
        .agg(F.sum(t_g).alias("t_between"), F.any_value("n").alias("n_docs"))
    )
    return (
        t_between.crossJoin(F.broadcast(t_total))
        .select(
            "n_docs",
            "t_total",
            "t_between",
            (F.col("t_total") - F.col("t_between")).alias("t_within"),
        )
    )


_WINSOR_TRIM_ORACLE = """
WITH base AS (
    SELECT o_orderpriority AS priority, o_totalprice AS price
    FROM orders
),
vals AS (
    SELECT priority, price, CAST(COUNT(*) AS BIGINT) AS c
    FROM base GROUP BY priority, price
),
run AS (
    SELECT priority, price, c,
           SUM(c) OVER (PARTITION BY priority ORDER BY price
                        ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(c) OVER (PARTITION BY priority) AS n
    FROM vals
),
clipped AS (
    SELECT priority, price, n,
           GREATEST(
               LEAST(cum, n - (n // 10)) - GREATEST(cum - c, n // 10),
               0) AS keep_c
    FROM run
)
SELECT priority,
       CAST(MAX(n) AS BIGINT) AS n_rows,
       CAST(MAX(n) - 2 * (MAX(n) // 10) AS BIGINT) AS n_kept,
       CAST(SUM(CAST(price AS DECIMAL(38,6)) * keep_c) AS DOUBLE)
         / (MAX(n) - 2 * (MAX(n) // 10)) AS trimmed_mean
FROM clipped
GROUP BY priority
"""


@query("agg_winsorized_trimmed_mean", oracle=_WINSOR_TRIM_ORACLE)
def agg_winsorized_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of order value per priority — the robust center
    that ignores the cheapest and priciest decile (rank-exact, not an
    approximate-quantile winsorization): drop the bottom and top
    floor(n/10) rows BY RANK and average the rest.

    Distributed selection without per-row ranking: rows collapse to
    DISTINCT (priority, price) counts first (map-side combinable — the
    only corpus shuffle), then one running-count window over distinct
    values per group computes how many copies of each value survive the
    trim as an interval overlap — the `exact_percentiles` pattern, so no
    single task ever holds a group's raw rows. Money stays DECIMAL
    throughout; the single final division is the only float op."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("price"),
    )
    vals = base.groupBy("priority", "price").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wrun = (
        Window.partitionBy("priority")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("priority")
    run = vals.select(
        "priority",
        "price",
        "c",
        F.sum("c").over(wrun).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    lo = F.floor(F.col("n") / 10)
    keep_c = F.greatest(
        F.least(F.col("cum"), F.col("n") - lo)
        - F.greatest(F.col("cum") - F.col("c"), lo),
        F.lit(0),
    )
    clipped = run.select("priority", "price", "n", keep_c.alias("keep_c"))
    kept = F.max("n") - 2 * F.floor(F.max("n") / 10)
    return clipped.groupBy("priority").agg(
        F.max("n").cast("long").alias("n_rows"),
        kept.cast("long").alias("n_kept"),
        (
            F.sum(F.col("price").cast(DEC) * F.col("keep_c")).cast("double")
            / kept
        ).alias("trimmed_mean"),
    )


_MAD_OUTLIER_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS rev
    FROM events GROUP BY CAST(ts AS DATE)
),
med AS (
    SELECT rev AS m FROM (
        SELECT rev, row_number() OVER (ORDER BY rev, day) AS rk,
               COUNT(*) OVER () AS n
        FROM daily
    ) WHERE rk = (n + 1) // 2
),
devs AS (
    SELECT day, rev, ABS(rev - m) AS dev FROM daily, med
),
mad AS (
    SELECT dev AS mad FROM (
        SELECT dev, row_number() OVER (ORDER BY dev, day) AS rk,
               COUNT(*) OVER () AS n
        FROM devs
    ) WHERE rk = (n + 1) // 2
)
SELECT day, CAST(rev AS DOUBLE) AS revenue,
       CAST(dev AS DOUBLE) AS abs_dev,
       CAST(m AS DOUBLE) AS median_rev, CAST(mad AS DOUBLE) AS mad
FROM devs, med, mad
WHERE dev > 3 * mad
"""


@query("window_mad_outlier_days", oracle=_MAD_OUTLIER_ORACLE)
def window_mad_outlier_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier days: daily revenue more than
    3 MADs from the median — the robust anomaly cut that (unlike the
    z-score) a single whale day cannot poison, since both the center and
    the spread are rank statistics. Lower-median rank picks with a
    (value, day) total order and DECIMAL revenue end-to-end: zero float
    arithmetic until the output cast, so the flags are bit-deterministic.
    Scale: the windows run over DAY rows (calendar-bounded) after the
    one corpus-wide daily rollup."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.sum(F.col("value").cast(DEC)).alias("rev")
    )

    def lower_median(df: DataFrame, col: str, alias: str) -> DataFrame:
        w = Window.orderBy(col, "day")
        ranked = df.select(
            F.col(col),
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ).alias("n"),
        )
        return ranked.where(
            F.col("rk") == F.floor((F.col("n") + F.lit(1)) / F.lit(2))
        ).select(F.col(col).alias(alias))

    med = lower_median(daily, "rev", "m")
    devs = daily.crossJoin(F.broadcast(med)).select(
        "day", "rev", F.abs(F.col("rev") - F.col("m")).alias("dev"), "m"
    )
    mad = lower_median(devs, "dev", "mad")
    return (
        devs.crossJoin(F.broadcast(mad))
        .where(F.col("dev") > F.lit(3) * F.col("mad"))
        .select(
            "day",
            F.col("rev").cast("double").alias("revenue"),
            F.col("dev").cast("double").alias("abs_dev"),
            F.col("m").cast("double").alias("median_rev"),
            F.col("mad").cast("double").alias("mad"),
        )
    )


_SHIP_LATENCY_ORACLE = """
WITH lat AS (
    SELECT o.o_orderpriority AS priority,
           CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                          CAST(l.l_shipdate AS DATE)) AS DOUBLE) AS days
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n,
       quantile_cont(days, 0.5) AS p50_days,
       quantile_cont(days, 0.9) AS p90_days,
       quantile_cont(days, 0.99) AS p99_days,
       MIN(days) AS min_days,
       MAX(days) AS max_days
FROM lat GROUP BY priority
"""


@query("agg_ship_latency_percentiles", oracle=_SHIP_LATENCY_ORACLE)
def agg_ship_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency percentiles per priority class — the
    fulfillment SLO sheet (p50/p90/p99 days from order to line shipment).
    Latencies are exact integer day differences; selection uses the
    distributed running-count percentile (`exact_percentiles`) so no
    reducer ever buffers a priority class's raw rows, and interpolation
    follows percentile_cont exactly (quantile_cont-comparable). The
    orders join broadcasts at dimension scale or shuffles on the key at
    fact scale — Catalyst/AQE's call."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lat = li.join(
        orders, li["l_orderkey"] == orders["o_orderkey"]
    ).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(
            F.col("l_shipdate").cast("date"),
            F.col("o_orderdate").cast("date"),
        )
        .cast("double")
        .alias("days"),
    )
    return exact_percentiles(
        lat,
        ["priority"],
        "days",
        {"p50_days": 0.5, "p90_days": 0.9, "p99_days": 0.99},
        extras={"n": "n", "min_days": "min", "max_days": "max"},
    ).select(
        "priority", "n", "p50_days", "p90_days", "p99_days",
        "min_days", "max_days",
    )


_BAND_JOIN_ORACLE = """
WITH e AS (
    SELECT event_id, event_type, CAST(ts AS DATE) AS d, value AS v
    FROM events WHERE NOT isnan(value) AND isfinite(value)
)
SELECT a.event_id AS id_a, b.event_id AS id_b,
       a.event_type, a.d AS day, b.v - a.v AS dv
FROM e a
JOIN e b
  ON b.event_type = a.event_type AND b.d = a.d
 AND b.event_id > a.event_id
 AND b.v >= a.v - 0.5 AND b.v <= a.v + 0.5
"""


def band_self_join(e: DataFrame, eps: float = 0.5) -> DataFrame:
    """Bucket-decomposed ε-band self-join over a prepared frame with
    columns (event_id, event_type, d, v): see
    :func:`join_value_band_bucketed` for the recipe and the coverage
    argument. Factored out so tools/scaling_probe.py measures the SAME
    plan the registered query runs."""
    e = e.withColumn(
        "bk", F.floor(F.col("v") / F.lit(eps)).cast("long")
    )
    # Probe ±2 buckets, not ±1: the verify predicate compares against
    # the FLOAT values v_a ± ε, whose rounding can widen the real band
    # by up to half an ulp — enough to admit a pair whose buckets
    # differ by 2 when v_a sits within an ulp below a bucket boundary
    # and v_a + ε rounds up to exactly the next boundary (hypothesis
    # found va=-2.2e-313, vb=0.5: buckets -1 and +1). The widened band
    # is still strictly narrower than one extra bucket on each side, so
    # ±2 is provably lossless for the float-accepted pair set; each
    # accepted pair still matches exactly once (through b's own
    # bucket), so no dedup pass is needed either way.
    probe = e.withColumn(
        "pb",
        F.explode(
            F.array(
                F.col("bk") - F.lit(2),
                F.col("bk") - F.lit(1),
                F.col("bk"),
                F.col("bk") + F.lit(1),
                F.col("bk") + F.lit(2),
            )
        ),
    )
    a, b = probe.alias("a"), e.alias("b")
    return a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.d") == F.col("a.d"))
        & (F.col("b.bk") == F.col("a.pb"))
        & (F.col("b.event_id") > F.col("a.event_id"))
        & (F.col("b.v") >= F.col("a.v") - F.lit(eps))
        & (F.col("b.v") <= F.col("a.v") + F.lit(eps)),
    ).select(
        F.col("a.event_id").alias("id_a"),
        F.col("b.event_id").alias("id_b"),
        F.col("a.event_type").alias("event_type"),
        F.col("a.d").alias("day"),
        (F.col("b.v") - F.col("a.v")).alias("dv"),
    )


@query("join_value_band_bucketed", oracle=_BAND_JOIN_ORACLE)
def join_value_band_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ε-band range self-join via bucket decomposition: pairs of
    same-day same-type events whose values lie within ±0.5 of each
    other. The naive plan is a theta join (|v_b − v_a| ≤ ε inside the
    join condition → BroadcastNestedLoop or cartesian — dead at scale);
    this plan maps every value to bucket ⌊v/ε⌋ and probes the five
    covering buckets (b−2 … b+2) as an EQUI-join key alongside
    (event_type, day), then verifies the exact band predicate. Coverage
    is lossless for the float-accepted pair set: in real arithmetic
    |v_b − v_a| ≤ ε forces a bucket difference ≤ 1, and the half-ulp
    widening from evaluating v_a ± ε in IEEE doubles can push it to at
    most 2 (see band_self_join's comment — a hypothesis property test
    found the boundary case); each pair still matches through exactly
    one probe bucket (the build side's own), so no dedup pass is
    needed. At 100 TB this is THE band-join recipe — shuffle by
    (type, day, bucket), per-bucket fan-out a constant 5×, never a
    quadratic compare."""
    v = F.col("value")
    e = (
        load_table(spark, sf_dir, "events")
        .filter(~F.isnan(v) & ~v.isin(float("inf"), float("-inf")))
        .select(
            "event_id",
            "event_type",
            F.to_date("ts").alias("d"),
            v.alias("v"),
        )
    )
    return band_self_join(e, eps=0.5)

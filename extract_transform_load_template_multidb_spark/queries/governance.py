"""Warehouse-governance queries: SCD2 history and data-quality profiling,
oracle-checked.

The reference's loads overwrite history and validate nothing beyond a
record count; these queries expose :mod:`operators.scd` and
:mod:`operators.quality` on the fixture tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from extract_transform_load_template_multidb_spark.catalog import load_table
from extract_transform_load_template_multidb_spark.operators import (
    quality as dq,
)
from extract_transform_load_template_multidb_spark.operators import scd
from extract_transform_load_template_multidb_spark.queries import query
from extract_transform_load_template_multidb_spark.queries._util import (
    exact_percentiles,
)

_SCD2_ORACLE = """
WITH flagged AS (
    SELECT o_custkey, o_orderpriority, o_orderdate,
           CASE WHEN lag(o_orderpriority) OVER w IS NULL
                  OR lag(o_orderpriority) OVER w <> o_orderpriority
                THEN 1 ELSE 0 END AS chg
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderpriority)
),
runs AS (
    SELECT o_custkey, o_orderpriority, o_orderdate,
           SUM(chg) OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderpriority
                          RANGE UNBOUNDED PRECEDING) AS run
    FROM flagged
),
per_run AS (
    SELECT o_custkey, run,
           min(o_orderpriority) AS o_orderpriority,
           min(o_orderdate) AS valid_from
    FROM runs GROUP BY o_custkey, run
)
SELECT o_custkey, o_orderpriority, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       lead(valid_from) OVER w2 IS NULL AS is_current
FROM per_run
WINDOW w2 AS (PARTITION BY o_custkey ORDER BY valid_from, run)
"""


@query("scd2_priority_history", oracle=_SCD2_ORACLE)
def scd2_priority_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension built from the order history: one row per run
    of equal order priority per customer, with validity interval and
    current flag — the gaps-and-islands rewrite, one key shuffle."""
    return scd.scd2_from_history(
        load_table(spark, sf_dir, "orders"),
        key_col="o_custkey",
        attr_col="o_orderpriority",
        ts_col="o_orderdate",
    )


_SCD2_MERGE_ORACLE = """
WITH hist_src AS (
    SELECT * FROM orders WHERE o_orderdate < DATE '1997-01-01'
),
flagged AS (
    SELECT o_custkey, o_orderpriority, o_orderdate,
           CASE WHEN lag(o_orderpriority) OVER w IS NULL
                  OR lag(o_orderpriority) OVER w <> o_orderpriority
                THEN 1 ELSE 0 END AS chg
    FROM hist_src
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderpriority)
),
runs AS (
    SELECT o_custkey, o_orderpriority, o_orderdate,
           SUM(chg) OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderpriority
                          RANGE UNBOUNDED PRECEDING) AS run
    FROM flagged
),
per_run AS (
    SELECT o_custkey, run,
           min(o_orderpriority) AS o_orderpriority,
           min(o_orderdate) AS valid_from
    FROM runs GROUP BY o_custkey, run
),
target AS (
    SELECT o_custkey, o_orderpriority, valid_from,
           lead(valid_from) OVER w2 AS valid_to,
           lead(valid_from) OVER w2 IS NULL AS is_current
    FROM per_run
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY valid_from, run)
),
snap AS (
    SELECT o_custkey, o_orderpriority AS new_attr
    FROM (SELECT o_custkey, o_orderpriority,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC,
                                             o_orderkey DESC) AS rn
          FROM orders WHERE o_orderdate >= DATE '1997-01-01')
    WHERE rn = 1
),
cur AS (SELECT * FROM target WHERE is_current),
j AS (
    SELECT c.o_custkey, c.o_orderpriority, c.valid_from, c.valid_to,
           c.is_current, s.new_attr,
           s.o_custkey IS NOT NULL AS present
    FROM cur c LEFT JOIN snap s ON s.o_custkey = c.o_custkey
)
SELECT o_custkey, o_orderpriority, valid_from, valid_to, is_current
FROM target WHERE NOT is_current
UNION ALL
SELECT o_custkey, o_orderpriority, valid_from, valid_to, is_current
FROM j WHERE NOT (present AND (new_attr IS DISTINCT FROM o_orderpriority))
UNION ALL
SELECT o_custkey, o_orderpriority, valid_from,
       DATE '1998-01-01', FALSE
FROM j WHERE present AND (new_attr IS DISTINCT FROM o_orderpriority)
UNION ALL
SELECT o_custkey, new_attr, DATE '1998-01-01', CAST(NULL AS DATE), TRUE
FROM j WHERE present AND (new_attr IS DISTINCT FROM o_orderpriority)
UNION ALL
SELECT s.o_custkey, s.new_attr, DATE '1998-01-01', CAST(NULL AS DATE), TRUE
FROM snap s
WHERE s.o_custkey NOT IN (SELECT o_custkey FROM target)
"""


@query("scd2_merge_snapshot", oracle=_SCD2_MERGE_ORACLE)
def scd2_merge_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply a full-snapshot refresh to an SCD2 dimension (the reference's
    overwrite-style reload, W7 analogue, made history-preserving): the
    target is the priority history built from pre-1997 orders; the
    snapshot is each customer's latest 1997+ priority. Changed keys get
    their current row closed at the snapshot date and a new open row;
    new keys open; unchanged and historical rows pass through — unions of
    narrow key joins, no row-wise MERGE loop."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("date")
    target = scd.scd2_from_history(
        orders.filter(F.col("o_orderdate") < cut),
        key_col="o_custkey",
        attr_col="o_orderpriority",
        ts_col="o_orderdate",
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    snapshot = (
        orders.filter(F.col("o_orderdate") >= cut)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("o_custkey", "o_orderpriority")
    )
    return scd.scd2_merge(
        target,
        snapshot,
        key_col="o_custkey",
        attr_col="o_orderpriority",
        snapshot_ts=F.lit("1998-01-01").cast("date"),
    )


_DQ_NULLS_ORACLE = """
SELECT 'user_id' AS "column",
       count(CASE WHEN user_id IS NULL THEN 1 END) AS n_null,
       CAST(0 AS BIGINT) AS n_nan, CAST(0 AS BIGINT) AS n_inf
FROM events
UNION ALL
SELECT 'event_type',
       count(CASE WHEN event_type IS NULL THEN 1 END),
       CAST(0 AS BIGINT), CAST(0 AS BIGINT)
FROM events
UNION ALL
SELECT 'value',
       count(CASE WHEN value IS NULL THEN 1 END),
       count(CASE WHEN isnan(value) THEN 1 END),
       count(CASE WHEN NOT isnan(value) AND isinf(value) THEN 1 END)
FROM events
"""


@query("dq_null_profile_events", oracle=_DQ_NULLS_ORACLE)
def dq_null_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column null/NaN/±inf profile of ``events`` in ONE scan (a
    single wide aggregate unpivoted with ``stack`` — never a job per
    column)."""
    return dq.null_profile(
        load_table(spark, sf_dir, "events"),
        ["user_id", "event_type", "value"],
    )


_DQ_FK_ORACLE = """
SELECT count(*) AS n_orphans
FROM events e
WHERE e.user_id IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
"""


@query("dq_fk_orphans", oracle=_DQ_FK_ORACLE)
def dq_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential integrity: events whose user has no customer row
    (left-anti join, then a 1-row count)."""
    return dq.fk_violation_count(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
        child_key="user_id",
        parent_key="c_custkey",
    )


_DQ_DUPS_ORACLE = """
WITH g AS (
    SELECT user_id, event_type, count(*) AS n
    FROM events GROUP BY user_id, event_type
    HAVING count(*) > 1
)
SELECT count(*) AS n_dup_groups,
       CAST(coalesce(SUM(n - 1), 0) AS BIGINT) AS n_extra_rows
FROM g
"""


@query("dq_dup_keys", oracle=_DQ_DUPS_ORACLE)
def dq_dup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-key audit on (user_id, event_type): how many key groups
    collide and how many rows strict dedup would drop."""
    return dq.dup_key_count(
        load_table(spark, sf_dir, "events"), ["user_id", "event_type"]
    )


# ---------------------------------------------------------------------------
# Snapshot reconciliation (round 5)
# ---------------------------------------------------------------------------

# Deterministic synthetic "new version" of orders: every 100th key dropped,
# every 97th gets a +1.0 price, every 89th key re-appears shifted into a
# key range above the original maximum (an insert).
_DIFF_ORACLE = """
WITH old_v AS (
    SELECT o_orderkey, o_totalprice FROM orders
),
new_v AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 100 <> 0
    UNION ALL
    SELECT o_orderkey + 100000000, o_totalprice
    FROM orders WHERE o_orderkey % 89 = 0
),
j AS (
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS k,
           CASE WHEN o.o_orderkey IS NULL THEN 'added'
                WHEN n.o_orderkey IS NULL THEN 'removed'
                WHEN o.o_totalprice = n.o_totalprice THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM old_v o FULL OUTER JOIN new_v n USING (o_orderkey)
)
SELECT status, CAST(count(*) AS BIGINT) AS n_rows
FROM j GROUP BY status
"""


@query("dq_table_diff", oracle=_DIFF_ORACLE)
def dq_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation summary (added/removed/changed/unchanged
    counts) between the orders table and a deterministically mutated
    "new version" — one co-partitioned full outer join, null-safe value
    compare (operators/quality.py:table_diff); the pre-cutover check for
    any pipeline rewrite."""
    old = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    new = (
        old.filter(F.col("o_orderkey") % 100 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 97 == 0, F.col("o_totalprice") + 1.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 89 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "o_totalprice",
            )
        )
    )
    return dq.table_diff(
        old, new, keys=("o_orderkey",), compare_cols=("o_totalprice",)
    )


# ---------------------------------------------------------------------------
# One-pass numeric profile (round 5)
# ---------------------------------------------------------------------------

# Clean = finite, non-null. Moments route through DECIMAL(38,6): the
# fixture's 2-decimal values square to ≤4 decimals, so sum and sum-of-
# squares are exact and associative on both engines; mean/std are then
# fixed-order float expressions over identical exact inputs.
_NUM_PROFILE_ORACLE = """
WITH s AS (
    SELECT
        count(*) AS n_rows,
        count(CASE WHEN value IS NULL THEN 1 END) AS v_null,
        count(CASE WHEN isnan(value) OR NOT isfinite(value) THEN 1 END)
            AS v_bad,
        count(CASE WHEN value IS NOT NULL AND isfinite(value) THEN 1 END)
            AS v_n,
        min(CASE WHEN isfinite(value) THEN value END) AS v_min,
        max(CASE WHEN isfinite(value) THEN value END) AS v_max,
        CAST(SUM(CAST(CASE WHEN isfinite(value) THEN value END
                 AS DECIMAL(38,6))) AS DOUBLE) AS v_sum,
        CAST(SUM(CAST(CASE WHEN isfinite(value) THEN value * value END
                 AS DECIMAL(38,6))) AS DOUBLE) AS v_sumsq,
        count(CASE WHEN user_id IS NULL THEN 1 END) AS u_null,
        count(user_id) AS u_n,
        CAST(min(user_id) AS DOUBLE) AS u_min,
        CAST(max(user_id) AS DOUBLE) AS u_max,
        CAST(SUM(CAST(user_id AS DECIMAL(38,6))) AS DOUBLE) AS u_sum,
        CAST(SUM(CAST(CAST(user_id AS DOUBLE) * user_id
                 AS DECIMAL(38,6))) AS DOUBLE) AS u_sumsq
    FROM events
)
SELECT 'value' AS col_name,
       CAST(v_n AS BIGINT) AS n_clean,
       CAST(v_null AS BIGINT) AS n_null,
       CAST(v_bad AS BIGINT) AS n_nonfinite,
       v_min AS min_val, v_max AS max_val,
       v_sum / v_n AS mean_val,
       sqrt((v_sumsq - v_sum * v_sum / v_n) / (v_n - 1)) AS std_val
FROM s
UNION ALL
SELECT 'user_id',
       CAST(u_n AS BIGINT), CAST(u_null AS BIGINT), CAST(0 AS BIGINT),
       u_min, u_max,
       u_sum / u_n,
       sqrt((u_sumsq - u_sum * u_sum / u_n) / (u_n - 1))
FROM s
"""


@query("dq_numeric_profile_events", oracle=_NUM_PROFILE_ORACLE)
def dq_numeric_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass numeric profile (count/null/non-finite/min/max/mean/std
    per column) — one scan, one aggregate, unpivoted to a row per column;
    moments are decimal-routed so the stats are bit-reproducible."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    clean = F.when(~F.isnan(v) & ~v.isin(float("inf"), float("-inf")), v)
    u = F.col("user_id")
    s = ev.agg(
        F.count(F.when(v.isNull(), 1)).alias("v_null"),
        F.count(F.when(F.isnan(v) | v.isin(float("inf"), float("-inf")), 1))
        .alias("v_bad"),
        F.count(clean).alias("v_n"),
        F.min(clean).alias("v_min"),
        F.max(clean).alias("v_max"),
        F.sum(clean.cast("decimal(38,6)")).cast("double").alias("v_sum"),
        F.sum((clean * v).cast("decimal(38,6)"))
        .cast("double")
        .alias("v_sumsq"),
        F.count(F.when(u.isNull(), 1)).alias("u_null"),
        F.count(u).alias("u_n"),
        F.min(u).cast("double").alias("u_min"),
        F.max(u).cast("double").alias("u_max"),
        F.sum(u.cast("decimal(38,6)")).cast("double").alias("u_sum"),
        F.sum((u.cast("double") * u).cast("decimal(38,6)"))
        .cast("double")
        .alias("u_sumsq"),
    )
    return s.selectExpr(
        """stack(2,
            'value', CAST(v_n AS BIGINT), CAST(v_null AS BIGINT),
                CAST(v_bad AS BIGINT), v_min, v_max,
                v_sum / v_n,
                sqrt((v_sumsq - v_sum * v_sum / v_n) / (v_n - 1)),
            'user_id', CAST(u_n AS BIGINT), CAST(u_null AS BIGINT),
                CAST(0 AS BIGINT), u_min, u_max,
                u_sum / u_n,
                sqrt((u_sumsq - u_sum * u_sum / u_n) / (u_n - 1))
        ) AS (col_name, n_clean, n_null, n_nonfinite, min_val, max_val,
              mean_val, std_val)"""
    )


# ---------------------------------------------------------------------------
# Equi-width value histogram (round 5)
# ---------------------------------------------------------------------------

# Bucket arithmetic is the same fixed-order IEEE double expression on
# both engines over identical exact inputs (min/max of stored doubles),
# so bucket ids and edges hash identically.
_HISTOGRAM_ORACLE = """
WITH finite AS (
    SELECT event_type, value FROM events
    WHERE value IS NOT NULL AND isfinite(value) AND NOT isnan(value)
),
b AS (SELECT min(value) AS vmin, max(value) AS vmax FROM finite),
assigned AS (
    SELECT event_type,
           least(CAST(floor((value - vmin) / ((vmax - vmin) / 20))
                      AS BIGINT), 19) AS bucket,
           vmin, vmax
    FROM finite, b
)
SELECT event_type, bucket,
       vmin + bucket * ((vmax - vmin) / 20) AS lo,
       vmin + (bucket + 1) * ((vmax - vmin) / 20) AS hi,
       COUNT(*) AS cnt
FROM assigned
GROUP BY event_type, bucket, vmin, vmax
"""


@query("dq_value_histogram", oracle=_HISTOGRAM_ORACLE)
def dq_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram of finite ``events.value`` per
    event type — the profiling primitive behind data-drift dashboards.

    Two passes by construction (a histogram needs global bounds): pass 1
    is a tiny min/max aggregate broadcast back as a 1-row literal join;
    pass 2 assigns buckets in a narrow map and counts map-side before the
    one shuffle. The top bucket is closed (``least(..., 19)``) so
    value == max lands in bucket 19, matching the oracle."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    finite = ev.filter(
        v.isNotNull() & ~F.isnan(v) & (F.abs(v) != float("inf"))
    ).select("event_type", "value")
    bounds = finite.agg(
        F.min(v).alias("vmin"), F.max(v).alias("vmax")
    )
    width = (F.col("vmax") - F.col("vmin")) / F.lit(20)
    assigned = finite.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.least(
            F.floor((v - F.col("vmin")) / width).cast("long"), F.lit(19)
        ).alias("bucket"),
        "vmin",
        "vmax",
    )
    return (
        assigned.groupBy("event_type", "bucket", "vmin", "vmax")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "event_type",
            "bucket",
            (F.col("vmin") + F.col("bucket") * width).alias("lo"),
            (F.col("vmin") + (F.col("bucket") + 1) * width).alias("hi"),
            "cnt",
        )
    )


# ---------------------------------------------------------------------------
# Benford first-digit profile (round 5)
# ---------------------------------------------------------------------------

# First digit from the INTEGER part formatted as BIGINT text (float
# formatting differs across engines; integer formatting does not).
_BENFORD_ORACLE = """
WITH digits AS (
    SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
               AS digit
    FROM orders WHERE o_totalprice >= 1
),
counts AS (SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit),
total AS (SELECT COUNT(*) AS t FROM digits)
SELECT c.digit, c.n,
       CAST(c.n AS DOUBLE) / t.t AS observed_p,
       round(ln(1 + CAST(1 AS DOUBLE) / CAST(c.digit AS BIGINT))
             / ln(CAST(10 AS DOUBLE)), 6) AS benford_p
FROM counts c CROSS JOIN total t
"""


@query("dq_benford_first_digit", oracle=_BENFORD_ORACLE)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit profile of order totals — the
    fabricated-numbers detector: naturally occurring amounts follow
    log10(1+1/d); synthetic/fraudulent ones usually don't. One
    map-side-combinable count over a narrow digit projection; the
    expected proportions are round(ln,6)-quantized so both engines emit
    identical doubles."""
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
        ).alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    total = digits.agg(F.count(F.lit(1)).alias("t"))
    return counts.join(F.broadcast(total)).select(
        "digit",
        "n",
        (F.col("n").cast("double") / F.col("t")).alias("observed_p"),
        F.round(
            F.log(1 + F.lit(1.0) / F.col("digit").cast("long"))
            / F.log(F.lit(10.0)),
            6,
        ).alias("benford_p"),
    )


_IQR_ORACLE = """
WITH finite AS (
    SELECT event_type, value FROM events
    WHERE NOT isnan(value) AND NOT isinf(value)
),
fences AS (
    SELECT event_type,
           quantile_cont(value, 0.25) AS q1,
           quantile_cont(value, 0.75) AS q3
    FROM finite GROUP BY event_type
)
SELECT f.event_type,
       any_value(q1) AS q1,
       any_value(q3) AS q3,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN f.value < q1 - 1.5 * (q3 - q1)
                       OR f.value > q3 + 1.5 * (q3 - q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM finite f JOIN fences USING (event_type)
GROUP BY f.event_type
"""


@query("dq_outlier_iqr", oracle=_IQR_ORACLE)
def dq_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit: per-group exact quartiles, then count
    values outside [q1 − 1.5·IQR, q3 + 1.5·IQR]. Two passes over one
    narrow projection; the per-group fence table is broadcast back onto
    the stream (5 groups — never a shuffle of the fact side). The fences
    come from Spark's exact interpolated ``percentile``, which matches
    DuckDB ``quantile_cont`` bit-for-bit; at 100 TB swap in
    ``approx_percentile`` (t-digest) and keep the same plan shape."""
    ev = load_table(spark, sf_dir, "events")
    finite = ev.where(
        ~F.isnan("value")
        & ~F.col("value").isin(float("inf"), float("-inf"))
    ).select("event_type", "value")
    # Exact quartiles via the distributed running-count selector — no
    # per-group value buffer on a single reducer (the 100×-scale
    # hazard of the F.percentile aggregate); identical interpolation.
    fences = exact_percentiles(
        finite, ["event_type"], "value", {"q1": 0.25, "q3": 0.75}
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        finite.join(F.broadcast(fences), "event_type")
        .groupBy("event_type")
        .agg(
            F.any_value("q1").alias("q1"),
            F.any_value("q3").alias("q3"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    (F.col("value") < lo) | (F.col("value") > hi), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


_CHECKSUM_ORACLE = """
WITH h AS (
    SELECT CAST(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               coalesce(CAST(o_custkey AS VARCHAR), '') || '|' ||
               coalesce(o_orderstatus, '') || '|' ||
               coalesce(CAST(CAST(o_totalprice AS DECIMAL(18,2))
                              AS VARCHAR), '') || '|' ||
               coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), '')
                   || '|' ||
               coalesce(o_orderpriority, '')
           ), 1, 12)) AS BIGINT) AS rh
    FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(rh AS DECIMAL(38,0))) % 9223372036854775807
            AS BIGINT) AS checksum_sum,
       CAST(min(rh) AS BIGINT) AS checksum_min,
       CAST(max(rh) AS BIGINT) AS checksum_max
FROM h
"""


@query("dq_table_checksum", oracle=_CHECKSUM_ORACLE)
def dq_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent whole-table checksum: per-row md5 over a
    canonical '|'-joined projection, truncated to 48 bits and
    DECIMAL(38,0)-SUM-folded mod 2^63−1 (overflow-free at any table
    size, bigint on the wire)
    (commutative — partition order, file order, and parallelism cannot
    change it) plus min/max witnesses. The cross-system reconciliation
    primitive: run the same digest on source and target after a
    migration and compare ONE row — floats are digested via a fixed
    DECIMAL(18,2) rendering and timestamps via DATE so the canonical
    string is engine-independent; the reference's record-count check
    (C5, reference ``Template-to-MySQL/BigQuery-to-MySQL-Method-1.py:86``)
    upgraded to content equality. Engine-portable by construction (md5 +
    integer sum, no xxhash64 — DuckDB lacks Spark's seed); one narrow
    map + one scalar aggregate, no shuffle beyond the final reduce."""
    o = load_table(spark, sf_dir, "orders")

    def s(c: str) -> F.Column:
        return F.coalesce(F.col(c).cast("string"), F.lit(""))

    row = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        s("o_custkey"),
        s("o_orderstatus"),
        F.coalesce(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
            F.lit(""),
        ),
        F.coalesce(
            F.col("o_orderdate").cast("date").cast("string"), F.lit("")
        ),
        s("o_orderpriority"),
    )
    rh = F.conv(F.substring(F.md5(row), 1, 12), 16, 10).cast("long")
    return o.select(rh.alias("rh")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.sum(F.col("rh").cast("decimal(38,0)"))
            % F.lit(9223372036854775807)
        )
        .cast("long")
        .alias("checksum_sum"),
        F.min("rh").cast("long").alias("checksum_min"),
        F.max("rh").cast("long").alias("checksum_max"),
    )


_MAD_ORACLE = """
WITH finite AS (
    SELECT event_type, value FROM events
    WHERE NOT isnan(value) AND NOT isinf(value)
),
med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM finite GROUP BY event_type
)
SELECT f.event_type,
       any_value(m.med) AS median_val,
       quantile_cont(abs(f.value - m.med), 0.5) AS mad,
       CAST(COUNT(*) AS BIGINT) AS n
FROM finite f JOIN med m USING (event_type)
GROUP BY f.event_type
"""


@query("dq_mad_robust_spread", oracle=_MAD_ORACLE)
def dq_mad_robust_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust spread measure
    that, unlike stddev, one corrupted sensor spike cannot poison (the
    robust-z cousin of dq_outlier_iqr). Two exact-percentile passes: the
    5-row per-group median table broadcasts back onto the stream, then a
    second interpolated percentile over the absolute residuals; at 100 TB
    both swap to approx_percentile with the same shape."""
    ev = load_table(spark, sf_dir, "events")
    finite = ev.where(
        ~F.isnan("value")
        & ~F.col("value").isin(float("inf"), float("-inf"))
    ).select("event_type", "value")
    # Both medians via the distributed running-count selector (the
    # F.percentile aggregate is a one-reducer value buffer per group —
    # the 100×-scale hazard): first the per-group median, broadcast
    # back; then the median of absolute residuals, whose selector pass
    # also carries n. The tiny grouped frames join broadcast.
    med = exact_percentiles(
        finite, ["event_type"], "value", {"med": 0.5}
    )
    resid = finite.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("r"),
    )
    mad = exact_percentiles(
        resid, ["event_type"], "r", {"mad": 0.5}, extras={"n": "n"}
    ).withColumnRenamed("event_type", "m_type")
    return med.join(
        F.broadcast(mad), med.event_type == mad.m_type
    ).select(
        "event_type",
        F.col("med").alias("median_val"),
        "mad",
        "n",
    )


@query(
    "join_scd2_point_in_time",
    oracle=(
        "WITH hist AS ("
        + _SCD2_ORACLE
        + """)
SELECT o.o_orderkey, o.o_orderdate,
       h.o_custkey AS custkey,
       h.o_orderpriority AS priority_at_order,
       h.valid_from
FROM orders o
JOIN hist h
  ON h.o_custkey = o.o_custkey
 AND h.valid_from <= o.o_orderdate
 AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
"""
    ),
)
def join_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join against an SCD2 dimension: each order picks up
    the priority run VALID AT its own order date (valid_from ≤ d <
    valid_to, open-ended current rows) — the temporal-correctness join
    every feature store and audited warehouse needs, where joining the
    CURRENT dimension row silently leaks the future into history. The
    history is equi-joined on the key (one shuffle) and the validity
    interval is a residual row-local predicate — never a range-join
    explosion, because runs per key are few and non-overlapping by
    construction."""
    orders = load_table(spark, sf_dir, "orders")
    hist = scd.scd2_from_history(
        orders,
        key_col="o_custkey",
        attr_col="o_orderpriority",
        ts_col="o_orderdate",
    ).select(
        F.col("o_custkey").alias("h_custkey"),
        F.col("o_orderpriority").alias("priority_at_order"),
        "valid_from",
        "valid_to",
    )
    return (
        orders.join(
            hist,
            (F.col("h_custkey") == F.col("o_custkey"))
            & (F.col("valid_from") <= F.col("o_orderdate"))
            & (
                F.col("valid_to").isNull()
                | (F.col("o_orderdate") < F.col("valid_to"))
            ),
        )
        .select(
            "o_orderkey",
            "o_orderdate",
            F.col("h_custkey").alias("custkey"),
            "priority_at_order",
            "valid_from",
        )
    )


_MISSING_HOURS_ORACLE = """
WITH present AS (
    SELECT DISTINCT date_trunc('hour', ts) AS h
    FROM events WHERE event_type = 'signup'
),
bounds AS (SELECT min(h) AS lo, max(h) AS hi FROM present),
spine AS (
    SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
    FROM bounds
)
SELECT s.h AS missing_hour
FROM spine s LEFT JOIN present p USING (h)
WHERE p.h IS NULL
"""


@query("dq_missing_hours", oracle=_MISSING_HOURS_ORACLE)
def dq_missing_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-gap detection: hours between the first and last signup
    with NO signup event — the backfill worklist a late-arriving-data
    monitor emits (a silent upstream outage shows up here before any
    aggregate looks wrong). Dense calendar spine via sequence+explode
    against the distinct present hours; anti-join semantics via left
    join + null filter. The spine is #hours rows — never corpus-scale."""
    ev = load_table(spark, sf_dir, "events")
    present = (
        ev.where(F.col("event_type") == "signup")
        .select(F.date_trunc("hour", F.col("ts")).alias("h"))
        .distinct()
    )
    bounds = present.agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    return spine.join(present, "h", "left_anti").select(
        F.col("h").alias("missing_hour")
    )


_FRESHNESS_ORACLE = """
WITH per_type AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           max(ts) AS high_watermark
    FROM events GROUP BY event_type
),
g AS (SELECT max(high_watermark) AS global_hwm FROM per_type)
SELECT event_type, n_events, high_watermark,
       CAST(epoch_us(global_hwm) - epoch_us(high_watermark) AS BIGINT)
           AS freshness_lag_us
FROM per_type, g
"""


@query("dq_freshness_watermarks", oracle=_FRESHNESS_ORACLE)
def dq_freshness_watermarks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream freshness: each event type's high watermark and its lag
    behind the freshest stream — the staleness panel an ingestion
    dashboard shows (a pipeline stuck for hours surfaces here first,
    in exact microseconds). One map-side-combinable aggregate + a
    broadcast 1-row global watermark."""
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("high_watermark"),
    )
    g = per_type.agg(F.max("high_watermark").alias("global_hwm"))
    return per_type.crossJoin(F.broadcast(g)).select(
        "event_type",
        "n_events",
        "high_watermark",
        (
            F.unix_micros("global_hwm") - F.unix_micros("high_watermark")
        ).cast("long").alias("freshness_lag_us"),
    )


_RULES_ORACLE = """
SELECT 'o_totalprice_positive' AS rule,
       CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0
                                OR o_totalprice IS NULL) AS BIGINT)
           AS n_violations,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders
UNION ALL
SELECT 'o_orderstatus_in_domain',
       CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P')
                                OR o_orderstatus IS NULL) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_orderdate_in_range',
       CAST(COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1990-01-01'
                                OR o_orderdate >= TIMESTAMP '2035-01-01'
                                OR o_orderdate IS NULL) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM orders
UNION ALL
SELECT 'o_custkey_not_null',
       CAST(COUNT(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT),
       CAST(COUNT(*) AS BIGINT)
FROM orders
"""


@query("dq_rule_violations", oracle=_RULES_ORACLE)
def dq_rule_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality rule audit (the dbt-tests / Great-
    Expectations shape): a rule set evaluates in ONE scan — every rule is
    a conditional count in the same aggregate, unpivoted to a row per
    rule with violation and total counts. Adding a rule adds a column to
    the aggregate, never a scan; NULL counts as a violation of the rule
    it breaks, not a skipped row."""
    o = load_table(spark, sf_dir, "orders")
    tp, st, od, ck = (
        F.col("o_totalprice"),
        F.col("o_orderstatus"),
        F.col("o_orderdate"),
        F.col("o_custkey"),
    )
    agg = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when((tp <= 0) | tp.isNull(), 1)).alias("v_price"),
        F.count(
            F.when(~st.isin("O", "F", "P") | st.isNull(), 1)
        ).alias("v_status"),
        F.count(
            F.when(
                (od < F.lit("1990-01-01").cast("timestamp"))
                | (od >= F.lit("2035-01-01").cast("timestamp"))
                | od.isNull(),
                1,
            )
        ).alias("v_date"),
        F.count(F.when(ck.isNull(), 1)).alias("v_custkey"),
    )
    rules = [
        ("o_totalprice_positive", "v_price"),
        ("o_orderstatus_in_domain", "v_status"),
        ("o_orderdate_in_range", "v_date"),
        ("o_custkey_not_null", "v_custkey"),
    ]
    return agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("rule"),
                        F.col(col).alias("n_violations"),
                        F.col("n_rows").alias("n_rows"),
                    )
                    for name, col in rules
                ]
            )
        ).alias("r")
    ).select("r.rule", "r.n_violations", "r.n_rows")


_RECON_ORACLE = """
WITH li AS (
    SELECT l_orderkey,
           SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                    AS DECIMAL(38,6))) AS computed
    FROM lineitem GROUP BY l_orderkey
),
j AS (
    SELECT o.o_orderkey,
           abs(CAST(o.o_totalprice AS DECIMAL(38,6))
               - coalesce(li.computed, CAST(0 AS DECIMAL(38,6))))
               AS adiff
    FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) FILTER (WHERE adiff > 1.0) AS BIGINT)
           AS n_mismatched,
       CAST(max(adiff) AS DOUBLE) AS max_abs_diff
FROM j
"""


@query("dq_order_total_reconciliation", oracle=_RECON_ORACLE)
def dq_order_total_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-table business-rule reconciliation: does each order header's
    total equal the sum of its lines' extended price with discount and
    tax applied? The invariant check a finance pipeline runs nightly;
    here it also measures how far the synthetic fixture deviates from
    the TPC-H pricing identity. Per-order decimal sums (exact), decimal
    absolute differences, count beyond a 1.00 tolerance — headerless
    orders compare against zero rather than vanishing from the audit."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    computed = li.groupBy("l_orderkey").agg(
        F.sum(
            (
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).cast("decimal(38,6)")
        ).alias("computed")
    )
    j = orders.join(
        computed, F.col("l_orderkey") == F.col("o_orderkey"), "left"
    ).select(
        F.abs(
            F.col("o_totalprice").cast("decimal(38,6)")
            - F.coalesce(
                F.col("computed"), F.lit(0).cast("decimal(38,6)")
            )
        ).alias("adiff")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("adiff") > 1.0, 1))
        .cast("long")
        .alias("n_mismatched"),
        F.max("adiff").cast("double").alias("max_abs_diff"),
    )


_DRIFT_ORACLE = """
WITH marked AS (
    SELECT event_type,
           CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'a' ELSE 'b' END
               AS half
    FROM events
),
counts AS (
    SELECT event_type,
           CAST(COUNT(*) FILTER (WHERE half = 'a') AS BIGINT) AS n_a,
           CAST(COUNT(*) FILTER (WHERE half = 'b') AS BIGINT) AS n_b
    FROM marked GROUP BY event_type
),
tot AS (SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM counts)
SELECT CAST(SUM(n_a) AS BIGINT) AS n_first_half,
       CAST(SUM(n_b) AS BIGINT) AS n_second_half,
       0.5 * CAST(SUM(CAST(round(abs(
                 CAST(n_a AS DOUBLE) / t.ta
                 - CAST(n_b AS DOUBLE) / t.tb), 6)
             AS DECIMAL(38,6))) AS DOUBLE) AS total_variation_distance
FROM counts, tot t
GROUP BY t.ta, t.tb
"""


@query("dq_distribution_drift", oracle=_DRIFT_ORACLE)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical drift detection: total variation distance between the
    event-type mix of the window's first and second halves — the
    one-number alarm that a traffic mix shifted (new client rollout,
    broken emitter) before any single count looks anomalous. Per-type
    share deltas quantize to 6 decimals then decimal-sum (order
    independent); fixed midpoint split keeps the oracle deterministic."""
    ev = load_table(spark, sf_dir, "events")
    half = F.when(
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "a"
    ).otherwise("b")
    counts = ev.select("event_type", half.alias("half")).groupBy(
        "event_type"
    ).agg(
        F.count(F.when(F.col("half") == "a", 1)).alias("n_a"),
        F.count(F.when(F.col("half") == "b", 1)).alias("n_b"),
    )
    tot = counts.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    withtot = counts.crossJoin(F.broadcast(tot))
    term = F.round(
        F.abs(
            F.col("n_a").cast("double") / F.col("ta")
            - F.col("n_b").cast("double") / F.col("tb")
        ),
        6,
    ).cast("decimal(38,6)")
    return withtot.groupBy("ta", "tb").agg(
        F.sum("n_a").cast("long").alias("n_first_half"),
        F.sum("n_b").cast("long").alias("n_second_half"),
        (0.5 * F.sum(term).cast("double")).alias(
            "total_variation_distance"
        ),
    ).drop("ta", "tb")


_JOIN_COVERAGE_ORACLE = """
SELECT 'lineitem->orders' AS fk_edge,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_matched,
       CAST(COUNT(o.o_orderkey) AS DOUBLE) / COUNT(*) AS coverage
FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
UNION ALL
SELECT 'orders->customer',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(c.c_custkey) AS BIGINT),
       CAST(COUNT(c.c_custkey) AS DOUBLE) / COUNT(*)
FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
UNION ALL
SELECT 'customer->nation',
       CAST(COUNT(*) AS BIGINT),
       CAST(COUNT(n.n_nationkey) AS BIGINT),
       CAST(COUNT(n.n_nationkey) AS DOUBLE) / COUNT(*)
FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
"""


@query("dq_join_coverage", oracle=_JOIN_COVERAGE_ORACLE)
def dq_join_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-coverage panel: for each FK edge of the star schema,
    what fraction of child rows find their parent — the metric that
    catches a partially-loaded dimension BEFORE every downstream join
    silently drops facts (inner joins hide this; the left-join count
    measures it). Three broadcast-dimension left joins, one row each;
    dq_fk_orphans lists the offenders, this reports the rates."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def edge(name, child, parent, ck, pk):
        j = child.join(
            F.broadcast(parent.select(pk)),
            F.col(pk) == F.col(ck),
            "left",
        )
        return j.agg(
            F.lit(name).alias("fk_edge"),
            F.count(F.lit(1)).alias("n_rows"),
            F.count(pk).alias("n_matched"),
            (F.count(pk).cast("double") / F.count(F.lit(1))).alias(
                "coverage"
            ),
        )

    return (
        edge("lineitem->orders", li, orders, "l_orderkey", "o_orderkey")
        .unionByName(
            edge("orders->customer", orders, customer,
                 "o_custkey", "c_custkey")
        )
        .unionByName(
            edge("customer->nation", customer, nation,
                 "c_nationkey", "n_nationkey")
        )
    )


_SAMPLE_BIAS_ORACLE = """
WITH marked AS (
    SELECT event_type,
           CASE WHEN CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                          1, 8)) AS BIGINT) % 10 = 0
                THEN 1 ELSE 0 END AS in_sample
    FROM events
),
counts AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_full,
           CAST(SUM(in_sample) AS BIGINT) AS n_sample
    FROM marked GROUP BY event_type
),
tot AS (SELECT SUM(n_full) AS tf, SUM(n_sample) AS ts FROM counts)
SELECT CAST(SUM(n_full) AS BIGINT) AS n_full,
       CAST(SUM(n_sample) AS BIGINT) AS n_sample,
       0.5 * CAST(SUM(CAST(round(abs(
             CAST(n_sample AS DOUBLE) / t.ts
             - CAST(n_full AS DOUBLE) / t.tf), 6)
           AS DECIMAL(38,6))) AS DOUBLE) AS sample_bias_tvd
FROM counts, tot t
GROUP BY t.tf, t.ts
"""


@query("dq_sample_bias_audit", oracle=_SAMPLE_BIAS_ORACLE)
def dq_sample_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-soundness audit: total variation distance between the
    event-type mix of the deterministic 10% md5-hash sample and the full
    table — the check that says a hash sample is safe to profile on
    (a biased sample silently poisons every downstream estimate). Same
    quantized-TVD machinery as the drift monitor, applied
    sample-vs-population; one scan computes both sides."""
    ev = load_table(spark, sf_dir, "events")
    in_sample = F.when(
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 8),
            16,
            10,
        ).cast("long")
        % 10
        == 0,
        1,
    ).otherwise(0)
    counts = ev.select(
        "event_type", in_sample.alias("in_sample")
    ).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_full"),
        F.sum("in_sample").alias("n_sample"),
    )
    tot = counts.agg(
        F.sum("n_full").alias("tf"), F.sum("n_sample").alias("ts")
    )
    withtot = counts.crossJoin(F.broadcast(tot))
    term = F.round(
        F.abs(
            F.col("n_sample").cast("double") / F.col("ts")
            - F.col("n_full").cast("double") / F.col("tf")
        ),
        6,
    ).cast("decimal(38,6)")
    return withtot.groupBy("tf", "ts").agg(
        F.sum("n_full").cast("long").alias("n_full"),
        F.sum("n_sample").cast("long").alias("n_sample"),
        (0.5 * F.sum(term).cast("double")).alias("sample_bias_tvd"),
    ).drop("tf", "ts")


_CARDINALITY_ORACLE = """
WITH s AS (
    SELECT o_orderstatus AS v FROM orders
),
sc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM s GROUP BY v),
p AS (
    SELECT o_orderpriority AS v FROM orders
),
pc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM p GROUP BY v)
SELECT 'o_orderstatus' AS col_name,
       CAST((SELECT COUNT(*) FROM sc) AS BIGINT) AS n_distinct,
       (SELECT v FROM sc ORDER BY c DESC, v LIMIT 1) AS top_value,
       (SELECT c FROM sc ORDER BY c DESC, v LIMIT 1) AS top_count
UNION ALL
SELECT 'o_orderpriority',
       CAST((SELECT COUNT(*) FROM pc) AS BIGINT),
       (SELECT v FROM pc ORDER BY c DESC, v LIMIT 1),
       (SELECT c FROM pc ORDER BY c DESC, v LIMIT 1)
"""


@query("dq_column_cardinality_profile", oracle=_CARDINALITY_ORACLE)
def dq_column_cardinality_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Column cardinality profile: distinct count plus the modal value
    and its frequency per categorical column — the catalog metadata that
    drives encoding choices (dictionary vs plain), broadcast-join
    eligibility, and skew warnings. Ties on the mode break to the
    smallest value so the profile is deterministic; one aggregation per
    column, unioned into a catalog-shaped table."""
    o = load_table(spark, sf_dir, "orders")

    def profile(col: str) -> DataFrame:
        counts = o.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        top = counts.orderBy(F.col("c").desc(), F.col("v")).limit(1)
        nd = counts.agg(F.count(F.lit(1)).alias("n_distinct"))
        return nd.crossJoin(top).select(
            F.lit(col).alias("col_name"),
            "n_distinct",
            F.col("v").alias("top_value"),
            F.col("c").alias("top_count"),
        )

    return profile("o_orderstatus").unionByName(
        profile("o_orderpriority")
    )


_NORM_COLLISION_ORACLE = """
WITH raw AS (
    SELECT CASE WHEN c_custkey % 2 = 1
                THEN upper(c_name) ELSE c_name END AS name_raw
    FROM customer
),
norm AS (
    SELECT name_raw, lower(trim(name_raw)) AS name_norm FROM raw
),
groups AS (
    SELECT name_norm,
           CAST(COUNT(DISTINCT name_raw) AS BIGINT) AS n_variants
    FROM norm GROUP BY name_norm
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_normalized_keys,
       CAST(COUNT(*) FILTER (WHERE n_variants > 1) AS BIGINT)
           AS n_colliding_keys,
       CAST(coalesce(SUM(n_variants) FILTER (WHERE n_variants > 1), 0)
            AS BIGINT) AS n_variant_spellings
FROM groups
"""


@query("dq_normalized_key_collisions", oracle=_NORM_COLLISION_ORACLE)
def dq_normalized_key_collisions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Master-data normalization audit: keys that are distinct as raw
    strings but collide after lower/trim normalization — the
    'A-1 vs a-1' duplicate-entity smell that breaks joins and inflates
    distinct counts (every odd custkey's name is deterministically
    upper-cased to seed the collisions; a real run drops that stage).
    One normalization map + one distinct-variant rollup."""
    c = load_table(spark, sf_dir, "customer")
    raw = F.when(
        F.col("c_custkey") % 2 == 1, F.upper(F.col("c_name"))
    ).otherwise(F.col("c_name"))
    norm = c.select(
        raw.alias("name_raw"),
        F.lower(F.trim(raw)).alias("name_norm"),
    )
    groups = norm.groupBy("name_norm").agg(
        F.count_distinct("name_raw").cast("long").alias("n_variants")
    )
    multi = F.when(F.col("n_variants") > 1, F.col("n_variants"))
    return groups.agg(
        F.count(F.lit(1)).alias("n_normalized_keys"),
        F.count(multi).cast("long").alias("n_colliding_keys"),
        F.coalesce(F.sum(multi), F.lit(0))
        .cast("long")
        .alias("n_variant_spellings"),
    )


_SNAPSHOT_ROWDRIFT_ORACLE = """
WITH a AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders WHERE o_orderkey % 7 <> 0
    GROUP BY CAST(o_orderdate AS DATE)
),
b AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY CAST(o_orderdate AS DATE)
)
SELECT coalesce(a.day, b.day) AS day,
       coalesce(a.n, 0) AS n_yesterday,
       coalesce(b.n, 0) AS n_today,
       coalesce(b.n, 0) - coalesce(a.n, 0) AS delta
FROM a FULL OUTER JOIN b ON a.day = b.day
WHERE coalesce(b.n, 0) - coalesce(a.n, 0) <> 0
"""


@query("dq_partition_rowcount_drift", oracle=_SNAPSHOT_ROWDRIFT_ORACLE)
def dq_partition_rowcount_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partition row-count drift between two snapshot loads: per-day
    counts from yesterday's load (simulated by dropping every 7th key)
    vs today's, reporting only changed partitions — the cheap diff that
    catches a partial reload or backfill touching history it shouldn't
    (full content diff is dq_table_diff; this is the row-count early
    warning at 1/1000th the cost). Full outer join of two tiny rollups.
    """
    o = load_table(spark, sf_dir, "orders")
    day = F.col("o_orderdate").cast("date").alias("day")
    a = o.where(F.col("o_orderkey") % 7 != 0).groupBy(day).agg(
        F.count(F.lit(1)).alias("n_a")
    )
    b = o.groupBy(day).agg(F.count(F.lit(1)).alias("n_b"))
    j = a.join(b, "day", "full_outer").select(
        "day",
        F.coalesce(F.col("n_a"), F.lit(0)).alias("n_yesterday"),
        F.coalesce(F.col("n_b"), F.lit(0)).alias("n_today"),
        (
            F.coalesce(F.col("n_b"), F.lit(0))
            - F.coalesce(F.col("n_a"), F.lit(0))
        ).alias("delta"),
    )
    return j.where(F.col("delta") != 0)


_COMPLETENESS_SCORE_ORACLE = """
WITH per_row AS (
    SELECT (CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN o_orderstatus IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN o_totalprice IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN o_orderdate IS NOT NULL THEN 1 ELSE 0 END
          + CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END)
              AS n_filled
    FROM orders
)
SELECT CAST(n_filled AS BIGINT) AS fields_filled,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(n_filled AS DOUBLE) / 5 AS completeness_score
FROM per_row GROUP BY n_filled
"""


@query("dq_row_completeness_histogram", oracle=_COMPLETENESS_SCORE_ORACLE)
def dq_row_completeness_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Row-completeness histogram: how many of the five payload fields
    each row fills, bucketed — the record-level view column null-rates
    hide (1% nulls in each of five columns is harmless if scattered,
    catastrophic if the same rows miss everything). One scalar sum of
    indicator CASEs, one rollup."""
    o = load_table(spark, sf_dir, "orders")
    cols = [
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    n_filled = sum(
        F.when(F.col(c).isNotNull(), 1).otherwise(0) for c in cols
    )
    return (
        o.select(n_filled.alias("n_filled"))
        .groupBy(F.col("n_filled").cast("long").alias("fields_filled"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "fields_filled",
            "n_rows",
            (F.col("fields_filled").cast("double") / 5).alias(
                "completeness_score"
            ),
        )
    )


_FANOUT_ORACLE = """
WITH per_parent AS (
    SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_children
    FROM lineitem GROUP BY l_orderkey
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_parents,
       CAST(min(n_children) AS BIGINT) AS min_fanout,
       quantile_cont(CAST(n_children AS DOUBLE), 0.5) AS p50_fanout,
       CAST(max(n_children) AS BIGINT) AS max_fanout,
       CAST(SUM(n_children) AS DOUBLE) / COUNT(*) AS mean_fanout
FROM per_parent
"""


@query("dq_join_fanout_profile", oracle=_FANOUT_ORACLE)
def dq_join_fanout_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join fan-out profile of the lineitem→orders FK edge: children per
    parent (min/median/mean/max) — the cardinality metadata a join
    planner and a cost estimate both need (a max fan-out of 10⁶ on a
    'one-to-few' assumption is how row-explosion incidents start). One
    per-parent rollup + one summary."""
    li = load_table(spark, sf_dir, "lineitem")
    per_parent = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_children")
    )
    # Global summary via the running-count selector: fan-outs collapse
    # to a handful of distinct counts map-side; min/max/sum/median all
    # come from that tiny frame (F.percentile on the ungrouped column
    # would buffer every parent's fan-out on one reducer).
    return exact_percentiles(
        per_parent,
        [],
        "n_children",
        {"p50_fanout": 0.5},
        extras={
            "n_parents": "n",
            "min_fanout": "min",
            "max_fanout": "max",
            "sum_fanout": "sum",
        },
    ).select(
        "n_parents",
        F.col("min_fanout").cast("long").alias("min_fanout"),
        "p50_fanout",
        F.col("max_fanout").cast("long").alias("max_fanout"),
        (F.col("sum_fanout") / F.col("n_parents")).alias("mean_fanout"),
    )


_CKEY_ORACLE = """
WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM events)
SELECT c.candidate, n.n_rows, c.n_distinct,
       n.n_rows - c.n_distinct AS n_collisions,
       c.n_distinct = n.n_rows AS is_key
FROM (
    SELECT 'event_id' AS candidate,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
    UNION ALL
    SELECT 'ts', CAST(COUNT(DISTINCT ts) AS BIGINT) FROM events
    UNION ALL
    SELECT 'user_id,ts',
           CAST(COUNT(DISTINCT (CAST(user_id AS VARCHAR) || '|'
                                || CAST(epoch_us(ts) AS VARCHAR)))
                AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'user_id,event_type,ts',
           CAST(COUNT(DISTINCT (CAST(user_id AS VARCHAR) || '|'
                                || event_type || '|'
                                || CAST(epoch_us(ts) AS VARCHAR)))
                AS BIGINT)
    FROM events
) c CROSS JOIN n
"""


@query("dq_candidate_key_discovery", oracle=_CKEY_ORACLE)
def dq_candidate_key_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-key discovery: test a ladder of column combinations for
    uniqueness in one pass each — the profiling step that decides the
    upsert key before a pipeline is wired (reference Method-1 templates
    assume the key; this measures it). Composite candidates hash their
    canonical string encoding, so each test is one exact distinct-count
    whose shuffle carries only the combo values; at 100 TB swap
    ``approx_count_distinct`` in first and confirm exact only on the
    survivors."""
    ev = load_table(spark, sf_dir, "events")
    n_rows = F.count(F.lit(1)).cast("long")
    combos = [
        ("event_id", F.col("event_id").cast("string")),
        ("user_id", F.col("user_id").cast("string")),
        ("ts", F.unix_micros("ts").cast("string")),
        (
            "user_id,ts",
            F.concat_ws(
                "|",
                F.col("user_id").cast("string"),
                F.unix_micros("ts").cast("string"),
            ),
        ),
        (
            "user_id,event_type,ts",
            F.concat_ws(
                "|",
                F.col("user_id").cast("string"),
                F.col("event_type"),
                F.unix_micros("ts").cast("string"),
            ),
        ),
    ]
    parts = [
        ev.agg(
            F.lit(name).alias("candidate"),
            n_rows.alias("n_rows"),
            F.count_distinct(expr).cast("long").alias("n_distinct"),
        )
        for name, expr in combos
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.select(
        "candidate",
        "n_rows",
        "n_distinct",
        (F.col("n_rows") - F.col("n_distinct")).alias("n_collisions"),
        (F.col("n_distinct") == F.col("n_rows")).alias("is_key"),
    )


_REF_SUMMARY_ORACLE = """
SELECT * FROM (
    SELECT 'orders.o_custkey -> customer.c_custkey' AS fk_relation,
           CAST(COUNT(*) AS BIGINT) AS child_rows,
           CAST(COUNT(c.c_custkey) AS BIGINT) AS matched_rows,
           CAST(COUNT(*) - COUNT(c.c_custkey) AS BIGINT) AS orphan_rows,
           CAST(COUNT(c.c_custkey) AS DOUBLE) / COUNT(*) AS coverage
    FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
    UNION ALL
    SELECT 'lineitem.l_orderkey -> orders.o_orderkey',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(o.o_orderkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(o.o_orderkey) AS BIGINT),
           CAST(COUNT(o.o_orderkey) AS DOUBLE) / COUNT(*)
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 'lineitem.l_partkey -> part.p_partkey',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(p.p_partkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(p.p_partkey) AS BIGINT),
           CAST(COUNT(p.p_partkey) AS DOUBLE) / COUNT(*)
    FROM lineitem l LEFT JOIN part p ON p.p_partkey = l.l_partkey
    UNION ALL
    SELECT 'lineitem.l_suppkey -> supplier.s_suppkey',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(s.s_suppkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(s.s_suppkey) AS BIGINT),
           CAST(COUNT(s.s_suppkey) AS DOUBLE) / COUNT(*)
    FROM lineitem l LEFT JOIN supplier s ON s.s_suppkey = l.l_suppkey
    UNION ALL
    SELECT 'customer.c_nationkey -> nation.n_nationkey',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(n.n_nationkey) AS BIGINT),
           CAST(COUNT(*) - COUNT(n.n_nationkey) AS BIGINT),
           CAST(COUNT(n.n_nationkey) AS DOUBLE) / COUNT(*)
    FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
)
"""


@query("dq_referential_health_dashboard", oracle=_REF_SUMMARY_ORACLE)
def dq_referential_health_dashboard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Whole-schema referential-integrity dashboard: one row per FK
    relation with child/matched/orphan counts and coverage — the single
    table an on-call engineer checks before trusting any join result
    (`dq_fk_orphans` drills into one relation; this sweeps them all).
    Each relation is a left join against a dimension that broadcasts;
    the five probes are independent so Spark schedules their stages
    concurrently; counts are exact."""
    t = {
        n: load_table(spark, sf_dir, n)
        for n in ("orders", "customer", "lineitem", "part", "supplier",
                  "nation")
    }

    def probe(name, child, ckey, parent, pkey, bcast=True):
        # Dimension parents broadcast; fact-sized parents (orders under
        # lineitem) are left to AQE, which still converts when the
        # key projection turns out small.
        par = parent.select(pkey)
        if bcast:
            par = F.broadcast(par)
        j = child.join(par, F.col(ckey) == F.col(pkey), "left")
        matched = F.count(F.col(pkey))
        return j.agg(
            F.lit(name).alias("fk_relation"),
            F.count(F.lit(1)).cast("long").alias("child_rows"),
            matched.cast("long").alias("matched_rows"),
            (F.count(F.lit(1)) - matched).cast("long").alias(
                "orphan_rows"
            ),
            (matched.cast("double") / F.count(F.lit(1))).alias(
                "coverage"
            ),
        )

    parts = [
        probe("orders.o_custkey -> customer.c_custkey",
              t["orders"], "o_custkey", t["customer"], "c_custkey"),
        probe("lineitem.l_orderkey -> orders.o_orderkey",
              t["lineitem"], "l_orderkey", t["orders"], "o_orderkey",
              bcast=False),
        probe("lineitem.l_partkey -> part.p_partkey",
              t["lineitem"], "l_partkey", t["part"], "p_partkey"),
        probe("lineitem.l_suppkey -> supplier.s_suppkey",
              t["lineitem"], "l_suppkey", t["supplier"], "s_suppkey"),
        probe("customer.c_nationkey -> nation.n_nationkey",
              t["customer"], "c_nationkey", t["nation"], "n_nationkey"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


_CONFORMANCE_ORACLE = """
SELECT * FROM (
    SELECT 'customer.c_name' AS column_name,
           'Customer#\\d{9}' AS pattern,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) FILTER (
               WHERE regexp_full_match(c_name, 'Customer#\\d{9}'))
               AS BIGINT) AS n_conforming,
           CAST(COUNT(*) FILTER (
               WHERE regexp_full_match(c_name, 'Customer#\\d{9}'))
               AS DOUBLE) / COUNT(*) AS conformance
    FROM customer
    UNION ALL
    SELECT 'supplier.s_name', 'Supplier#\\d{9}',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (
               WHERE regexp_full_match(s_name, 'Supplier#\\d{9}'))
               AS BIGINT),
           CAST(COUNT(*) FILTER (
               WHERE regexp_full_match(s_name, 'Supplier#\\d{9}'))
               AS DOUBLE) / COUNT(*)
    FROM supplier
    UNION ALL
    SELECT 'part.p_brand', 'Brand#\\d{1,2}',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (
               WHERE regexp_full_match(p_brand, 'Brand#\\d{1,2}'))
               AS BIGINT),
           CAST(COUNT(*) FILTER (
               WHERE regexp_full_match(p_brand, 'Brand#\\d{1,2}'))
               AS DOUBLE) / COUNT(*)
    FROM part
    UNION ALL
    SELECT 'events.props', 'json_object',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (
               WHERE json_valid(props)
                 AND regexp_full_match(trim(props), '\\{.*\\}'))
               AS BIGINT),
           CAST(COUNT(*) FILTER (
               WHERE json_valid(props)
                 AND regexp_full_match(trim(props), '\\{.*\\}'))
               AS DOUBLE) / COUNT(*)
    FROM events
)
"""


@query("dq_format_conformance", oracle=_CONFORMANCE_ORACLE)
def dq_format_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format-conformance sweep: each string column checked against its
    expected shape (entity-name templates, brand codes, JSON payloads)
    with exact conforming counts and rates — the contract check that
    catches an upstream format change (padding width, charset, broken
    JSON) before it breaks keyed joins downstream. Pure narrow regex
    maps with map-side-combined counts; one row per rule."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    ev = load_table(spark, sf_dir, "events")

    def probe(df, label, col, pattern, cond):
        ok = F.count(F.when(cond, 1))
        return df.agg(
            F.lit(label).alias("column_name"),
            F.lit(pattern).alias("pattern"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            ok.cast("long").alias("n_conforming"),
            (ok.cast("double") / F.count(F.lit(1))).alias("conformance"),
        )

    parts = [
        probe(
            cust, "customer.c_name", "c_name", r"Customer#\d{9}",
            F.col("c_name").rlike(r"^Customer#[0-9]{9}$"),
        ),
        probe(
            supp, "supplier.s_name", "s_name", r"Supplier#\d{9}",
            F.col("s_name").rlike(r"^Supplier#[0-9]{9}$"),
        ),
        probe(
            part, "part.p_brand", "p_brand", r"Brand#\d{1,2}",
            F.col("p_brand").rlike(r"^Brand#[0-9]{1,2}$"),
        ),
        probe(
            ev, "events.props", "props", "json_object",
            # Strict RFC-8259 validity via try_parse_json (NULL on any
            # malformed payload) — get_json_object's lenient parser
            # accepts single quotes/unquoted keys that DuckDB
            # json_valid (and any downstream strict consumer) rejects.
            F.try_parse_json(F.col("props")).isNotNull()
            & F.trim(F.col("props")).rlike(r"^\{.*\}$"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


_DOUBLE_FIRE_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type, ts, event_id,
           lag(ts) OVER w AS prev_ts,
           lag(event_type) OVER w AS prev_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
gaps AS (
    SELECT event_type,
           epoch_us(ts) - epoch_us(prev_ts) AS gap_us
    FROM seq
    WHERE prev_ts IS NOT NULL AND event_type = prev_type
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_consecutive_same_type,
       CAST(COUNT(*) FILTER (WHERE gap_us < 1000000) AS BIGINT)
           AS n_under_1s,
       CAST(COUNT(*) FILTER (WHERE gap_us = 0) AS BIGINT) AS n_zero_gap,
       CAST(COUNT(*) FILTER (WHERE gap_us < 1000000) AS DOUBLE)
           / COUNT(*) AS double_fire_rate
FROM gaps
GROUP BY event_type
"""


@query("dq_double_fire_detector", oracle=_DOUBLE_FIRE_ORACLE)
def dq_double_fire_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry double-fire audit: per event type, how often the SAME
    user emits the SAME type again within a second (and at exactly the
    same timestamp) — the client-side retry/debounce bug signature that
    silently inflates engagement metrics. One user-keyed lag window,
    exact integer microsecond gaps, one rollup."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "ts",
        F.lag("ts").over(w).alias("prev_ts"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    gaps = seq.where(
        F.col("prev_ts").isNotNull()
        & (F.col("event_type") == F.col("prev_type"))
    ).select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros("prev_ts")).alias("gap_us"),
    )
    under = F.count(F.when(F.col("gap_us") < 1_000_000, 1))
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_consecutive_same_type"),
        under.cast("long").alias("n_under_1s"),
        F.count(F.when(F.col("gap_us") == 0, 1)).cast("long").alias(
            "n_zero_gap"
        ),
        (under.cast("double") / F.count(F.lit(1))).alias(
            "double_fire_rate"
        ),
    )


_KEYGAP_ORACLE = """
WITH k AS (SELECT DISTINCT o_orderkey AS k FROM orders),
bounds AS (SELECT max(k) AS kmax FROM k)
SELECT CAST(COUNT(*) AS BIGINT) AS n_gap_boundaries,
       CAST(min(a.k) AS BIGINT) AS first_gap_after,
       CAST(max(a.k) AS BIGINT) AS last_gap_after
FROM k a
CROSS JOIN bounds
WHERE a.k < bounds.kmax
  AND NOT EXISTS (SELECT 1 FROM k b WHERE b.k = a.k + 1)
"""


@query("dq_key_sequence_gaps", oracle=_KEYGAP_ORACLE)
def dq_key_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-sequence gap audit: how many points in the order-key space
    are followed by a hole (k present, k+1 absent) — the
    dropped-records detector for ingest pipelines whose upstream
    assigns dense sequence numbers. Deliberately NOT the lag-window
    formulation: a global window over every key is one executor's sort
    at 100 TB, while this anti-join on k+1 is two hash shuffles of the
    distinct-key projection with full parallelism; the max-key guard
    excludes the trivial end-of-range 'gap'."""
    o = load_table(spark, sf_dir, "orders")
    k = o.select(F.col("o_orderkey").alias("k")).distinct()
    bounds = k.agg(F.max("k").alias("kmax"))
    b = k.select(F.col("k").alias("kb"))
    gap_starts = (
        k.join(b, F.col("k") + 1 == F.col("kb"), "left_anti")
        .crossJoin(F.broadcast(bounds))
        .where(F.col("k") < F.col("kmax"))
    )
    return gap_starts.agg(
        F.count(F.lit(1)).cast("long").alias("n_gap_boundaries"),
        F.min("k").cast("long").alias("first_gap_after"),
        F.max("k").cast("long").alias("last_gap_after"),
    )


_SKEW_ORACLE = """
WITH kc AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY user_id
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(MAX(c) AS BIGINT) AS max_rows,
           quantile_cont(CAST(c AS DOUBLE), 0.5) AS p50,
           quantile_cont(CAST(c AS DOUBLE), 0.99) AS p99
    FROM kc
)
SELECT n_keys, n_rows, max_rows,
       round(p50, 6) AS p50_rows, round(p99, 6) AS p99_rows,
       round(CAST(max_rows AS DOUBLE) * n_keys / n_rows, 6)
           AS max_over_mean,
       CAST(CASE WHEN CAST(max_rows AS DOUBLE) * n_keys / n_rows <= 4
                 THEN 1
                 ELSE CAST(ceil(CAST(max_rows AS DOUBLE) * n_keys
                                / n_rows / 4) AS BIGINT) END
            AS BIGINT) AS suggested_salt
FROM s
"""


@query("dq_shuffle_skew_planner", oracle=_SKEW_ORACLE)
def dq_shuffle_skew_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit for the events.user_id grouping key: key
    count, row count, max/median/p99 per-key rows, the max-over-mean
    skew ratio, and the salt factor that would bound any single
    reducer's share to ~4× the mean — the measurement that decides
    BETWEEN plain groupBy, `agg_salted_hot_keys`' two-level salting,
    and AQE skew splits before a job ships. Per-key counts are one
    partial-aggregable pass; percentiles use the distributed
    running-count selector (`_util.exact_percentiles`), never the
    single-reducer percentile buffer."""
    ev = load_table(spark, sf_dir, "events")
    kc = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    stats = exact_percentiles(
        kc.select(F.col("c").cast("double").alias("cd")),
        [],
        "cd",
        {"p50_rows": 0.5, "p99_rows": 0.99},
        extras={"n_keys": "n", "max_rows": "max", "n_rows": "sum"},
    )
    ratio = (
        F.col("max_rows").cast("double")
        * F.col("n_keys")
        / F.col("n_rows")
    )
    return stats.select(
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("max_rows").cast("long").alias("max_rows"),
        F.round("p50_rows", 6).alias("p50_rows"),
        F.round("p99_rows", 6).alias("p99_rows"),
        F.round(ratio, 6).alias("max_over_mean"),
        F.when(ratio <= 4, F.lit(1).cast("long"))
        .otherwise(F.ceil(ratio / 4).cast("long"))
        .alias("suggested_salt"),
    )


_PSI_ORACLE = """
WITH clean AS (
    SELECT epoch_us(ts) AS us, value AS v
    FROM events
    WHERE NOT isnan(value) AND isfinite(value)
),
bounds AS (
    SELECT MIN(v) AS lo, MAX(v) AS hi, MIN(us) AS t0, MAX(us) AS t1
    FROM clean
),
binned AS (
    SELECT CAST(CASE WHEN b.hi = b.lo THEN 0
                     ELSE least(CAST(floor((c.v - b.lo)
                                           / ((b.hi - b.lo) / 10)) AS BIGINT),
                                9) END AS BIGINT) AS bin,
           CASE WHEN c.us < b.t0 + (b.t1 - b.t0) / 2 THEN 1 ELSE 0 END
               AS is_ref
    FROM clean c CROSS JOIN bounds b
),
counts AS (
    SELECT s.bin,
           CAST(COALESCE(SUM(CASE WHEN b.is_ref = 1 THEN 1 END), 0)
                AS BIGINT) AS n_expected,
           CAST(COALESCE(SUM(CASE WHEN b.is_ref = 0 THEN 1 END), 0)
                AS BIGINT) AS n_actual
    FROM (SELECT unnest(range(0, 10)) AS bin) s
    LEFT JOIN binned b ON b.bin = s.bin
    GROUP BY s.bin
),
tot AS (
    SELECT SUM(n_expected) AS te, SUM(n_actual) AS ta FROM counts
),
contrib AS (
    SELECT c.bin, c.n_expected, c.n_actual,
           (c.n_expected + 1) / CAST(t.te + 10 AS DOUBLE) AS p_expected,
           (c.n_actual + 1) / CAST(t.ta + 10 AS DOUBLE) AS p_actual
    FROM counts c CROSS JOIN tot t
)
SELECT bin, n_expected, n_actual,
       round(p_expected, 6) AS p_expected,
       round(p_actual, 6) AS p_actual,
       round((p_actual - p_expected)
             * round(ln(p_actual / p_expected), 6), 6) AS psi_contrib
FROM contrib
"""


@query("dq_population_stability", oracle=_PSI_ORACLE)
def dq_population_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of ``events.value`` between the early
    and late half of the stream's time range — the standard production
    drift monitor for a feature feeding a model (PSI < 0.1 stable,
    0.1–0.25 shifting, > 0.25 drifted). 10 equal-width bins over the
    finite-value range, Laplace-(+1)-smoothed so empty bins never
    divide by zero; the time split is integer epoch-micros arithmetic
    (exact in both engines). Two passes over ``events``: a 4-way
    min/max bounds pass (1-row broadcast back) and one 20-group
    bin×side count — both fully partial-aggregable, so the plan is two
    scans + two tiny exchanges at any scale. The 10-bin spine is a
    broadcast ``range``; ln is quantized at 6 dp before the product
    (the cross-engine float discipline)."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    clean = ev.where(
        ~F.isnan(v) & ~v.isin(float("inf"), float("-inf"))
    ).select(F.unix_micros("ts").alias("us"), v.alias("v"))
    bounds = clean.agg(
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
        F.min("us").alias("t0"),
        F.max("us").alias("t1"),
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(10.0)
    binned = clean.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("hi") == F.col("lo"), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.floor((F.col("v") - F.col("lo")) / width).cast("long"),
                F.lit(9).cast("long"),
            )
        )
        .alias("bin"),
        F.when(
            F.col("us")
            < F.col("t0") + (F.col("t1") - F.col("t0")) / F.lit(2),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("is_ref"),
    )
    counts = (
        spark.range(0, 10)
        .select(F.col("id").alias("bin"))
        .join(
            binned.groupBy("bin").agg(
                F.coalesce(
                    F.sum(F.when(F.col("is_ref") == 1, 1)), F.lit(0)
                )
                .cast("long")
                .alias("n_expected"),
                F.coalesce(
                    F.sum(F.when(F.col("is_ref") == 0, 1)), F.lit(0)
                )
                .cast("long")
                .alias("n_actual"),
            ),
            "bin",
            "left",
        )
        .na.fill({"n_expected": 0, "n_actual": 0})
    )
    tot = counts.agg(
        F.sum("n_expected").alias("te"), F.sum("n_actual").alias("ta")
    )
    p_e = (F.col("n_expected") + 1) / (F.col("te") + 10).cast("double")
    p_a = (F.col("n_actual") + 1) / (F.col("ta") + 10).cast("double")
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_expected",
        "n_actual",
        F.round(p_e, 6).alias("p_expected"),
        F.round(p_a, 6).alias("p_actual"),
        F.round(
            (p_a - p_e) * F.round(F.log(p_a / p_e), 6), 6
        ).alias("psi_contrib"),
    )


_DUP_PAYMENT_ORACLE = """
WITH o AS (
    SELECT o_orderkey AS ok, o_custkey AS ck, o_totalprice AS price,
           CAST(o_orderdate AS DATE) AS day
    FROM orders
)
SELECT a.ck AS custkey,
       CAST(floor(a.price / 5000) AS BIGINT) AS amount_bucket,
       a.ok AS first_orderkey,
       b.ok AS second_orderkey,
       CAST(datediff('day', a.day, b.day) AS BIGINT) AS days_apart
FROM o a JOIN o b
  ON a.ck = b.ck
 AND CAST(floor(a.price / 5000) AS BIGINT)
       = CAST(floor(b.price / 5000) AS BIGINT)
 AND a.ok < b.ok
WHERE datediff('day', a.day, b.day) BETWEEN -90 AND 90
"""


@query("dq_duplicate_payment_detector", oracle=_DUP_PAYMENT_ORACLE)
def dq_duplicate_payment_detector(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-transaction audit: pairs of orders by the SAME customer
    in the same $5000 amount bucket within ±90 days — the
    accounts-payable double-payment screen (near-amount repeats in a
    window are resubmission candidates for manual review). The
    self-join is an EQUI-join on the (custkey, amount-bucket) blocking
    key — the date window is a residual filter, never a join condition
    — so pair volume is Σ block_size², bounded by how often one
    customer repeats one price band, not |orders|²; the orderkey
    ordering canonicalizes each pair once. At skewed scale, split
    oversized blocks exactly as the dedup pair generators do;
    boundary-straddling near-amounts need the two-bucket probe the
    LSH band joins use."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.col("o_custkey").alias("ck"),
        F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").cast("date").alias("day"),
    )
    a = o.alias("a")
    b = o.alias("b")
    return (
        a.join(
            b,
            (F.col("a.ck") == F.col("b.ck"))
            & (
                F.floor(F.col("a.price") / 5000).cast("long")
                == F.floor(F.col("b.price") / 5000).cast("long")
            )
            & (F.col("a.ok") < F.col("b.ok")),
        )
        .where(
            F.datediff(F.col("b.day"), F.col("a.day")).between(-90, 90)
        )
        .select(
            F.col("a.ck").alias("custkey"),
            F.floor(F.col("a.price") / 5000)
            .cast("long")
            .alias("amount_bucket"),
            F.col("a.ok").alias("first_orderkey"),
            F.col("b.ok").alias("second_orderkey"),
            F.datediff(F.col("b.day"), F.col("a.day"))
            .cast("long")
            .alias("days_apart"),
        )
    )


_AS_WAS_AS_IS_ORACLE = (
    "WITH hist AS ("
    + _SCD2_ORACLE
    + """),
as_was AS (
    SELECT h.o_orderpriority AS priority,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue_as_was
    FROM orders o
    JOIN hist h
      ON h.o_custkey = o.o_custkey
     AND h.valid_from <= o.o_orderdate
     AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
    GROUP BY 1
),
cur AS (
    SELECT o_custkey, o_orderpriority AS priority
    FROM hist WHERE valid_to IS NULL
),
as_is AS (
    SELECT c.priority,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               AS revenue_as_is
    FROM orders o JOIN cur c ON c.o_custkey = o.o_custkey
    GROUP BY 1
)
SELECT COALESCE(w.priority, i.priority) AS priority,
       round(COALESCE(w.revenue_as_was, 0), 2) AS revenue_as_was,
       round(COALESCE(i.revenue_as_is, 0), 2) AS revenue_as_is,
       round(COALESCE(i.revenue_as_is, 0)
             - COALESCE(w.revenue_as_was, 0), 2) AS restatement_delta
FROM as_was w FULL OUTER JOIN as_is i ON i.priority = w.priority
"""
)


@query("scd2_as_was_vs_as_is", oracle=_AS_WAS_AS_IS_ORACLE)
def scd2_as_was_vs_as_is(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-was vs as-is reporting over the SCD2 priority dimension:
    revenue by priority attributed (a) to the run VALID AT each order's
    date (as-was — the audited historical truth) and (b) to the
    customer's CURRENT run (as-is — the restated view after dimension
    changes), plus the restatement delta — the warehouse-semantics
    report that makes dimension drift VISIBLE instead of silently
    rewriting history (the classic Kimball type-2 question: 'did the
    Q3 numbers change because business changed, or because the
    hierarchy moved?'). One history build, one point-in-time equi-join
    with residual validity predicate, one current-rows join (the
    valid_to IS NULL slice), both decimal-summed; the full-outer
    combine runs on the ≤|priority| frame."""
    orders = load_table(spark, sf_dir, "orders")
    hist = scd.scd2_from_history(
        orders,
        key_col="o_custkey",
        attr_col="o_orderpriority",
        ts_col="o_orderdate",
    ).select(
        F.col("o_custkey").alias("h_custkey"),
        F.col("o_orderpriority").alias("priority"),
        "valid_from",
        "valid_to",
    ).localCheckpoint(eager=True)
    as_was = (
        orders.join(
            hist,
            (F.col("h_custkey") == F.col("o_custkey"))
            & (F.col("valid_from") <= F.col("o_orderdate"))
            & (
                F.col("valid_to").isNull()
                | (F.col("o_orderdate") < F.col("valid_to"))
            ),
        )
        .groupBy("priority")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("revenue_as_was")
        )
    )
    cur = hist.where(F.col("valid_to").isNull()).select(
        "h_custkey", F.col("priority").alias("cur_priority")
    )
    as_is = (
        orders.join(cur, F.col("h_custkey") == F.col("o_custkey"))
        .groupBy(F.col("cur_priority").alias("priority"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("double")
            .alias("revenue_as_is")
        )
    )
    joined = as_was.join(as_is, "priority", "full_outer")
    return joined.select(
        "priority",
        F.round(F.coalesce("revenue_as_was", F.lit(0.0)), 2).alias(
            "revenue_as_was"
        ),
        F.round(F.coalesce("revenue_as_is", F.lit(0.0)), 2).alias(
            "revenue_as_is"
        ),
        F.round(
            F.coalesce("revenue_as_is", F.lit(0.0))
            - F.coalesce("revenue_as_was", F.lit(0.0)),
            2,
        ).alias("restatement_delta"),
    )


_INTERVAL_INTEGRITY_ORACLE = """
WITH iv AS (
    SELECT o_custkey AS ck,
           CAST(o_orderdate AS DATE) AS s,
           CAST(CAST(o_orderdate AS DATE) + to_days(30) AS DATE) AS e
    FROM orders
),
seq AS (
    SELECT ck, s, e,
           lead(s) OVER (PARTITION BY ck ORDER BY s, e) AS next_s
    FROM iv
),
per_key AS (
    SELECT ck,
           CAST(COUNT(*) AS BIGINT) AS n_intervals,
           CAST(SUM(CASE WHEN next_s IS NOT NULL AND next_s < e
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps,
           CAST(SUM(CASE WHEN next_s IS NOT NULL AND next_s > e
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
           CAST(SUM(CASE WHEN next_s IS NOT NULL AND next_s = e
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_seamless
    FROM seq GROUP BY ck
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(n_intervals) AS BIGINT) AS n_intervals,
       CAST(SUM(n_overlaps) AS BIGINT) AS n_overlaps,
       CAST(SUM(n_gaps) AS BIGINT) AS n_gaps,
       CAST(SUM(n_seamless) AS BIGINT) AS n_seamless,
       CAST(SUM(CASE WHEN n_overlaps = 0 AND n_gaps = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clean_keys
FROM per_key
"""


@query("dq_interval_integrity_audit", oracle=_INTERVAL_INTEGRITY_ORACLE)
def dq_interval_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temporal-integrity audit of per-key validity intervals: for each
    customer's 30-day order-coverage windows, count OVERLAPS (next
    start before current end — double-counted history), GAPS (next
    start after current end — unexplained holes) and seamless
    transitions — the invariant check every SCD2/bitemporal table needs
    before point-in-time joins can be trusted (`join_scd2_point_in_
    time` silently double-matches on overlapping runs). One
    key-partitioned lead window over the interval frame + two
    aggregates; integer date arithmetic throughout."""
    o = load_table(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_custkey").alias("ck"),
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).alias("e"),
    )
    from pyspark.sql import Window as Win

    w = Win.partitionBy("ck").orderBy("s", "e")
    seq = iv.select(
        "ck", "s", "e", F.lead("s").over(w).alias("next_s")
    )
    has_next = F.col("next_s").isNotNull()
    per_key = seq.groupBy("ck").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(
            F.when(has_next & (F.col("next_s") < F.col("e")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_overlaps"),
        F.sum(
            F.when(has_next & (F.col("next_s") > F.col("e")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_gaps"),
        F.sum(
            F.when(has_next & (F.col("next_s") == F.col("e")), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_seamless"),
    )
    return per_key.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("n_intervals").cast("long").alias("n_intervals"),
        F.sum("n_overlaps").cast("long").alias("n_overlaps"),
        F.sum("n_gaps").cast("long").alias("n_gaps"),
        F.sum("n_seamless").cast("long").alias("n_seamless"),
        F.sum(
            F.when(
                (F.col("n_overlaps") == 0) & (F.col("n_gaps") == 0), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_clean_keys"),
    )


_BURN_RATE_ORACLE = """
WITH hourly AS (
    SELECT (epoch_us(ts) // 3600000000) AS hr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END)
                AS BIGINT) AS n_err
    FROM events GROUP BY 1
),
win AS (
    SELECT hr, n, n_err,
           CAST(SUM(n) OVER w1 AS BIGINT) AS n_1h,
           CAST(SUM(n_err) OVER w1 AS BIGINT) AS err_1h,
           CAST(SUM(n) OVER w6 AS BIGINT) AS n_6h,
           CAST(SUM(n_err) OVER w6 AS BIGINT) AS err_6h,
           CAST(COUNT(*) OVER w6 AS BIGINT) AS hrs_6h
    FROM hourly
    WINDOW w1 AS (ORDER BY hr ROWS BETWEEN 0 PRECEDING AND CURRENT ROW),
           w6 AS (ORDER BY hr ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
),
rates AS (
    SELECT hr, n_1h, err_1h, n_6h, err_6h,
           round(err_1h / CAST(n_1h AS DOUBLE) / 0.2, 6) AS burn_1h,
           round(err_6h / CAST(n_6h AS DOUBLE) / 0.2, 6) AS burn_6h
    FROM win WHERE hrs_6h = 6
)
SELECT hr AS hour_bucket, err_1h, n_1h,
       burn_1h, burn_6h,
       (burn_1h > 1.2 AND burn_6h > 1.2) AS page_alert
FROM rates
WHERE burn_1h > 1.2 AND burn_6h > 1.2
"""


@query("dq_slo_burn_rate_alerts", oracle=_BURN_RATE_ORACLE)
def dq_slo_burn_rate_alerts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the SRE-workbook pattern):
    with an 80% success SLO (20% error budget), burn rate = observed
    error fraction / budget, and a page fires only when BOTH the fast
    1-hour window and the slow 6-hour window burn above 1.2× — fast
    window for responsiveness, slow window so a single spiky hour
    cannot page (the same flap-resistance goal as
    `window_alert_debounce`, expressed in error-budget units so the
    threshold is SLO-portable). Hourly conditional counts (one fact
    pass), two bounded ROWS frames over the hour series, exact integer
    ratios; warm-up hours without a full 6-hour window are excluded."""
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window as Win

    hourly = ev.groupBy(
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias(
            "hr"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count(F.when(F.col("event_type") == "error", 1))
        .cast("long")
        .alias("n_err"),
    )
    w1 = Win.orderBy("hr").rowsBetween(0, 0)
    w6 = Win.orderBy("hr").rowsBetween(-5, 0)
    win = hourly.select(
        "hr",
        F.sum("n").over(w1).cast("long").alias("n_1h"),
        F.sum("n_err").over(w1).cast("long").alias("err_1h"),
        F.sum("n").over(w6).cast("long").alias("n_6h"),
        F.sum("n_err").over(w6).cast("long").alias("err_6h"),
        F.count(F.lit(1)).over(w6).cast("long").alias("hrs_6h"),
    )
    burn_1h = F.round(
        F.col("err_1h") / F.col("n_1h").cast("double") / 0.2, 6
    )
    burn_6h = F.round(
        F.col("err_6h") / F.col("n_6h").cast("double") / 0.2, 6
    )
    rates = win.where(F.col("hrs_6h") == 6).select(
        F.col("hr").alias("hour_bucket"),
        "err_1h",
        "n_1h",
        burn_1h.alias("burn_1h"),
        burn_6h.alias("burn_6h"),
    )
    return rates.where(
        (F.col("burn_1h") > 1.2) & (F.col("burn_6h") > 1.2)
    ).select(
        "hour_bucket",
        "err_1h",
        "n_1h",
        "burn_1h",
        "burn_6h",
        (
            (F.col("burn_1h") > 1.2) & (F.col("burn_6h") > 1.2)
        ).alias("page_alert"),
    )


_JOIN_FORECAST_ORACLE = """
WITH ca AS (
    SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS c
    FROM orders GROUP BY 1
),
cb AS (
    SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1
),
est AS (
    SELECT CAST(SUM(ca.c * cb.c) AS BIGINT) AS predicted_rows,
           CAST(COUNT(*) AS BIGINT) AS n_shared_keys,
           CAST(MAX(ca.c * cb.c) AS BIGINT) AS max_key_rows
    FROM ca JOIN cb ON cb.k = ca.k
),
actual AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
    FROM orders o JOIN events e ON e.user_id = o.o_custkey
)
SELECT e.predicted_rows, a.actual_rows,
       e.predicted_rows = a.actual_rows AS forecast_exact,
       e.n_shared_keys, e.max_key_rows,
       round(e.max_key_rows * e.n_shared_keys
             / CAST(e.predicted_rows AS DOUBLE), 6) AS skew_factor
FROM est e CROSS JOIN actual a
"""


@query("dq_join_cardinality_forecast", oracle=_JOIN_FORECAST_ORACLE)
def dq_join_cardinality_forecast(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Join-cardinality forecast from per-key histograms: for an
    equi-join, |A⋈B| = Σ_k c_A(k)·c_B(k) EXACTLY, so the two key-count
    profiles (each a fraction of the join's cost) predict the output
    size and the worst single key's share BEFORE the join runs — the
    pre-flight check that catches fanout explosions and skew
    (skew_factor = max-key rows × keys / total ≫ 1 means one key
    dominates and wants salting) while the optimizer's own estimate is
    hidden. The query runs BOTH the forecast and the actual join and
    asserts they agree — at production scale you run only the cheap
    profile side. Two grouped counts + a key join of the profiles; the
    verification join is the thing being predicted."""
    o = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    ca = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("ca")
    )
    cb = ev.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("cb")
    )
    est = ca.join(cb, "k").agg(
        F.sum(F.col("ca") * F.col("cb"))
        .cast("long")
        .alias("predicted_rows"),
        F.count(F.lit(1)).cast("long").alias("n_shared_keys"),
        F.max(F.col("ca") * F.col("cb"))
        .cast("long")
        .alias("max_key_rows"),
    )
    actual = (
        o.join(ev, ev["user_id"] == o["o_custkey"])
        .agg(F.count(F.lit(1)).cast("long").alias("actual_rows"))
    )
    return est.crossJoin(F.broadcast(actual)).select(
        "predicted_rows",
        "actual_rows",
        (F.col("predicted_rows") == F.col("actual_rows")).alias(
            "forecast_exact"
        ),
        "n_shared_keys",
        "max_key_rows",
        F.round(
            F.col("max_key_rows")
            * F.col("n_shared_keys")
            / F.col("predicted_rows").cast("double"),
            6,
        ).alias("skew_factor"),
    )


_CAT_DRIFT_ORACLE = """
WITH marked AS (
    SELECT event_type,
           CASE WHEN epoch_us(ts) <
                (SELECT MIN(epoch_us(ts))
                       + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) / 2
                 FROM events)
                THEN 1 ELSE 0 END AS is_ref
    FROM events
),
cells AS (
    SELECT event_type,
           CAST(SUM(is_ref) AS BIGINT) AS n_ref,
           CAST(SUM(1 - is_ref) AS BIGINT) AS n_cur
    FROM marked GROUP BY event_type
),
tot AS (
    SELECT CAST(SUM(n_ref) AS BIGINT) AS tr,
           CAST(SUM(n_cur) AS BIGINT) AS tc,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM cells
),
chi AS (
    SELECT c.event_type, c.n_ref, c.n_cur, t.k,
           (c.n_ref + c.n_cur) * CAST(t.tr AS DOUBLE)
               / (t.tr + t.tc) AS e_ref,
           (c.n_ref + c.n_cur) * CAST(t.tc AS DOUBLE)
               / (t.tr + t.tc) AS e_cur
    FROM cells c CROSS JOIN tot t
)
SELECT CAST(ANY_VALUE(k) AS BIGINT) AS n_categories,
       CAST(ANY_VALUE(k) - 1 AS BIGINT) AS df,
       round(CAST(SUM(CAST(round(
               (n_ref - e_ref) * (n_ref - e_ref) / e_ref
               + (n_cur - e_cur) * (n_cur - e_cur) / e_cur, 6)
             AS DECIMAL(38,6))) AS DOUBLE), 6) AS chi_square,
       CAST(SUM(CAST(round(
               (n_ref - e_ref) * (n_ref - e_ref) / e_ref
               + (n_cur - e_cur) * (n_cur - e_cur) / e_cur, 6)
             AS DECIMAL(38,6))) AS DOUBLE) > 9.488
           AS drifted_05
FROM chi
"""


@query("dq_categorical_drift_chi2", oracle=_CAT_DRIFT_ORACLE)
def dq_categorical_drift_chi2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Categorical drift test: chi-square homogeneity of the event-type
    mix between the stream's early and late half (vs the χ²₄ 5%
    critical value) — the categorical companion to
    `dq_population_stability` (PSI bins a NUMERIC feature; label/
    category mixes need the homogeneity test, and a significant shift
    here is the classic upstream-schema-or-logging-change symptom).
    The time split is the same exact integer epoch arithmetic as PSI;
    one 5×2 conditional-count pass, expected cells from the margins,
    per-cell terms quantized at 6 dp into a decimal sum."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.unix_micros("ts")).alias("t0"),
        F.max(F.unix_micros("ts")).alias("t1"),
    )
    marked = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(
            F.unix_micros("ts")
            < F.col("t0") + (F.col("t1") - F.col("t0")) / F.lit(2),
            1,
        )
        .otherwise(0)
        .alias("is_ref"),
    )
    # 5-row cell table feeds both the margins and the chi terms —
    # truncate lineage so the fact pass runs once, not per reference.
    cells = marked.groupBy("event_type").agg(
        F.sum("is_ref").cast("long").alias("n_ref"),
        F.sum(1 - F.col("is_ref")).cast("long").alias("n_cur"),
    ).localCheckpoint(eager=True)
    tot = cells.agg(
        F.sum("n_ref").cast("long").alias("tr"),
        F.sum("n_cur").cast("long").alias("tc"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    chi = cells.crossJoin(F.broadcast(tot))
    row_tot = F.col("n_ref") + F.col("n_cur")
    grand = (F.col("tr") + F.col("tc")).cast("double")
    e_ref = row_tot * F.col("tr").cast("double") / grand
    e_cur = row_tot * F.col("tc").cast("double") / grand
    term = F.round(
        (F.col("n_ref") - e_ref) * (F.col("n_ref") - e_ref) / e_ref
        + (F.col("n_cur") - e_cur) * (F.col("n_cur") - e_cur) / e_cur,
        6,
    ).cast("decimal(38,6)")
    stat = F.sum(term).cast("double")
    return chi.agg(
        F.any_value("k").cast("long").alias("n_categories"),
        (F.any_value("k") - 1).cast("long").alias("df"),
        F.round(stat, 6).alias("chi_square"),
        (stat > 9.488).alias("drifted_05"),
    )


# Leading digit PAIR from exact integer cents (float formatting differs
# across engines; integer formatting does not). Amounts below $10 have
# no second significant digit and are excluded by contract.
_BENFORD2_ORACLE = """
WITH digits AS (
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                            AS VARCHAR), 1, 2) AS BIGINT) AS d2
    FROM orders WHERE o_totalprice >= 10
),
counts AS (SELECT d2, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d2),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM digits),
scored AS (
    SELECT c.d2, c.n, t.t,
           CAST(c.n AS DOUBLE) / t.t AS observed_p,
           round(ln(1 + CAST(1 AS DOUBLE) / c.d2)
                 / ln(CAST(10 AS DOUBLE)), 6) AS benford_p
    FROM counts c CROSS JOIN total t
),
chi AS (
    SELECT CAST(SUM(CAST(round(
               (n - t * benford_p) * (n - t * benford_p) / (t * benford_p),
               6) AS DECIMAL(38,6))) AS DOUBLE) AS chi2_total
    FROM scored
)
SELECT s.d2, s.n, s.observed_p, s.benford_p, c.chi2_total
FROM scored s CROSS JOIN chi c
"""


@query("dq_benford_first_two_digits", oracle=_BENFORD2_ORACLE)
def dq_benford_first_two_digits(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Benford FIRST-TWO-digit profile (d ∈ 10..99) with the aggregate
    chi-square statistic — the stronger fabricated-numbers test: the
    two-digit law has 90 cells, so rounding/threshold manipulation that
    survives the single-digit screen (`dq_benford_first_digit`) shows
    up here. Expected proportions are round(ln,6)-quantized, per-cell
    chi-square terms round(·,6) before the DECIMAL sum, so both
    engines emit identical doubles. One map-side-combinable digit
    count; the chi2 total is a broadcast scalar joined back onto the
    90 cells."""
    orders = load_table(spark, sf_dir, "orders")
    digits = orders.filter(F.col("o_totalprice") >= 10).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("long").cast("string"),
            1,
            2,
        )
        .cast("long")
        .alias("d2")
    )
    counts = digits.groupBy("d2").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    total = digits.agg(F.count(F.lit(1)).cast("long").alias("t"))
    scored = counts.join(F.broadcast(total)).select(
        "d2",
        "n",
        "t",
        (F.col("n").cast("double") / F.col("t")).alias("observed_p"),
        F.round(
            F.log(1 + F.lit(1.0) / F.col("d2"))
            / F.log(F.lit(10.0)),
            6,
        ).alias("benford_p"),
    )
    term = F.round(
        (F.col("n") - F.col("t") * F.col("benford_p"))
        * (F.col("n") - F.col("t") * F.col("benford_p"))
        / (F.col("t") * F.col("benford_p")),
        6,
    )
    chi = scored.agg(
        F.sum(term.cast("decimal(38,6)"))
        .cast("double")
        .alias("chi2_total")
    )
    return scored.crossJoin(F.broadcast(chi)).select(
        "d2", "n", "observed_p", "benford_p", "chi2_total"
    )


_MERKLE_ORACLE = """
WITH h AS (
    SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS month,
           CAST(o_orderdate AS DATE) AS day,
           CAST(('0x' || substr(md5(
               CAST(o_orderkey AS VARCHAR) || '|' ||
               CAST(o_custkey AS VARCHAR) || '|' ||
               o_orderstatus || '|' ||
               CAST(CAST(CAST(o_totalprice AS DECIMAL(38,6)) * 100 AS BIGINT) AS VARCHAR)
           ), 1, 8)) AS BIGINT) AS rh
    FROM orders
),
daily AS (
    SELECT month, day,
           CAST(SUM(CAST(rh AS DECIMAL(38,0))) % 1000000007 AS BIGINT)
               AS day_checksum,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM h GROUP BY month, day
)
SELECT CAST(month AS DATE) AS month,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(day_checksum AS DECIMAL(38,0))) % 1000000007
            AS BIGINT) AS month_checksum
FROM daily GROUP BY month
"""


@query("dq_partition_merkle_checksums", oracle=_MERKLE_ORACLE)
def dq_partition_merkle_checksums(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hierarchical (Merkle-style) partition checksums: per-row md5
    content hashes combine into day checksums, days combine into month
    checksums — the table-diff primitive that LOCALIZES a divergence
    (`dq_table_checksum` says 'something differs'; this says 'that
    month, then that day'), the same drill-down a cross-region
    replication audit runs. The combiner is an order-independent
    modular sum (exact DECIMAL accumulate, mod a prime), so checksums
    are partitioning-invariant and re-computable level by level.
    Monetary content hashes go through integer cents (float→string
    formatting differs across engines; integers do not). Two
    partial-aggregable rollups, no shuffle wider than (month, day)."""
    o = load_table(spark, sf_dir, "orders")
    rh = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderkey").cast("string"),
                    F.col("o_custkey").cast("string"),
                    F.col("o_orderstatus"),
                    (F.col("o_totalprice").cast("decimal(38,6)") * 100)
                    .cast("long")
                    .cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    h = o.select(
        F.date_trunc("month", F.col("o_orderdate").cast("date"))
        .cast("date")
        .alias("month"),
        F.col("o_orderdate").cast("date").alias("day"),
        rh.alias("rh"),
    )
    daily = h.groupBy("month", "day").agg(
        (F.sum(F.col("rh").cast("decimal(38,0)")) % 1000000007)
        .cast("long")
        .alias("day_checksum"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    return daily.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("n_rows").cast("long").alias("n_rows"),
        (
            F.sum(F.col("day_checksum").cast("decimal(38,0)"))
            % 1000000007
        )
        .cast("long")
        .alias("month_checksum"),
    )


_SCD2_REPAIR_ORACLE = """
WITH flagged AS (
    SELECT o_custkey, o_orderpriority, o_orderdate,
           CASE WHEN lag(o_orderpriority) OVER w IS NULL
                  OR lag(o_orderpriority) OVER w <> o_orderpriority
                THEN 1 ELSE 0 END AS chg
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderpriority)
),
runs AS (
    SELECT o_custkey, o_orderpriority, o_orderdate,
           SUM(chg) OVER (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderpriority
                          RANGE UNBOUNDED PRECEDING) AS run
    FROM flagged
),
hist AS (
    SELECT o_custkey, run,
           min(o_orderpriority) AS o_orderpriority,
           min(o_orderdate) AS valid_from
    FROM runs GROUP BY o_custkey, run
),
dim AS (
    SELECT o_custkey, o_orderpriority, valid_from,
           lead(valid_from) OVER w2 AS valid_to
    FROM hist
    WINDOW w2 AS (PARTITION BY o_custkey ORDER BY valid_from, run)
),
corrupt AS (
    SELECT o_custkey, o_orderpriority, valid_from,
           CAST(valid_to AS DATE) + 10 AS bad_valid_to,
           lead(valid_from) OVER (PARTITION BY o_custkey
                                  ORDER BY valid_from, o_orderpriority)
               AS next_from
    FROM dim
)
SELECT o_custkey, o_orderpriority,
       CAST(valid_from AS TIMESTAMP) AS valid_from,
       CAST(least(bad_valid_to, CAST(next_from AS DATE)) AS TIMESTAMP)
           AS fixed_valid_to,
       CAST(CASE WHEN bad_valid_to > CAST(next_from AS DATE)
                 THEN 1 ELSE 0 END AS INT) AS was_overlapping
FROM corrupt
"""


@query("scd2_overlap_repair", oracle=_SCD2_REPAIR_ORACLE)
def scd2_overlap_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity-interval REPAIR: given a corrupted dimension whose
    `valid_to` dates overrun the successor row (synthesized here by
    extending every interval 10 days — the classic late-backfill
    corruption `dq_interval_integrity_audit` detects), truncate each
    interval at the next version's `valid_from` and flag the rows that
    were overlapping. Detection says the dimension is broken; THIS is
    the operator that fixes it without reloading history: one window
    over (key, valid_from) — the lead() carries exactly the successor
    boundary each row must not cross. Current rows (NULL valid_to)
    pass through untouched."""
    from pyspark.sql import Window as Win

    dim = scd.scd2_from_history(
        load_table(spark, sf_dir, "orders"),
        key_col="o_custkey",
        attr_col="o_orderpriority",
        ts_col="o_orderdate",
    )
    # Total order: two runs can START the same day (same-day priority
    # flips), so valid_from alone leaves lead() nondeterministic across
    # runs AND engines — tiebreak on the attribute.
    w = Win.partitionBy("o_custkey").orderBy(
        "valid_from", "o_orderpriority"
    )
    corrupt = dim.select(
        "o_custkey",
        "o_orderpriority",
        F.col("valid_from").cast("date").alias("valid_from"),
        F.date_add(F.col("valid_to").cast("date"), 10).alias(
            "bad_valid_to"
        ),
        F.lead(F.col("valid_from").cast("date")).over(w).alias(
            "next_from"
        ),
    )
    # Output as TIMESTAMP, not DATE: nullable DATE round-trips
    # asymmetrically through pandas (Spark gives object dates / None,
    # DuckDB gives datetime64 / NaT), which the value-hash canonicalizer
    # cannot unify; TIMESTAMP is datetime64/NaT on both sides.
    return corrupt.select(
        "o_custkey",
        "o_orderpriority",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.least(F.col("bad_valid_to"), F.col("next_from"))
        .cast("timestamp")
        .alias("fixed_valid_to"),
        F.when(F.col("bad_valid_to") > F.col("next_from"), 1)
        .otherwise(0)
        .cast("int")
        .alias("was_overlapping"),
    )


_FD_AUDIT_ORACLE = """
WITH fd1 AS (
    SELECT 'o_custkey->o_orderpriority' AS fd,
           CAST(SUM(mx) AS BIGINT) AS n_consistent
    FROM (
        SELECT MAX(c) AS mx
        FROM (
            SELECT o_custkey AS a, o_orderpriority AS b,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM orders GROUP BY 1, 2
        ) GROUP BY a
    )
),
fd2 AS (
    SELECT 'o_orderkey->o_custkey' AS fd,
           CAST(SUM(mx) AS BIGINT) AS n_consistent
    FROM (
        SELECT MAX(c) AS mx
        FROM (
            SELECT o_orderkey AS a, o_custkey AS b,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM orders GROUP BY 1, 2
        ) GROUP BY a
    )
),
fd3 AS (
    SELECT 'o_orderpriority->o_orderstatus' AS fd,
           CAST(SUM(mx) AS BIGINT) AS n_consistent
    FROM (
        SELECT MAX(c) AS mx
        FROM (
            SELECT o_orderpriority AS a, o_orderstatus AS b,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM orders GROUP BY 1, 2
        ) GROUP BY a
    )
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM orders),
u AS (
    SELECT fd, n_consistent FROM fd1
    UNION ALL SELECT fd, n_consistent FROM fd2
    UNION ALL SELECT fd, n_consistent FROM fd3
)
SELECT u.fd, t.total AS n_rows, u.n_consistent,
       CAST(t.total - u.n_consistent AS BIGINT) AS n_violations,
       CAST(t.total - u.n_consistent AS DOUBLE) / t.total
           AS violation_rate,
       CAST(CASE WHEN u.n_consistent = t.total THEN 1 ELSE 0 END AS INT)
           AS holds
FROM u CROSS JOIN tot t
"""


@query("dq_functional_dependency_audit", oracle=_FD_AUDIT_ORACLE)
def dq_functional_dependency_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximate functional-dependency audit (the g3 error measure):
    for each candidate FD A→B, the minimum fraction of rows to delete
    for the dependency to hold exactly — Σ_a max_b count(a,b) kept rows
    — across a declared FD suite (a true key FD, and two plausible but
    false business FDs). This is the profiling step that discovers
    NORMALIZATION structure (`dq_candidate_key_discovery` finds keys;
    this finds the A→B edges a dimensional model is built from). Each
    FD is two partial-aggregable rollups over one scan; the suite
    unions three tiny aggregates, with the row total a 1-row broadcast
    (no eager driver-side count — the lazy-plan rule the Pipeline
    enforces everywhere)."""
    o = load_table(spark, sf_dir, "orders")
    tot = o.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))

    def fd(a: str, b: str):
        return (
            o.groupBy(F.col(a).alias("a"), F.col(b).alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("a")
            .agg(F.max("c").alias("mx"))
            .agg(F.sum("mx").cast("long").alias("n_consistent"))
            .select(F.lit(f"{a}->{b}").alias("fd"), "n_consistent")
        )

    u = (
        fd("o_custkey", "o_orderpriority")
        .unionByName(fd("o_orderkey", "o_custkey"))
        .unionByName(fd("o_orderpriority", "o_orderstatus"))
    )
    return u.crossJoin(F.broadcast(tot)).select(
        "fd",
        "n_rows",
        "n_consistent",
        (F.col("n_rows") - F.col("n_consistent"))
        .cast("long")
        .alias("n_violations"),
        (
            (F.col("n_rows") - F.col("n_consistent")).cast("double")
            / F.col("n_rows")
        ).alias("violation_rate"),
        F.when(F.col("n_consistent") == F.col("n_rows"), 1)
        .otherwise(0)
        .cast("int")
        .alias("holds"),
    )


_CONTENT_FP_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
       MIN(md5(text)) AS min_fp,
       MAX(md5(text)) AS max_fp
FROM documents
GROUP BY source
"""


@query("dq_content_fingerprint_by_source", oracle=_CONTENT_FP_ORACLE)
def dq_content_fingerprint_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source content fingerprint: row count, DISTINCT text-hash
    count, and the min/max MD5 — the cheap cross-system reconciliation
    record (two pipelines that each publish this row per source can
    prove a partition transferred intact without shipping data, and the
    distinct count exposes silent duplication the row count hides).
    Order-insensitive by construction: min/max/count-distinct of a hash
    are set functions, so the record is identical under any partitioning
    or shuffle order — the same property `dq_partition_merkle_checksums`
    uses, here at source granularity with per-engine-identical MD5."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.col("text").cast("binary"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct(fp).cast("long").alias("n_distinct"),
        F.min(fp).alias("min_fp"),
        F.max(fp).alias("max_fp"),
    )


_REF_ORPHANS_ORACLE = """
SELECT * FROM (
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_child,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'lineitem.l_suppkey->supplier',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT COUNT(*) FROM customer),
           (SELECT COUNT(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           (SELECT COUNT(*) FROM supplier),
           (SELECT COUNT(*) FROM supplier s
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = s.s_nationkey))
)
"""


@query("dq_referential_orphans_multi", oracle=_REF_ORPHANS_ORACLE)
def dq_referential_orphans_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-schema referential-integrity audit in one result: for every
    FK edge of the star schema, the child row count and the orphan count
    (children whose parent key is missing) — the first dashboard a
    warehouse loads after ingest, and the check the reference pipelines
    rely on their source databases to enforce. Each edge is a LEFT ANTI
    join (never a row-multiplying outer join); dimension parents
    broadcast, the two lineitem-sized edges shuffle once each on the FK.
    All counts exact integers."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    def edge(name, child, ckey, parent, pkey):
        orphans = child.join(
            parent.select(F.col(pkey).alias(ckey)), ckey, "left_anti"
        )
        return (
            child.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
            .crossJoin(
                orphans.agg(
                    F.count(F.lit(1)).cast("long").alias("n_orphans")
                )
            )
            .select(F.lit(name).alias("fk_edge"), "n_child", "n_orphans")
        )

    edges = [
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", orders,
             "o_orderkey"),
        edge("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey"),
        edge("lineitem.l_suppkey->supplier", li, "l_suppkey", supplier,
             "s_suppkey"),
        edge("orders.o_custkey->customer", orders, "o_custkey", customer,
             "c_custkey"),
        edge("customer.c_nationkey->nation", customer, "c_nationkey", nation,
             "n_nationkey"),
        edge("supplier.s_nationkey->nation", supplier, "s_nationkey", nation,
             "n_nationkey"),
    ]
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


_PK_AUDIT_ORACLE = """
SELECT * FROM (
    SELECT 'lineitem(l_orderkey,l_linenumber)' AS pk,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM (
                SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
                AS BIGINT) AS n_distinct_keys
    UNION ALL
    SELECT 'orders(o_orderkey)',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(DISTINCT o_orderkey) FROM orders)
    UNION ALL
    SELECT 'customer(c_custkey)',
           (SELECT COUNT(*) FROM customer),
           (SELECT COUNT(DISTINCT c_custkey) FROM customer)
    UNION ALL
    SELECT 'events(event_id)',
           (SELECT COUNT(*) FROM events),
           (SELECT COUNT(DISTINCT event_id) FROM events)
    UNION ALL
    SELECT 'documents(doc_id)',
           (SELECT COUNT(*) FROM documents),
           (SELECT COUNT(DISTINCT doc_id) FROM documents)
)
"""


@query("dq_primary_key_audit", oracle=_PK_AUDIT_ORACLE)
def dq_primary_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across the schema's declared keys
    (incl. the one COMPOSITE key, lineitem's (orderkey, linenumber)):
    row count vs distinct-key count per table — the constraint check a
    lake must run itself because parquet enforces nothing. Distinct
    counts are exact (hash-aggregate per key, map-side combinable);
    each table is one pass."""
    tables = [
        ("lineitem(l_orderkey,l_linenumber)", "lineitem",
         ["l_orderkey", "l_linenumber"]),
        ("orders(o_orderkey)", "orders", ["o_orderkey"]),
        ("customer(c_custkey)", "customer", ["c_custkey"]),
        ("events(event_id)", "events", ["event_id"]),
        ("documents(doc_id)", "documents", ["doc_id"]),
    ]
    out = None
    for pk, tname, keys in tables:
        t = load_table(spark, sf_dir, tname)
        row = t.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct(*[F.col(k) for k in keys])
            .cast("long")
            .alias("n_distinct_keys"),
        ).select(F.lit(pk).alias("pk"), "n_rows", "n_distinct_keys")
        out = row if out is None else out.unionByName(row)
    return out


_COMPLETENESS_ORACLE = """
-- Outer CAST on n_rows/n_null: DuckDB's integer SUM is HUGEINT, and a
-- UNION ALL whose branches mix BIGINT and HUGEINT promotes the whole
-- column to HUGEINT, which pandas materializes as float64 while Spark
-- emits int64 — rows/schema match but the driver's canonical-text hash
-- sees `0` vs `0.0` (round-8 driver-red). Casting once outside the
-- union pins every branch.
SELECT tbl, col,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_null AS BIGINT) AS n_null,
       null_frac
FROM (
    SELECT 'events' AS tbl, 'value' AS col,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*) AS null_frac
    FROM events
    UNION ALL
    SELECT 'events', 'props', COUNT(*),
           SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END),
           CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*)
    FROM events
    UNION ALL
    SELECT 'events', 'user_id', COUNT(*),
           SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END),
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*)
    FROM events
    UNION ALL
    SELECT 'orders', 'o_totalprice', COUNT(*),
           SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END),
           CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'orders', 'o_orderdate', COUNT(*),
           SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END),
           CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*)
    FROM orders
    UNION ALL
    SELECT 'documents', 'text', COUNT(*),
           SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
           CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*)
    FROM documents
    UNION ALL
    SELECT 'documents', 'lang', COUNT(*),
           SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END),
           CAST(SUM(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / COUNT(*)
    FROM documents
    UNION ALL
    SELECT 'customer', 'c_acctbal', COUNT(*),
           SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END),
           CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / COUNT(*)
    FROM customer
)
"""


@query("dq_completeness_matrix", oracle=_COMPLETENESS_ORACLE)
def dq_completeness_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-TABLE completeness matrix: null fraction for the
    business-critical columns of four tables in one result — the
    whole-lake freshness/completeness dashboard row
    (`dq_null_profile_events` profiles one table's every column; this
    is the curated multi-table cut a data SLO references). One pass per
    table computes ALL of its column null-counts simultaneously (a
    single aggregate projection — never one scan per column), then the
    wide row unpivots to (tbl, col) rows via the `stack` generator."""
    specs = [
        ("events", ["value", "props", "user_id"]),
        ("orders", ["o_totalprice", "o_orderdate"]),
        ("documents", ["text", "lang"]),
        ("customer", ["c_acctbal"]),
    ]
    out = None
    for tname, cols in specs:
        t = load_table(spark, sf_dir, tname)
        aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
        for c in cols:
            aggs.append(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                .cast("long")
                .alias(f"null_{c}")
            )
        wide = t.agg(*aggs)
        stack_expr = ", ".join(f"'{c}', null_{c}" for c in cols)
        rows = wide.selectExpr(
            "n_rows",
            f"stack({len(cols)}, {stack_expr}) AS (col, n_null)",
        ).select(
            F.lit(tname).alias("tbl"),
            "col",
            "n_rows",
            "n_null",
            (F.col("n_null").cast("double") / F.col("n_rows")).alias(
                "null_frac"
            ),
        )
        out = rows if out is None else out.unionByName(rows)
    return out


_IMPUTE_ORACLE = """
WITH m AS (
    SELECT event_id, event_type,
           CASE WHEN event_id % 37 = 0 OR isnan(value) OR isinf(value)
                THEN NULL ELSE CAST(value AS DOUBLE) END AS v_obs
    FROM events
),
s AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(v_obs) AS BIGINT) AS n_obs,
           CAST(SUM(CAST(v_obs AS DECIMAL(38,6))) AS DOUBLE) AS sum_obs,
           quantile_cont(v_obs, 0.5) AS median_fill
    FROM m GROUP BY event_type
)
SELECT event_type, n_rows,
       CAST(n_rows - n_obs AS BIGINT) AS n_missing,
       median_fill,
       sum_obs / CAST(n_obs AS DOUBLE) AS mean_observed,
       (sum_obs + CAST(n_rows - n_obs AS DOUBLE) * median_fill)
         / CAST(n_rows AS DOUBLE) AS mean_after_impute
FROM s
"""


@query("dq_median_imputation_audit", oracle=_IMPUTE_ORACLE)
def dq_median_imputation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Median-imputation audit: per event type, how many values are
    missing, the per-group exact median that would fill them, and the
    mean before vs after the fill — the numbers a pipeline reviews
    BEFORE committing an imputation strategy (a large mean shift means
    missingness is not random and median fill will bias the feature).
    Missingness is derived DETERMINISTICALLY (event_id % 37, plus any
    genuine NaN/inf) — the same constructed-ground-truth pattern as
    dedup_split_doc_stitch — so the audit is non-degenerate on fixtures
    with no natural nulls yet exercises the identical plan production
    data would. One collapsed value-count pass feeds count, sum
    (decimal-routed) and the exact interpolated median via the
    distributed running-count selector (no single-reducer percentile
    buffer — see queries/_util.exact_percentiles); means are single
    fixed-order double expressions, bit-identical to the oracle's."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    v = F.col("value").cast("double")
    masked = ev.withColumn(
        "v_obs",
        F.when(
            (F.col("event_id") % 37 == 0)
            | F.isnan(v)
            | v.isin(float("inf"), float("-inf")),
            F.lit(None).cast("double"),
        ).otherwise(v),
    )
    stats = exact_percentiles(
        masked,
        ["event_type"],
        "v_obs",
        {"median_fill": 0.5},
        extras={"n_obs": "n", "sum_obs": "sum"},
    )
    tot = masked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )
    # LEFT join: exact_percentiles drops NULLs before grouping, so an
    # event_type whose every value is masked has no stats row at all —
    # the oracle keeps it with NULL median and n_missing = n_rows.
    j = tot.join(stats, "event_type", "left")
    sum_d = F.col("sum_obs").cast("double")
    n_obs = F.coalesce(F.col("n_obs"), F.lit(0)).cast("long")
    n_missing = (F.col("n_rows") - n_obs).cast("long")
    return j.select(
        "event_type",
        "n_rows",
        n_missing.alias("n_missing"),
        "median_fill",
        (sum_d / F.col("n_obs").cast("double")).alias("mean_observed"),
        (
            (sum_d + n_missing.cast("double") * F.col("median_fill"))
            / F.col("n_rows").cast("double")
        ).alias("mean_after_impute"),
    )

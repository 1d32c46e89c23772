"""etl_daily_load: consecutive simulated days of the reference's batch loads.

Each day D runs five ``Pipeline.run`` ops, one per job:

- ``events_snapshot``: Method-1 full snapshot, ``FileSource`` ->
  ``clean_infinities`` -> ``ParquetSink.overwrite``;
- ``orders_window``: Method-2 30-day window of orders as of D,
  ``window_filter(anchor=D)`` -> ``ParquetSink.window_overwrite``;
- ``orders_retention``: the same extract into a ``retention_append`` target;
- ``customer_upsert``: the day's customer delta -> ``ParquetSink.upsert``;
- ``customer_jdbc``: the same delta -> ``JdbcUpsertWriter`` into SQLite.

The seed picks the start date. Day D's customer delta changes the customers
who placed an order on D in the source ``orders`` table (52-73 a day at
sf0.1), so its size follows the fixture's own daily activity; the seed sets
the new column values. Each delta also inserts ``N_NEW`` new customers and
gives ``N_INF`` changed rows a +-inf balance, so that the upsert's insert path
and ``clean_infinities`` run every day: those two counts are coverage, not a
measured rate.

Before the first day the targets hold the state a previous day
D0 = start - 1 left, written with pyarrow and sqlite3, so every day, the
first included, takes the same code paths. After each day every target is
read back and compared, whole rows as a multiset, with the expected rows,
computed independently with DuckDB from the source tables and the deltas.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import glob
import os
import random
import shutil
import sqlite3

DAYS = 40
WINDOW_DAYS = 30
N_NEW = 2
N_INF = 2
# Warm seconds per simulated day (five jobs) at local[4] on a 4-core host.
NOMINAL_DAY_S = 2.8
FIRST_START = dt.date(1995, 3, 1)
LAST_START = dt.date(2001, 5, 1)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
JOBS = (
    "events_snapshot",
    "orders_window",
    "orders_retention",
    "customer_upsert",
    "customer_jdbc",
)
CUSTOMER_COLS = ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
ORDERS_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)
EVENTS_COLS = ("event_id", "ts", "user_id", "event_type", "value", "props")
# The DOUBLE columns, where clean_infinities turns +-inf into NULL.
DOUBLE_COLS = {"c_acctbal", "o_totalprice", "value"}


def days(seed: int) -> list[dt.datetime]:
    """The run's consecutive load dates, from a seeded start date."""
    rng = random.Random(f"etl_daily_load:{seed}")
    start = FIRST_START + dt.timedelta(
        days=rng.randrange((LAST_START - FIRST_START).days)
    )
    first = dt.datetime.combine(start, dt.time())
    return [first + dt.timedelta(days=i) for i in range(DAYS)]


def active_customers(orders, date: dt.datetime) -> list[int]:
    """The customers with an order placed on ``date`` in the ``orders`` table."""
    import pyarrow as pa
    import pyarrow.compute as pc

    col = orders["o_orderdate"]
    on_date = pc.and_(
        pc.greater_equal(col, pa.scalar(date, col.type)),
        pc.less(col, pa.scalar(date + dt.timedelta(days=1), col.type)),
    )
    return sorted(set(orders.filter(on_date)["o_custkey"].to_pylist()))


def delta_rows(seed: int, day: int, changed: list[int], top: int) -> list[tuple]:
    """Day ``day``'s (1-based) customer delta: the ``changed`` keys, then new keys.

    New keys follow ``top``, the base table's largest key. The first ``N_INF``
    balances are +-inf, which ``clean_infinities`` must turn into NULL.
    """
    rng = random.Random(f"etl_daily_load:{seed}:delta:{day}")
    keys = list(changed) + [top + 1 + (day - 1) * N_NEW + j for j in range(N_NEW)]
    rows = []
    for i, key in enumerate(keys):
        bal = round(rng.uniform(-999.99, 9999.99), 2)
        if i < N_INF:
            bal = float("inf") if i % 2 == 0 else float("-inf")
        rows.append(
            (key, f"Customer#{key:09d}/d{day}", rng.randrange(25), bal, rng.choice(SEGMENTS))
        )
    return rows


def setup() -> None:
    """Nothing beyond the engine import; the inputs are made after set-up."""


class _Targets:
    """One run's sources, targets, deltas and expected target states."""

    def __init__(self, bench):
        import duckdb
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        self.bench = bench
        self.dates = days(bench.seed)
        self.d0 = self.dates[0] - dt.timedelta(days=1)
        src = bench.sf_dir
        self.events_src = os.path.join(src, "events.parquet")
        self.orders_src = os.path.join(src, "orders.parquet")
        self.customer_src = os.path.join(src, "customer.parquet")
        root = os.path.join(bench.tmp, "etl")
        self.path = {job: os.path.join(root, job) for job in JOBS}
        self.delta_dir = os.path.join(root, "deltas")
        self.sqlite = os.path.join(root, "target.sqlite")
        os.makedirs(self.delta_dir)

        # State after D0: the window and retention targets hold D0's extract,
        # the customer targets the base table.
        orders = pq.read_table(self.orders_src)
        self.orders = orders
        col = orders["o_orderdate"]
        lo = pa.scalar(self.d0 - dt.timedelta(days=WINDOW_DAYS), col.type)
        hi = pa.scalar(self.d0 + dt.timedelta(days=1), col.type)
        d0_extract = orders.filter(pc.and_(pc.greater_equal(col, lo), pc.less(col, hi)))
        for job in ("orders_window", "orders_retention"):
            os.makedirs(self.path[job])
            pq.write_table(d0_extract, os.path.join(self.path[job], "part-d0.parquet"))
        os.makedirs(self.path["customer_upsert"])
        shutil.copy(
            self.customer_src, os.path.join(self.path["customer_upsert"], "part-d0.parquet")
        )
        customer = pq.read_table(self.customer_src)
        self.customer_schema = customer.schema
        self.top_key = max(customer["c_custkey"].to_pylist())
        with contextlib.closing(sqlite3.connect(self.sqlite)) as con:
            con.execute(
                "CREATE TABLE customer (c_custkey INTEGER PRIMARY KEY, c_name TEXT, "
                "c_nationkey INTEGER, c_acctbal REAL, c_mktsegment TEXT)"
            )
            con.executemany(
                "INSERT INTO customer VALUES (?, ?, ?, ?, ?)",
                zip(*(customer[c].to_pylist() for c in CUSTOMER_COLS)),
            )
            con.commit()

        self.duck = duckdb.connect()
        self.duck.execute(f"SET temp_directory='{bench.tmp}/duckdb'")
        self.duck.execute("SET threads=4")
        self.duck.execute(
            "CREATE TABLE deltas (day INTEGER, c_custkey BIGINT, c_name VARCHAR, "
            "c_nationkey INTEGER, c_acctbal DOUBLE, c_mktsegment VARCHAR)"
        )
        self._pa, self._pq = pa, pq

    def write_delta(self, day: int) -> str:
        changed = active_customers(self.orders, self.dates[day - 1])
        rows = delta_rows(self.bench.seed, day, changed, self.top_key)
        path = os.path.join(self.delta_dir, f"day{day}.parquet")
        columns = list(zip(*rows))
        table = self._pa.Table.from_arrays(
            [self._pa.array(c, type=f.type) for c, f in zip(columns, self.customer_schema)],
            schema=self.customer_schema,
        )
        self._pq.write_table(table, path)
        self.duck.executemany(
            "INSERT INTO deltas VALUES (?, ?, ?, ?, ?, ?)", [(day, *r) for r in rows]
        )
        return path

    def target_size(self, job: str) -> tuple[int, int]:
        """(bytes, rows) of a parquet target; (0, 0) for the SQLite one."""
        if job == "customer_jdbc":
            return 0, 0
        files = glob.glob(os.path.join(self.path[job], "*.parquet"))
        return (
            sum(os.path.getsize(f) for f in files),
            sum(self._pq.ParquetFile(f).metadata.num_rows for f in files),
        )

    # -- expected results (DuckDB, from the sources and the deltas) -----------

    def _diff(self, expected_sql: str, got_sql: str) -> int:
        """Rows in one multiset and not the other, both ways."""
        return self.duck.execute(
            f"SELECT (SELECT count(*) FROM ({expected_sql} EXCEPT ALL {got_sql})) + "
            f"(SELECT count(*) FROM ({got_sql} EXCEPT ALL {expected_sql}))"
        ).fetchone()[0]

    def _target(self, job: str, cols: tuple[str, ...]) -> str:
        return f"SELECT {', '.join(cols)} FROM read_parquet('{self.path[job]}/*.parquet')"

    @staticmethod
    def _source(path: str, cols: tuple[str, ...], where: str = "") -> str:
        """Every row of ``path`` that ``where`` keeps, as ``clean_infinities`` leaves it."""
        exprs = ", ".join(
            f"CASE WHEN isinf({c}) THEN NULL ELSE {c} END AS {c}" if c in DOUBLE_COLS else c
            for c in cols
        )
        return f"SELECT {exprs} FROM read_parquet('{path}') {where}"

    def _customer_expected(self, day: int) -> str:
        return (
            "SELECT c_custkey, c_name, c_nationkey, "
            "CASE WHEN isinf(c_acctbal) THEN NULL ELSE c_acctbal END AS c_acctbal, "
            "c_mktsegment FROM ("
            f"  SELECT 0 AS day, * FROM read_parquet('{self.customer_src}')"
            f"  UNION ALL SELECT * FROM deltas WHERE day <= {day}"
            ") QUALIFY row_number() OVER (PARTITION BY c_custkey ORDER BY day DESC) = 1"
        )

    def check(self, job: str, day: int) -> str | None:
        """None if ``job``'s target is right after day ``day``, else why not."""
        if job == "events_snapshot":
            exp = self._source(self.events_src, EVENTS_COLS)
            bad = self._diff(exp, self._target(job, EVENTS_COLS))
        elif job == "orders_window":
            lo = self.d0 - dt.timedelta(days=WINDOW_DAYS)
            hi = self.dates[day - 1] + dt.timedelta(days=1)
            exp = self._source(
                self.orders_src,
                ORDERS_COLS,
                f"WHERE o_orderdate >= TIMESTAMP '{lo}' AND o_orderdate < TIMESTAMP '{hi}'",
            )
            bad = self._diff(exp, self._target(job, ORDERS_COLS))
        elif job == "orders_retention":
            # Reference Method-2 semantics: each day deletes rows older than
            # its cutoff, then appends its whole window, so a row the latest
            # cutoff keeps appears once per load that extracted it (cutoffs
            # only grow, so the latest one is the only lower bound left).
            cutoff = self.dates[day - 1] - dt.timedelta(days=WINDOW_DAYS)
            loads = [self.d0] + self.dates[:day]
            exp = " UNION ALL ".join(
                self._source(
                    self.orders_src,
                    ORDERS_COLS,
                    f"WHERE o_orderdate >= TIMESTAMP '{cutoff}' "
                    f"AND o_orderdate < TIMESTAMP '{d + dt.timedelta(days=1)}'",
                )
                for d in loads
            )
            bad = self._diff(f"({exp})", self._target(job, ORDERS_COLS))
        elif job == "customer_upsert":
            bad = self._diff(self._customer_expected(day), self._target(job, CUSTOMER_COLS))
        else:
            with contextlib.closing(sqlite3.connect(self.sqlite)) as con:
                got = set(
                    con.execute(f"SELECT {', '.join(CUSTOMER_COLS)} FROM customer").fetchall()
                )
            exp = set(self.duck.execute(self._customer_expected(day)).fetchall())
            bad = len(got ^ exp)
        return f"{bad} rows differ from the expected target" if bad else None


def _pipelines(bench, targets: _Targets, index: int, delta_path: str) -> dict:
    """The day's five pipelines, with spans around every layer call."""
    from pyspark.sql import functions as F

    from extract_transform_load_template_multidb_spark.sinks import (
        JdbcUpsertWriter,
        ParquetSink,
    )
    from extract_transform_load_template_multidb_spark.sources import FileSource
    from extract_transform_load_template_multidb_spark.transforms import (
        clean_infinities,
        window_filter,
    )

    spark, tr = bench.spark, bench.tracer
    date = targets.dates[index - 1]
    cutoff = date - dt.timedelta(days=WINDOW_DAYS)

    def as_of(df):
        return df.filter(F.col("o_orderdate") < F.lit(date + dt.timedelta(days=1)))

    def last_30_days(df):
        return window_filter(df, "o_orderdate", days=WINDOW_DAYS, anchor=date)

    def window_overwrite(df):
        ParquetSink(targets.path["orders_window"]).window_overwrite(
            df, "o_orderdate", cutoff, spark
        )

    def retention_append(df):
        ParquetSink(targets.path["orders_retention"]).retention_append(
            df, "o_orderdate", cutoff, spark
        )

    def upsert(df):
        ParquetSink(targets.path["customer_upsert"]).upsert(df, ("c_custkey",), spark)

    jdbc = JdbcUpsertWriter(
        functools.partial(sqlite3.connect, targets.sqlite, timeout=60),
        "customer",
        keys=["c_custkey"],
        dialect="sqlite",
    )
    specs = {
        "events_snapshot": (
            targets.events_src,
            [clean_infinities],
            ("overwrite", ParquetSink(targets.path["events_snapshot"]).overwrite),
        ),
        "orders_window": (
            targets.orders_src,
            [as_of, last_30_days, clean_infinities],
            ("window_overwrite", window_overwrite),
        ),
        "orders_retention": (
            targets.orders_src,
            [as_of, last_30_days, clean_infinities],
            ("retention_append", retention_append),
        ),
        "customer_upsert": (delta_path, [clean_infinities], ("upsert", upsert)),
        "customer_jdbc": (delta_path, [clean_infinities], ("jdbc_upsert", jdbc.write)),
    }
    out = {}
    for job, (path, transforms, (sink_name, sink)) in specs.items():
        out[job] = (
            tr.wrap("sources.read", FileSource(path).read),
            [tr.wrap(f"transforms.{t.__name__}", t) for t in transforms],
            tr.wrap(f"sinks.{sink_name}", sink),
        )
    return out


def _run_job(bench, job: str, spec, op) -> None:
    from extract_transform_load_template_multidb_spark.pipeline import Pipeline

    source, transforms, sink = spec
    tracer = bench.tracer
    attempts = []

    def counted_source(spark):
        attempts.append(1)
        tracer.job_group(f"{op.op_id}|build")
        return source(spark)

    def mark_action(df):
        # Pipeline.build has finished: the jobs that follow are the action's.
        tracer.job_group(f"{op.op_id}|action")
        return df

    pipe = Pipeline(
        name=job,
        source=counted_source,
        transforms=transforms + [mark_action],
        sink=sink,
        retries=1,
        retry_delay=0.0,
    )
    with tracer.span("pipeline.run"):
        op.rows = pipe.run(bench.spark)
    op.extra["attempts"] = len(attempts)


def run(bench) -> None:
    targets = _Targets(bench)
    n_days = 1 + bench.warm_passes(NOMINAL_DAY_S)
    if n_days > DAYS:
        raise ValueError(f"--seconds {bench.seconds} needs {n_days} days, more than {DAYS}")
    for index in range(1, n_days + 1):
        delta_path = targets.write_delta(index)
        specs = _pipelines(bench, targets, index, delta_path)
        bench.pass_no = index - 1
        done = []
        for job in JOBS:
            op = bench.timed(
                job, functools.partial(_run_job, bench, job, specs[job]), warm=index > 1
            )
            op.extra["day"] = index
            done.append(op)
        for op in done:  # outside the timed ops
            if op.ok:
                why = targets.check(op.key, index)
                if why:
                    op.fail(why)
            op.extra["target_bytes"], op.extra["target_rows"] = targets.target_size(op.key)
    targets.duck.close()


def probe_catalog(bench) -> None:
    """Call ``catalog.load_table`` directly: a memo miss, then a memo hit."""
    from extract_transform_load_template_multidb_spark import catalog

    for _ in range(2):
        for name in ("events", "orders", "customer"):
            catalog.load_table(bench.spark, bench.sf_dir, name)

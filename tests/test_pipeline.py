"""Pipeline runner: lazy composition, record-count metric, notify, retry."""

from __future__ import annotations

import datetime as dt
import functools
import os
import sqlite3
import time

import pytest
from pyspark.sql import functions as F

from extract_transform_load_template_multidb_spark.pipeline import Notifier, Pipeline
from extract_transform_load_template_multidb_spark.sinks import (
    JdbcUpsertWriter,
    ParquetSink,
)
from extract_transform_load_template_multidb_spark.sinks.jdbc_upsert import (
    execute_sink_sql,
)
from extract_transform_load_template_multidb_spark.sources import FileSource
from extract_transform_load_template_multidb_spark.transforms import (
    clean_infinities,
    window_filter,
)


def test_method2_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """Method-2 shape: windowed extract → clean → append, with count metric."""
    sent = []
    sink = ParquetSink(os.path.join(tmp_path, "events_out"))
    pipe = Pipeline(
        name="events_window_load",
        source=FileSource(os.path.join(sf_dir, "events.parquet")),
        transforms=[
            lambda df: df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
            if dict(df.dtypes).get("ts") == "bigint"
            else df,
            lambda df: window_filter(df, "ts", days=30),
            lambda df: clean_infinities(df, ["value"]),
        ],
        sink=sink.append,
        notifier=Notifier(send=lambda s, b: sent.append((s, b))),
    )
    n = pipe.run(spark)
    assert n > 0
    out = spark.read.parquet(sink.path)
    assert out.count() == n
    # inf values were cleaned
    assert out.filter(F.col("value").isin(float("inf"), float("-inf"))).count() == 0
    assert sent and sent[0][0].startswith("Data Load Successful")
    assert str(n) in sent[0][1]


def test_pipeline_retry_then_fail(spark):
    sent = []
    calls = {"n": 0}

    def bad_source(s):
        calls["n"] += 1
        raise RuntimeError("connection refused")

    pipe = Pipeline(
        name="doomed",
        source=bad_source,
        sink=lambda df: None,
        notifier=Notifier(send=lambda s, b: sent.append(s)),
        retries=1,
        retry_delay=0.01,
    )
    with pytest.raises(RuntimeError):
        pipe.run(spark)
    assert calls["n"] == 2  # initial + 1 retry (reference default_args)
    assert [s for s in sent if s.startswith("Data Load Failed")]


def test_smtp_sender_message_shape():
    """smtp_sender renders exactly the reference C4 email
    (Template-to-MySQL/BigQuery-to-MySQL-Method-1.py:35-46): MIMEText body,
    From/To/Subject headers, sendmail then quit — and never raises."""
    from extract_transform_load_template_multidb_spark.pipeline import smtp_sender

    calls = {}

    class FakeSMTP:
        def __init__(self, addr, port):
            calls["connect"] = (addr, port)

        def sendmail(self, sender, recipients, payload):
            calls["sendmail"] = (sender, recipients, payload)

        def quit(self):
            calls["quit"] = True

    send = smtp_sender(
        "messenger.example.com",
        "office@example.com",
        ["a@example.com", "b@example.com"],
        port=25,
        smtp_factory=FakeSMTP,
    )
    Notifier(send=send).success("events_load", 1234)
    assert calls["connect"] == ("messenger.example.com", 25)
    sender, recipients, payload = calls["sendmail"]
    assert sender == "office@example.com"
    assert recipients == ["a@example.com", "b@example.com"]
    assert "Subject: Data Load Successful: events_load" in payload
    assert "To: a@example.com, b@example.com" in payload
    assert "Records: 1234" in payload
    assert calls["quit"]


def test_smtp_sender_swallows_errors():
    from extract_transform_load_template_multidb_spark.pipeline import smtp_sender

    def boom(addr, port):
        raise ConnectionRefusedError("no smtp here")

    send = smtp_sender("h", "s@x", ["r@x"], smtp_factory=boom)
    send("subject", "body")  # must not raise


def test_pipeline_from_config_end_to_end(spark, sf_dir, tmp_path):
    """The reference's copy-a-template-edit-constants surface as one
    declarative dict: file source → clean + window → parquet append,
    with the count metric and notification."""
    from extract_transform_load_template_multidb_spark.config import (
        pipeline_from_config,
    )

    sent = []
    out = os.path.join(tmp_path, "cfg_out")
    pipe = pipeline_from_config(
        {
            "name": "cfg_events_load",
            "source": {
                "type": "file",
                "path": os.path.join(sf_dir, "orders.parquet"),
            },
            "transforms": [
                {"op": "select", "cols": ["o_orderkey", "o_orderdate"]},
                {"op": "window_filter", "col": "o_orderdate", "days": 60},
            ],
            "sink": {"type": "parquet", "path": out, "mode": "append"},
            "retries": 0,
            "retry_delay": 0.01,
        }
    )
    pipe.notifier = Notifier(send=lambda s, b: sent.append((s, b)))
    n = pipe.run(spark)
    assert n > 0
    got = spark.read.parquet(out)
    assert got.count() == n
    assert set(got.columns) == {"o_orderkey", "o_orderdate"}
    assert sent and sent[0][0].startswith("Data Load Successful")


def test_pipeline_from_config_rejects_unknowns():
    from extract_transform_load_template_multidb_spark.config import (
        pipeline_from_config,
    )

    with pytest.raises(ValueError, match="missing required"):
        pipeline_from_config({"name": "x"})
    with pytest.raises(ValueError, match="unknown source type"):
        pipeline_from_config(
            {"name": "x", "source": {"type": "ftp"}, "sink": {}}
        )
    with pytest.raises(ValueError, match="unknown transform op"):
        pipeline_from_config(
            {
                "name": "x",
                "source": {"type": "file", "path": "/p"},
                "transforms": [{"op": "mystery"}],
                "sink": {"type": "parquet", "path": "/o"},
            }
        )
    with pytest.raises(ValueError, match="unknown sink type"):
        pipeline_from_config(
            {
                "name": "x",
                "source": {"type": "file", "path": "/p"},
                "sink": {"type": "kafka"},
            }
        )


# -- the loaded-row count across every write semantic ----------------------
#
# Each case loads a 100-row base (keys 0..99), then a 50-row delta (keys
# 75..124); row k is dated _DAY0 + k days. The first run creates the target,
# the second rewrites it, so the windowed modes and upsert take their
# read-and-swap path. ``Pipeline.run`` must return the rows each run handed
# the sink, with nothing cached on the way.

_DAY0 = dt.date(2024, 1, 1)
_CUTOFF = _DAY0 + dt.timedelta(days=74)

_SEMANTICS = {
    # name: (sink factory, target rows after base + delta)
    "append": (lambda sink, spark: sink.append, 150),
    "overwrite": (lambda sink, spark: sink.overwrite, 50),
    "window_overwrite": (
        lambda sink, spark: lambda df: sink.window_overwrite(df, "d", _CUTOFF, spark),
        74 + 50,
    ),
    "retention_append": (
        lambda sink, spark: lambda df: sink.retention_append(df, "d", _CUTOFF, spark),
        26 + 50,
    ),
    "upsert": (lambda sink, spark: lambda df: sink.upsert(df, ("k",), spark), 125),
}


def _keys_file(spark, tmp_path, name: str, first: int, n: int) -> str:
    path = os.path.join(tmp_path, name)
    spark.range(first, first + n).select(
        F.col("id").cast("int").alias("k"),
        F.date_add(F.lit(_DAY0), F.col("id").cast("int")).alias("d"),
        (F.col("id") * 1.5).alias("v"),
    ).repartition(3).write.parquet(path)
    return path


def _persisted(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _base_then_delta(spark, tmp_path, sink) -> None:
    """Load the base, then the delta, through ``sink``; each run must
    return its own row count and cache nothing, neither before the sink
    runs nor after."""
    for name, first, n in (("base", 0, 100), ("delta", 75, 50)):
        src = _keys_file(spark, tmp_path, name, first, n)
        baseline = _persisted(spark)

        def checked(df):
            assert _persisted(spark) == baseline
            return sink(df)

        pipe = Pipeline(
            name=f"load_{name}",
            source=lambda s, p=src: s.read.parquet(p),
            sink=checked,
            retries=0,
        )
        assert pipe.run(spark) == n
        assert _persisted(spark) == baseline


@pytest.mark.parametrize("mode", sorted(_SEMANTICS))
def test_run_counts_rows_loaded_by_each_write_semantic(spark, tmp_path, mode):
    make_sink, target_rows = _SEMANTICS[mode]
    sink = ParquetSink(os.path.join(tmp_path, "target"))
    _base_then_delta(spark, tmp_path, make_sink(sink, spark))
    assert spark.read.parquet(sink.path).count() == target_rows


def _sqlite(path: str):
    return sqlite3.connect(path, timeout=60)


def test_run_counts_rows_loaded_by_jdbc_upsert(spark, tmp_path):
    """The JDBC writer's RDD action fires no observation; its own count is
    the one returned."""
    factory = functools.partial(_sqlite, os.path.join(tmp_path, "target.db"))
    execute_sink_sql(
        factory, ["CREATE TABLE t (k INTEGER PRIMARY KEY, d TEXT, v REAL)"]
    )
    writer = JdbcUpsertWriter(factory, "t", keys=["k"], dialect="sqlite")
    _base_then_delta(spark, tmp_path, writer.write)
    con = factory()
    assert con.execute("SELECT count(*) FROM t").fetchone()[0] == 125
    con.close()


def test_run_retry_counts_with_a_fresh_observation(spark, tmp_path):
    """A sink that fails once then writes: the retry observes its frame
    with a new Observation (reusing one raises REUSE_OBSERVATION)."""
    sent = []
    src = _keys_file(spark, tmp_path, "src", 0, 40)
    sink = ParquetSink(os.path.join(tmp_path, "out"))
    calls = {"n": 0}

    def flaky(df):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("target busy")
        sink.append(df)

    pipe = Pipeline(
        name="flaky_load",
        source=lambda s: s.read.parquet(src),
        sink=flaky,
        notifier=Notifier(send=lambda s, b: sent.append(s)),
        retries=1,
        retry_delay=0.01,
    )
    assert pipe.run(spark) == 40
    assert calls["n"] == 2
    assert spark.read.parquet(sink.path).count() == 40
    assert [s.split(":")[0] for s in sent] == [
        "Data Load Failed",
        "Data Load Successful",
    ]


@pytest.mark.parametrize(
    "sink",
    [
        lambda df: None,
        lambda df: df.rdd.foreachPartition(lambda rows: None),
    ],
    ids=["no_action", "rdd_action_only"],
)
def test_run_fails_loudly_when_no_count_is_observed(spark, tmp_path, sink):
    """A sink that returns None without a Dataset action leaves the
    observation unfired; ``run`` must raise, not block on it."""
    sent = []
    src = _keys_file(spark, tmp_path, "src", 0, 10)
    pipe = Pipeline(
        name="silent_sink",
        source=lambda s: s.read.parquet(src),
        sink=sink,
        notifier=Notifier(send=lambda s, b: sent.append(s)),
        retries=0,
    )
    start = time.monotonic()
    with pytest.raises(RuntimeError, match="silent_sink.*Dataset action"):
        pipe.run(spark)
    assert time.monotonic() - start < 60
    assert sent == ["Data Load Failed: silent_sink"]


# -- a warm daily load runs its writes and nothing else -----------------------
#
# The five daily job shapes of the ETL benchmark (``perfbench/
# etl_daily_load.py``) at sf0.001, for two simulated days. Day 1 reads
# targets that pyarrow wrote, so it infers their schemas; on day 2 every file
# but the day's new delta is a schema-memo hit, so each job runs only its
# write. The upsert also infers the new delta and broadcasts its keys.


def test_warm_daily_load_runs_only_its_writes(
    spark, sf_dir, tmp_path, count_jobs, monkeypatch
):
    import pyarrow as pa
    import pyarrow.parquet as pq

    events_src = os.path.join(sf_dir, "events.parquet")
    orders_src = os.path.join(sf_dir, "orders.parquet")
    customer_src = os.path.join(sf_dir, "customer.parquet")
    path = {
        job: str(tmp_path / job)
        for job in ("events", "window", "retention", "upsert")
    }
    # The state a previous day left, written by pyarrow; the SQLite target
    # starts empty.
    for job, src in (
        ("window", orders_src),
        ("retention", orders_src),
        ("upsert", customer_src),
    ):
        os.makedirs(path[job])
        pq.write_table(pq.read_table(src), os.path.join(path[job], "part-d0.parquet"))
    customer = pq.read_table(customer_src)
    factory = functools.partial(_sqlite, str(tmp_path / "target.db"))
    execute_sink_sql(
        factory,
        [
            "CREATE TABLE customer (c_custkey INTEGER PRIMARY KEY, c_name TEXT, "
            "c_nationkey INTEGER, c_acctbal REAL, c_mktsegment TEXT)"
        ],
    )
    jdbc = JdbcUpsertWriter(factory, "customer", keys=["c_custkey"], dialect="sqlite")

    swapped = {}
    swap = ParquetSink._swap

    def recording_swap(self, df):
        swapped[self.path] = df
        return swap(self, df)

    monkeypatch.setattr(ParquetSink, "_swap", recording_swap)

    d0 = dt.datetime(1996, 6, 1)
    for day in (1, 2):
        date = d0 + dt.timedelta(days=day)
        cutoff = date - dt.timedelta(days=30)
        delta = str(tmp_path / f"delta{day}.parquet")
        changed = customer.slice(0, 5)
        pq.write_table(
            changed.set_column(1, "c_name", pa.array([f"d{day}"] * 5)), delta
        )

        def as_of(df, date=date):
            return df.filter(F.col("o_orderdate") < F.lit(date + dt.timedelta(days=1)))

        def last_30_days(df, date=date):
            return window_filter(df, "o_orderdate", days=30, anchor=date)

        window = [as_of, last_30_days, clean_infinities]
        jobs = {
            "events": (events_src, [clean_infinities], ParquetSink(path["events"]).overwrite),
            "window": (
                orders_src,
                window,
                lambda df, c=cutoff: ParquetSink(path["window"]).window_overwrite(
                    df, "o_orderdate", c, spark
                ),
            ),
            "retention": (
                orders_src,
                window,
                lambda df, c=cutoff: ParquetSink(path["retention"]).retention_append(
                    df, "o_orderdate", c, spark
                ),
            ),
            "upsert": (
                delta,
                [clean_infinities],
                lambda df: ParquetSink(path["upsert"]).upsert(df, ("c_custkey",), spark),
            ),
            "jdbc": (delta, [clean_infinities], jdbc.write),
        }
        ran = {}
        for job, (src, transforms, sink) in jobs.items():
            pipe = Pipeline(
                name=job,
                source=FileSource(src),
                transforms=transforms,
                sink=sink,
                retries=0,
            )
            _, ran[job] = count_jobs(lambda: pipe.run(spark))

    upsert_jobs = ran.pop("upsert")
    assert ran == {"events": 1, "window": 1, "retention": 1, "jdbc": 1}
    assert upsert_jobs <= 3
    plan = swapped[path["upsert"]]._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" not in plan
    assert spark.read.parquet(path["upsert"]).count() == customer.num_rows

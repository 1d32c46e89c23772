"""Structured Streaming tests: the same window builders that are
oracle-checked in batch mode run here under ``readStream`` +
``Trigger.AvailableNow``, plus watermarked dedup, stateful sessionization,
and the incremental foreachBatch sink semantics with checkpoint replay."""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F

from extract_transform_load_template_multidb_spark import catalog
from extract_transform_load_template_multidb_spark.catalog import load_table
from extract_transform_load_template_multidb_spark.queries._util import (
    session_seq,
)
from extract_transform_load_template_multidb_spark.sinks.parquet_sink import (
    ParquetSink,
)
from extract_transform_load_template_multidb_spark.streaming import (
    incremental as inc,
    windows as W,
)
from extract_transform_load_template_multidb_spark.streaming.stateful import (
    sessionize,
)


@pytest.fixture(scope="module")
def events_landing(spark, sf_dir, tmp_path_factory):
    """Events fixture staged into a landing dir (micros ts, stream-readable)."""
    path = str(tmp_path_factory.mktemp("landing") / "events")
    ev = load_table(spark, sf_dir, "events")
    ev.coalesce(2).write.parquet(path)
    return path, spark.read.parquet(path)


def _drain(stream_df, spark, tmp_path, name, output_mode):
    inc.run_to_memory(
        stream_df, name, str(tmp_path / f"ckpt_{name}"), output_mode
    )
    return spark.table(name)


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, events_landing, tmp_path):
    path, batch = events_landing
    stream = inc.read_file_stream(spark, path, batch.schema)
    got = _drain(
        W.tumbling_counts(stream, watermark="10 minutes"),
        spark,
        tmp_path,
        "t_tumbling",
        "complete",
    )
    want = W.tumbling_counts(batch)
    cols = ["window_start", "window_end", "event_type", "n_events", "sum_value"]
    assert _rows(got, cols) == _rows(want, cols)


def test_sliding_stream_equals_batch(spark, events_landing, tmp_path):
    path, batch = events_landing
    stream = inc.read_file_stream(spark, path, batch.schema)
    got = _drain(
        W.sliding_counts(stream, watermark="10 minutes"),
        spark,
        tmp_path,
        "t_sliding",
        "complete",
    )
    cols = ["window_start", "window_end", "event_type", "n_events"]
    assert _rows(got, cols) == _rows(W.sliding_counts(batch), cols)


def test_streaming_dedup_bounded_state(spark, events_landing, tmp_path):
    path, batch = events_landing
    stream = inc.read_file_stream(spark, path, batch.schema)
    got = _drain(
        inc.streaming_dedup(stream, ("event_id",), watermark="1 hour"),
        spark,
        tmp_path,
        "t_dedup",
        "append",
    )
    # fixture event_ids are unique → dedup is a no-op on counts
    assert got.count() == batch.count()
    # and duplicated input within the watermark collapses
    dup_path = str(tmp_path / "dup_landing")
    batch.limit(100).write.parquet(dup_path)
    batch.limit(100).write.mode("append").parquet(dup_path)
    dup_stream = inc.read_file_stream(spark, dup_path, batch.schema)
    got2 = _drain(
        inc.streaming_dedup(dup_stream, ("event_id",), watermark="1 hour"),
        spark,
        tmp_path,
        "t_dedup2",
        "append",
    )
    assert got2.count() == 100


def test_stateful_sessionize(spark, tmp_path):
    """Two bursts 2h apart per user: the first session closes when the
    second burst arrives (gap 30 min) and is emitted downstream."""
    t0 = dt.datetime(2024, 1, 1, 8, 0, 0)

    def burst(start, n):
        return [start + dt.timedelta(minutes=i) for i in range(n)]

    rows = []
    for uid in (1, 2):
        for i, ts in enumerate(
            burst(t0, 3) + burst(t0 + dt.timedelta(hours=2), 2)
        ):
            rows.append((uid, i, ts))
    # user 3: a single early burst — closed by the event-time TIMEOUT when
    # the watermark (driven by users 1/2) passes its end, not by new data
    for i, ts in enumerate(burst(t0, 2)):
        rows.append((3, i, ts))
    src = spark.createDataFrame(rows, "user_id bigint, seq int, ts timestamp")
    path = str(tmp_path / "sess_landing")
    src.coalesce(1).write.parquet(path)

    stream = inc.read_file_stream(spark, path, src.schema)
    got = _drain(
        sessionize(stream, gap_seconds=1800),
        spark,
        tmp_path,
        "t_sessions",
        "append",
    )
    cols = ["user_id", "session_start", "session_end", "n_events"]
    want = [
        (uid, t0, t0 + dt.timedelta(minutes=2, seconds=1800), 3)
        for uid in (1, 2)
    ] + [(3, t0, t0 + dt.timedelta(minutes=1, seconds=1800), 2)]
    assert _rows(got, cols) == sorted(want)


def test_available_now_append_checkpoint_no_replay(spark, tmp_path):
    src1 = spark.range(5).select(
        F.col("id").alias("k"), F.lit("a").alias("v")
    )
    landing = str(tmp_path / "landing_app")
    target = ParquetSink(str(tmp_path / "target_app"))
    ckpt = str(tmp_path / "ckpt_app")
    src1.write.parquet(landing)

    stream = inc.read_file_stream(spark, landing, src1.schema)
    inc.run_available_now(stream, target, ckpt, mode="append")
    assert spark.read.parquet(target.path).count() == 5

    # re-run with NO new files: checkpoint must prevent reprocessing
    stream = inc.read_file_stream(spark, landing, src1.schema)
    inc.run_available_now(stream, target, ckpt, mode="append")
    assert spark.read.parquet(target.path).count() == 5

    # new file arrives → only its rows are appended
    spark.range(5, 8).select(
        F.col("id").alias("k"), F.lit("b").alias("v")
    ).write.mode("append").parquet(landing)
    stream = inc.read_file_stream(spark, landing, src1.schema)
    inc.run_available_now(stream, target, ckpt, mode="append")
    assert spark.read.parquet(target.path).count() == 8


def test_available_now_upsert(spark, tmp_path):
    landing = str(tmp_path / "landing_up")
    target = ParquetSink(str(tmp_path / "target_up"))
    ckpt = str(tmp_path / "ckpt_up")
    first = spark.createDataFrame(
        [(1, "old"), (2, "old")], "k bigint, v string"
    )
    first.write.parquet(landing)
    stream = inc.read_file_stream(spark, landing, first.schema)
    inc.run_available_now(stream, target, ckpt, mode="upsert", keys=("k",))

    spark.createDataFrame(
        [(2, "new"), (3, "new")], "k bigint, v string"
    ).write.mode("append").parquet(landing)
    stream = inc.read_file_stream(spark, landing, first.schema)
    inc.run_available_now(stream, target, ckpt, mode="upsert", keys=("k",))

    got = {
        (r["k"], r["v"]) for r in spark.read.parquet(target.path).collect()
    }
    assert got == {(1, "old"), (2, "new"), (3, "new")}


def test_available_now_upsert_hits_schema_memo_across_batches(
    spark, tmp_path, monkeypatch
):
    """pyspark hands each ``foreachBatch`` call a new SparkSession object
    over the same JVM session: the target's schema, recorded by one
    micro-batch's write, must still be a memo hit in the next one."""
    landing = str(tmp_path / "landing_memo")
    target = ParquetSink(str(tmp_path / "target_memo"))
    schema = spark.createDataFrame([], "k bigint, v string").schema
    for i in range(3):
        spark.createDataFrame([(i, "a"), (i + 1, "b")], schema).coalesce(
            1
        ).write.mode("append").parquet(landing)
    hits = []
    real_get = catalog.memo_get

    def spy(memo, key, *rest):
        hit = real_get(memo, key, *rest)
        if memo is catalog._SCHEMA_MEMO and key[2] == target.path:
            hits.append(hit is not None)
        return hit

    monkeypatch.setattr(catalog, "memo_get", spy)
    stream = inc.read_file_stream(
        spark, landing, schema, max_files_per_trigger=1
    )
    inc.run_available_now(
        stream, target, str(tmp_path / "ckpt_memo"), mode="upsert",
        keys=("k",),
    )
    # Three micro-batches: the first creates the target, the next two
    # read it, and at most one of those reads may infer.
    assert len(hits) == 2
    assert hits.count(False) <= 1
    got = spark.read.parquet(target.path)
    assert sorted(r["k"] for r in got.collect()) == [0, 1, 2, 3]


def test_session_seq_gap_boundaries(spark):
    """The 30-minute rule: a gap of exactly 30 min starts a new session,
    30 min − 1 µs does not, equal timestamps share a session, and a
    user's first event is session 1."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    half = dt.timedelta(minutes=30)
    us = dt.timedelta(microseconds=1)
    rows = [
        (1, 1, t0),
        (1, 2, t0 + half),  # exactly 30 min: new session
        (1, 3, t0 + half + half - us),  # 30 min − 1 µs: same session
        (1, 4, t0 + half + half - us),  # equal ts: same session
        (2, 5, t0 + half),  # another user's first event
    ]
    ev = spark.createDataFrame(rows, "user_id int, event_id int, ts timestamp")
    got = {
        r["event_id"]: r["s"]
        for r in ev.select("event_id", session_seq().alias("s")).collect()
    }
    assert got == {1: 1, 2: 2, 3: 2, 4: 2, 5: 1}


def test_available_now_window_overwrite_idempotent(spark, tmp_path):
    """Replaying the same window (late re-delivery) must not duplicate —
    the W7 semantics under streaming."""
    landing = str(tmp_path / "landing_w7")
    target = ParquetSink(str(tmp_path / "target_w7"))
    d = dt.date(2024, 1, 1)
    batch1 = spark.createDataFrame(
        [(1, d), (2, d + dt.timedelta(days=1))], "k bigint, day date"
    )
    batch1.write.parquet(landing)
    stream = inc.read_file_stream(spark, landing, batch1.schema)
    inc.run_available_now(
        stream, target, str(tmp_path / "c1"), mode="window_overwrite",
        window_col="day",
    )
    # same window re-extracted (fresh checkpoint = full re-delivery)
    stream = inc.read_file_stream(spark, landing, batch1.schema)
    inc.run_available_now(
        stream, target, str(tmp_path / "c2"), mode="window_overwrite",
        window_col="day",
    )
    got = spark.read.parquet(target.path)
    assert got.count() == 2


def test_stream_stream_interval_join_equals_batch(spark, events_landing, tmp_path):
    """The purchase→follow interval join, run as a genuine watermarked
    stream-stream inner join, must equal its batch twin (which the driver
    oracle-checks)."""
    from extract_transform_load_template_multidb_spark.streaming import (
        joins as J,
    )

    path, batch = events_landing

    def build(ev):
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        follows = ev.select(
            F.col("event_id").alias("follow_id"),
            F.col("user_id").alias("f_user"),
            F.col("ts").alias("follow_ts"),
        )
        return J.interval_join(
            purchases,
            follows,
            left_key="p_user",
            right_key="f_user",
            left_ts="purchase_ts",
            right_ts="follow_ts",
            interval="1 hour",
            watermark="10 minutes",
        ).filter(F.col("follow_id") != F.col("purchase_id"))

    stream = inc.read_file_stream(spark, path, batch.schema)
    got = _drain(build(stream), spark, tmp_path, "t_ssjoin", "append")
    cols = ["purchase_id", "follow_id", "purchase_ts", "follow_ts"]
    assert _rows(got, cols) == _rows(build(batch), cols)
    assert got.count() > 0  # non-vacuous on the fixture


def test_stream_static_enrich_broadcasts(spark, events_landing, sf_dir, tmp_path):
    """Stream enriched with a static dimension: results match batch and
    the lookup broadcasts (the stream side never shuffles)."""
    from extract_transform_load_template_multidb_spark.streaming import (
        joins as J,
    )

    path, batch = events_landing
    dim = spark.createDataFrame(
        [(t, t.upper()) for t in ("click", "view", "purchase", "signup", "error")],
        "et string, et_label string",
    )
    stream = inc.read_file_stream(spark, path, batch.schema)
    got = _drain(
        J.stream_static_enrich(stream, dim, "event_type", "et"),
        spark,
        tmp_path,
        "t_enrich",
        "append",
    )
    assert got.count() == batch.count()
    assert got.filter(F.col("et_label").isNull()).count() == 0


def test_foreachbatch_jdbc_upsert_end_to_end(spark, tmp_path):
    """Streaming micro-batches upserted into a relational target through
    JdbcUpsertWriter inside foreachBatch — the reference's W2 load driven
    by a stream, with checkpointed exactly-once file progress."""
    import functools
    import os
    import sqlite3

    from extract_transform_load_template_multidb_spark.sinks.jdbc_upsert import (
        JdbcUpsertWriter,
    )
    from test_jdbc_upsert import _connect  # top-level, executor-picklable

    db = os.path.join(tmp_path, "stream_target.db")
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE t (k INTEGER PRIMARY KEY, v TEXT)")
    con.commit(); con.close()

    landing = str(tmp_path / "landing_jdbc")
    writer = JdbcUpsertWriter(
        functools.partial(_connect, db),
        table="t",
        keys=["k"],
        dialect="sqlite",
    )

    def write_batch(batch_df, batch_id):
        writer.write(batch_df)

    first = spark.createDataFrame([(1, "old"), (2, "old")], "k long, v string")
    first.write.parquet(landing)
    stream = inc.read_file_stream(spark, landing, first.schema)
    (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_jdbc"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    spark.createDataFrame(
        [(2, "new"), (3, "new")], "k long, v string"
    ).write.mode("append").parquet(landing)
    stream = inc.read_file_stream(spark, landing, first.schema)
    (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt_jdbc"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )

    con = sqlite3.connect(db)
    got = dict(con.execute("SELECT k, v FROM t").fetchall())
    con.close()
    assert got == {1: "old", 2: "new", 3: "new"}


def test_resample_rejects_mismatched_step(spark, events_landing):
    import pytest as _pytest

    from extract_transform_load_template_multidb_spark.operators import (
        timeseries as tsops,
    )

    _, batch = events_landing
    with _pytest.raises(ValueError, match="unsupported"):
        tsops.resample_carry_forward(batch, "user_id", "ts", "value", "2 hours")
    # '1 day' is a legal grid: buckets truncate to days and stride by days
    out = tsops.resample_carry_forward(batch, "user_id", "ts", "value", "1 day")
    assert out.filter(out.n_events > 0).count() > 0


def test_streaming_incremental_dedup_equals_batch(spark, tmp_path):
    """Per-micro-batch corpus dedup (foreachBatch + incremental MinHash)
    must union to exactly the batch answer over the same delta docs, and
    the checkpoint must prevent re-matching on replay."""
    from extract_transform_load_template_multidb_spark.operators.dedup import (
        incremental_near_dups,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "completely different words")],
        "doc_id long, text string",
    )
    wave1 = spark.createDataFrame(
        [(10, "alpha beta gamma delta"), (11, "no match at all here")],
        "doc_id long, text string",
    )
    wave2 = spark.createDataFrame(
        [(12, "completely different words")], "doc_id long, text string"
    )
    landing = str(tmp_path / "landing_incr")
    target = ParquetSink(str(tmp_path / "target_incr"))
    ckpt = str(tmp_path / "ckpt_incr")

    wave1.write.parquet(landing)
    stream = inc.read_file_stream(spark, landing, wave1.schema)
    inc.run_incremental_dedup(stream, corpus, target, ckpt, threshold=0.5)
    # replay with no new files: checkpoint prevents duplicate pairs
    stream = inc.read_file_stream(spark, landing, wave1.schema)
    inc.run_incremental_dedup(stream, corpus, target, ckpt, threshold=0.5)
    wave2.write.mode("append").parquet(landing)
    stream = inc.read_file_stream(spark, landing, wave1.schema)
    inc.run_incremental_dedup(stream, corpus, target, ckpt, threshold=0.5)

    got = {
        (r["delta_id"], r["corpus_id"], r["jaccard"])
        for r in spark.read.parquet(target.path).collect()
    }
    expected = {
        (r["delta_id"], r["corpus_id"], r["jaccard"])
        for r in incremental_near_dups(
            corpus, wave1.unionByName(wave2), threshold=0.5
        ).collect()
    }
    assert got == expected and len(got) == 2


def test_stream_stream_interval_join_left_outer(spark, events_landing, tmp_path):
    """The LEFT OUTER interval join as a watermarked stream: inner
    (matched) rows must equal the batch twin exactly, and the null-padded
    outer rows that have flushed by end-of-drain must be a subset of the
    batch outer rows, disjoint from the matched purchases. (Outer
    emission trails the watermark, so a suffix of the stream may hold
    back its outer rows at AvailableNow drain end — Spark only emits a
    null-pad once the watermark PROVES no match can arrive.)"""
    from extract_transform_load_template_multidb_spark.streaming import (
        joins as J,
    )

    path, batch = events_landing

    def build(ev):
        purchases = ev.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        clicks = ev.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("follow_id"),
            F.col("user_id").alias("f_user"),
            F.col("ts").alias("follow_ts"),
        )
        return J.interval_join(
            purchases,
            clicks,
            left_key="p_user",
            right_key="f_user",
            left_ts="purchase_ts",
            right_ts="follow_ts",
            interval="1 hour",
            watermark="10 minutes",
            how="left_outer",
        )

    cols = ["purchase_id", "follow_id", "purchase_ts", "follow_ts"]
    stream = inc.read_file_stream(spark, path, batch.schema)
    got = _drain(build(stream), spark, tmp_path, "t_ssjoin_left", "append")
    want = build(batch)

    got_inner = _rows(got.filter(F.col("follow_id").isNotNull()), cols)
    want_inner = _rows(want.filter(F.col("follow_id").isNotNull()), cols)
    assert got_inner == want_inner
    assert len(got_inner) > 0

    got_outer = _rows(got.filter(F.col("follow_id").isNull()), cols)
    want_outer = _rows(want.filter(F.col("follow_id").isNull()), cols)
    assert set(got_outer) <= set(want_outer)
    matched = {r[0] for r in got_inner}
    assert all(r[0] not in matched for r in got_outer)


def test_streaming_mv_refresh_equals_batch(spark, tmp_path):
    """Streaming MV maintenance == batch recompute, across two arrivals:
    drain half the events, then land the rest and re-run — the second run
    merges only the new files' partials (checkpoint skips the old ones),
    and the final MV matches a full batch aggregation of everything."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    landing = str(tmp_path / "landing")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)
    first.coalesce(1).write.mode("append").parquet(landing)

    v = F.col("value")
    clean = F.when(~F.isnan(v) & (F.abs(v) != float("inf")), v)

    def partial(df):
        return df.groupBy(
            "event_type", F.col("ts").cast("date").alias("day")
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(clean.cast("decimal(38,6)")).alias("sum_value_dec"),
        )

    sink = ParquetSink(str(tmp_path / "mv"))
    ckpt = str(tmp_path / "ckpt_mv")

    def run():
        stream = inc.read_file_stream(spark, landing, ev.schema)
        inc.run_mv_refresh(
            stream, sink, ckpt, partial, ("event_type", "day")
        )

    run()
    mid = spark.read.parquet(sink.path)
    assert _rows(mid, ["event_type", "day", "n_events"]) == _rows(
        partial(first), ["event_type", "day", "n_events"]
    )

    second.coalesce(1).write.mode("append").parquet(landing)
    run()
    got = spark.read.parquet(sink.path)
    want = partial(ev)
    cols = ["event_type", "day", "n_events", "sum_value_dec"]
    assert _rows(got, cols) == _rows(want, cols)


def test_transform_with_state_running_totals(spark, tmp_path):
    """transformWithStateInPandas running totals == batch aggregation:
    drain the events fixture through multiple micro-batches
    (maxFilesPerTrigger=1 over a 3-file landing) so per-key ValueState
    must persist across batches, then compare each key's LAST emitted
    row against the batch groupBy."""
    pytest.importorskip(
        "google.protobuf",
        reason="transformWithStateInPandas needs protobuf (absent in "
        "this container; operator code is env-agnostic)",
    )
    from extract_transform_load_template_multidb_spark.streaming.stateful import (
        running_totals,
    )

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    landing = str(tmp_path / "landing")
    ev.repartition(3).write.parquet(landing)

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = inc.read_file_stream(
            spark, landing, ev.schema, max_files_per_trigger=1
        )
        out = str(tmp_path / "out")
        q = (
            running_totals(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        got = spark.read.parquet(out)
        # Emitted totals are running; the per-key MAX emitted row is the
        # final state (counts only grow).
        final = got.groupBy("user_id").agg(
            F.max("n_events").alias("n_events"),
            F.max("max_value").alias("max_value"),
        )
        v = F.col("value")
        want = (
            ev.withColumn(
                "value",
                F.when(
                    ~F.isnan(v) & (F.abs(v) != float("inf")), v
                ),
            )
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.max("value").alias("max_value"),
            )
        )
        cols = ["user_id", "n_events", "max_value"]
        assert _rows(final, cols) == _rows(want, cols)
    finally:
        if prev is None:
            spark.conf.unset(
                "spark.sql.streaming.stateStore.providerClass"
            )
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )


def test_tumbling_distinct_users_stream_equals_batch(
    spark, events_landing, tmp_path
):
    """The streaming-safe distinct-user rewrite (watermarked dedupe →
    windowed count) must produce the same per-window cardinalities under
    readStream as in batch."""
    path, batch = events_landing
    stream = inc.read_file_stream(spark, path, batch.schema)
    got = _drain(
        W.tumbling_distinct_users(stream, watermark="10 minutes"),
        spark,
        tmp_path,
        "t_tumbling_users",
        "complete",
    )
    cols = ["window_start", "window_end", "n_users"]
    assert _rows(got, cols) == _rows(
        W.tumbling_distinct_users(batch), cols
    )


def test_sliding_topk_stream_equals_batch(spark, events_landing, tmp_path):
    """stream_sliding_topk_types' documented streaming pattern: run the
    shared sliding-count builder under readStream, rank the drained
    windows in the sink (windowed rank is not incrementally
    maintainable), and require exact equality with the batch-mode query
    result."""
    from pyspark.sql import Window as Win

    path, batch = events_landing
    stream = inc.read_file_stream(spark, path, batch.schema)
    counts = _drain(
        W.sliding_counts(stream, watermark="10 minutes"),
        spark,
        tmp_path,
        "t_sliding_topk",
        "complete",
    )
    ranked = (
        counts.withColumn(
            "rnk",
            F.row_number().over(
                Win.partitionBy("window_start").orderBy(
                    F.col("n_events").desc(), "event_type"
                )
            ),
        )
        .where(F.col("rnk") <= 2)
        .select(
            "window_start", "window_end", "event_type", "n_events",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
    batch_counts = W.sliding_counts(batch)
    batch_ranked = (
        batch_counts.withColumn(
            "rnk",
            F.row_number().over(
                Win.partitionBy("window_start").orderBy(
                    F.col("n_events").desc(), "event_type"
                )
            ),
        )
        .where(F.col("rnk") <= 2)
        .select(
            "window_start", "window_end", "event_type", "n_events",
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
    cols = ["window_start", "window_end", "event_type", "n_events", "rnk"]
    assert _rows(ranked, cols) == _rows(batch_ranked, cols)


def test_odata_change_feed_stream_equals_batch(spark, sf_dir, tmp_path):
    """stream_odata_incremental's contract: the SAME 500-record feed
    snapshot ingested through the offset-tracked odata_feed streaming
    source (8 micro-batches of ≤64 — the checkpointed $skip protocol,
    not one lump) and rolled up in the sink must equal the batch
    registry query row-for-row."""
    import json

    from extract_transform_load_template_multidb_spark.queries.etl import (
        stream_odata_incremental,
    )
    from extract_transform_load_template_multidb_spark.sources.odata_stream import (
        ODataChangeFeedDataSource,
    )

    try:
        spark.dataSource.register(ODataChangeFeedDataSource)
    except Exception:
        pass  # already registered in this session
    ev = load_table(spark, sf_dir, "events")
    feed_rows = (
        ev.orderBy("event_id")
        .limit(500)
        .select("event_id", "event_type")
        .collect()
    )
    records = [
        {"event_id": r["event_id"], "event_type": r["event_type"]}
        for r in feed_rows
    ]
    stream = (
        spark.readStream.format("odata_feed")
        .schema("event_id BIGINT, event_type STRING")
        .option("inline_records", json.dumps(records))
        .option("batch_size", "64")
        .load()
    )
    out = str(tmp_path / "odata_out")
    ckpt = str(tmp_path / "odata_ckpt")
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    drained = spark.read.parquet(out)
    got = sorted(
        (
            r["event_type"],
            r["n_records"],
            r["first_id"],
            r["last_id"],
        )
        for r in drained.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_records"),
            F.min("event_id").cast("long").alias("first_id"),
            F.max("event_id").cast("long").alias("last_id"),
        )
        .collect()
    )
    want = sorted(
        (r["event_type"], r["n_records"], r["first_id"], r["last_id"])
        for r in stream_odata_incremental(spark, sf_dir).collect()
    )
    assert got == want

"""Structured Streaming behavior tests that a single-batch run can't
show: multi-microbatch incremental processing, watermark late-data
drop, and custom keyed state across batches."""

from __future__ import annotations

import datetime
import os
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, value double"


def _write_batch(spark, path: str, rows: list[tuple]) -> None:
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "value"])
    spark.createDataFrame(pdf, schema=EVENTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(path)
    time.sleep(0.05)  # distinct file mtimes keep batch order stable


def _ts(h: int, m: int = 0) -> datetime.datetime:
    return datetime.datetime(2024, 1, 1, h, m)


@pytest.fixture()
def stream_dir(tmp_path):
    return str(tmp_path / "landing")


def test_watermark_drops_late_data(spark, stream_dir):
    """Append-mode windowed agg: a row older than the watermark must
    not reopen its (already emitted) window."""
    os.makedirs(stream_dir, exist_ok=True)
    _write_batch(spark, stream_dir, [(1, _ts(0, 10), 1, 1.0), (2, _ts(0, 20), 2, 1.0)])

    events = (
        spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(stream_dir)
    )
    agg = (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("bucket"), "n")
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_sink")
        .start()
    )
    try:
        q.processAllAvailable()
        # advance event time to hour 5 -> watermark 4:00, h0 window closes
        _write_batch(spark, stream_dir, [(3, _ts(5, 0), 1, 1.0)])
        q.processAllAvailable()
        closed = {r.bucket: r.n for r in spark.table("late_sink").collect()}
        assert closed.get(_ts(0)) == 2  # h0 emitted with on-time rows only

        # a straggler at h0 arrives after the watermark passed
        _write_batch(spark, stream_dir, [(4, _ts(0, 30), 3, 1.0)])
        q.processAllAvailable()
        final = {r.bucket: r.n for r in spark.table("late_sink").collect()}
        assert final.get(_ts(0)) == 2, "late row beyond watermark must be dropped"
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_stateful_profile_across_batches(spark, stream_dir):
    """applyInPandasWithState keeps per-user accumulators across
    micro-batches; final state equals the batch aggregate."""
    from etl_xlsx_potgres_spark.streaming.stateful import running_user_profile

    os.makedirs(stream_dir, exist_ok=True)
    _write_batch(
        spark, stream_dir, [(1, _ts(1), 1, 10.0), (2, _ts(1, 30), 1, 5.0), (3, _ts(2), 2, 7.0)]
    )
    events = (
        spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(stream_dir)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    q = (
        running_user_profile(events)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("profile_sink")
        .start()
    )
    try:
        q.processAllAvailable()
        _write_batch(spark, stream_dir, [(4, _ts(3), 1, 2.5), (5, _ts(3, 10), 3, 1.0)])
        q.processAllAvailable()
        # update-mode sink: last emission per user wins
        pdf = spark.table("profile_sink").toPandas()
        latest = pdf.groupby("user_id").last()
        assert latest.loc[1, "n_events"] == 3 and latest.loc[1, "total_value"] == 17.5
        assert latest.loc[2, "n_events"] == 1 and latest.loc[2, "total_value"] == 7.0
        assert latest.loc[3, "n_events"] == 1
        assert latest.loc[1, "last_ts"] == _ts(3)
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_foreach_batch_exactly_once(spark, stream_dir, tmp_path):
    """Replaying a micro-batch through the idempotent writer must not
    duplicate rows: per-batch-id partition overwrite."""
    from etl_xlsx_potgres_spark.streaming.foreach_batch import (
        idempotent_parquet_writer,
    )

    os.makedirs(stream_dir, exist_ok=True)
    out = str(tmp_path / "sink")
    writer = idempotent_parquet_writer(out)

    _write_batch(spark, stream_dir, [(1, _ts(1), 1, 1.0), (2, _ts(2), 2, 2.0)])
    events = (
        spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(stream_dir)
    )
    q = events.writeStream.foreachBatch(writer).start()
    try:
        q.processAllAvailable()
        first = spark.read.parquet(out)
        assert first.count() == 2

        # simulate an at-least-once replay of batch 0
        replay = spark.createDataFrame(
            pd.DataFrame(
                [(1, _ts(1), 1, 1.0), (2, _ts(2), 2, 2.0)],
                columns=["event_id", "ts", "user_id", "value"],
            ),
            schema=EVENTS_SCHEMA,
        )
        writer(replay, 0)
        assert spark.read.parquet(out).count() == 2, "replay must not duplicate"

        # a new batch lands in its own partition
        _write_batch(spark, stream_dir, [(3, _ts(3), 1, 3.0)])
        q.processAllAvailable()
        assert spark.read.parquet(out).count() == 3
    finally:
        q.stop()


def test_streaming_dedup_across_batches(spark, stream_dir):
    """A key replayed in a later micro-batch (within the watermark) is
    dropped; distinct keys all pass."""
    from etl_xlsx_potgres_spark.streaming.events_stream import dedup_stream

    os.makedirs(stream_dir, exist_ok=True)
    _write_batch(spark, stream_dir, [(1, _ts(1), 1, 1.0), (2, _ts(1, 5), 2, 2.0)])
    events = (
        spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(stream_dir)
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    q = (
        dedup_stream(events, ["event_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_sink")
        .start()
    )
    try:
        q.processAllAvailable()
        # replay event_id=1 (duplicate) plus a fresh event in batch 2
        _write_batch(spark, stream_dir, [(1, _ts(1), 1, 1.0), (3, _ts(1, 10), 3, 3.0)])
        q.processAllAvailable()
        ids = sorted(r.event_id for r in spark.table("dedup_sink").collect())
        assert ids == [1, 2, 3], f"duplicate leaked or row lost: {ids}"
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize("width", [3, 5])
def test_state_width_follows_session(spark, stream_dir, width):
    """``run_streaming_query`` neither sets nor restores session conf:
    its state stores take the session's shuffle width, the engine's one
    width rule."""
    from pyspark.sql.streaming import StreamingQueryListener

    from etl_xlsx_potgres_spark.streaming.events_stream import run_streaming_query

    class Widths(StreamingQueryListener):
        def __init__(self) -> None:
            self.widths: list[int] = []
            self.terminated = False

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            if event.progress.name == name:
                self.widths += [
                    op.numShufflePartitions
                    for op in event.progress.stateOperators
                ]

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated = True

    name = f"width_sink_{width}"
    os.makedirs(stream_dir, exist_ok=True)
    _write_batch(spark, stream_dir, [(1, _ts(1), 1, 1.0), (2, _ts(2), 2, 2.0)])
    agg = (
        spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(stream_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    listener = Widths()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    spark.streams.addListener(listener)
    try:
        before = dict(spark.conf.getAll)
        assert run_streaming_query(agg, name).count() == 2
        after = dict(spark.conf.getAll)
        deadline = time.monotonic() + 30
        while not listener.terminated and time.monotonic() < deadline:
            time.sleep(0.1)
    finally:
        spark.streams.removeListener(listener)
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert after == before
    assert listener.widths and set(listener.widths) == {width}, listener.widths


def test_stream_stream_interval_join(spark, tmp_path):
    """Stream-stream join with time-range condition: a purchase must
    match clicks buffered from EARLIER microbatches (cross-batch
    state), and clicks outside the interval must not match."""
    from etl_xlsx_potgres_spark.streaming.events_stream import interval_join

    p_dir, c_dir = str(tmp_path / "purchases"), str(tmp_path / "clicks")
    os.makedirs(p_dir, exist_ok=True)
    os.makedirs(c_dir, exist_ok=True)

    # batch 1: clicks only — they must be buffered in join state
    _write_batch(spark, c_dir, [(100, _ts(0, 10), 1, 1.0), (101, _ts(0, 5), 2, 1.0)])

    purchases = (
        spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(p_dir)
    )
    clicks = spark.readStream.schema(EVENTS_SCHEMA).format("parquet").load(c_dir)
    joined = interval_join(purchases, clicks, max_delay="1 hour")

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_sink")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: user 1 buys 30 min after the click (match); user 2
        # buys 3h after theirs (outside the 1h interval -> no match)
        _write_batch(spark, p_dir, [(200, _ts(0, 40), 1, 9.0), (201, _ts(3, 0), 2, 9.0)])
        q.processAllAvailable()
        rows = {
            (r.purchase_id, r.click_id)
            for r in spark.table("ssj_sink").collect()
        }
        assert rows == {(200, 100)}, f"unexpected join result: {rows}"
    finally:
        q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _typed_frame(spark, rows):
    pdf = pd.DataFrame(rows, columns=["ts", "event_type", "value"])
    return spark.createDataFrame(
        pdf, schema="ts timestamp, event_type string, value double"
    )


def test_continuous_aggregate_accumulates_across_batches(spark, tmp_path):
    """The rollup store must accumulate partials across micro-batches,
    touching only the buckets each batch covers."""
    from etl_xlsx_potgres_spark.streaming.foreach_batch import (
        continuous_aggregate_writer,
    )

    out = str(tmp_path / "rollup")
    writer = continuous_aggregate_writer(out, bucket="1 day")
    d1, d2 = datetime.datetime(2024, 1, 1, 3), datetime.datetime(2024, 1, 2, 4)

    writer(_typed_frame(spark, [(d1, "click", 1.0), (d1, "click", 2.0), (d1, "purchase", 10.0)]), 0)
    writer(_typed_frame(spark, [(d1, "click", 0.5), (d2, "click", 4.0)]), 1)
    writer(_typed_frame(spark, [(d2, "purchase", 7.0)]), 2)

    store = spark.read.parquet(out).toPandas()
    got = {
        (str(r["bucket"])[:10], r["event_type"]): (int(r["n"]), float(r["fsum"]) / 10000)
        for _, r in store.iterrows()
    }
    assert got[("2024-01-01", "click")] == (3, 3.5)
    assert got[("2024-01-01", "purchase")] == (1, 10.0)
    assert got[("2024-01-02", "click")] == (1, 4.0)
    assert got[("2024-01-02", "purchase")] == (1, 7.0)


def test_continuous_aggregate_read_error_propagates(spark, tmp_path):
    """A corrupt/unreadable store must fail the batch (so streaming
    retries), NOT be treated as 'first batch' and overwritten."""
    from etl_xlsx_potgres_spark.streaming.foreach_batch import (
        continuous_aggregate_writer,
    )

    out = tmp_path / "corrupt"
    out.mkdir()
    (out / "part-00000.parquet").write_bytes(b"this is not parquet")
    writer = continuous_aggregate_writer(str(out))
    d1 = datetime.datetime(2024, 1, 1, 3)
    with pytest.raises(Exception):
        writer(_typed_frame(spark, [(d1, "click", 1.0)]), 0)
    # the garbage store was not clobbered by a batch-only overwrite
    assert (out / "part-00000.parquet").read_bytes() == b"this is not parquet"


def test_landing_dir_ingest_exactly_once_per_file(spark, tmp_path):
    """File-source ingest of the landing dir: files present at run 1
    land exactly once; a file added later lands in run 2 only (the
    checkpoint remembers completed files across runs)."""
    from pyspark.sql import types as T

    from etl_xlsx_potgres_spark.streaming.landing import (
        ingest_available_now,
        stream_landing_dir,
    )

    landing = str(tmp_path / "landing")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )

    spark.createDataFrame([(1, "a"), (2, "b")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    ingest_available_now(
        stream_landing_dir(spark, landing, schema), out, ckpt
    )
    assert spark.read.parquet(out).count() == 2

    spark.createDataFrame([(3, "c")], schema).coalesce(1).write.mode(
        "append"
    ).parquet(landing)
    ingest_available_now(
        stream_landing_dir(spark, landing, schema), out, ckpt
    )
    back = spark.read.parquet(out)
    assert back.count() == 3  # no re-ingest of files 1-2
    assert {r["k"] for r in back.collect()} == {1, 2, 3}


def test_landing_dir_csv_corrupt_quarantine(spark, tmp_path):
    """PERMISSIVE csv landing stream: schema-violating rows split into
    the quarantine frame instead of being dropped or failing the run."""
    import os

    from pyspark.sql import types as T

    from etl_xlsx_potgres_spark.streaming.landing import (
        ingest_available_now,
        split_corrupt,
        stream_landing_dir,
    )

    landing = str(tmp_path / "landing_csv")
    os.makedirs(landing)
    with open(os.path.join(landing, "f1.csv"), "w") as f:
        f.write("k,v\n1,a\nnot_a_number,b\n3,c\n")
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    stream = stream_landing_dir(spark, landing, schema, fmt="csv")
    clean, bad = split_corrupt(stream)
    ingest_available_now(clean, str(tmp_path / "clean"), str(tmp_path / "c1"))
    ingest_available_now(bad, str(tmp_path / "bad"), str(tmp_path / "c2"))
    assert spark.read.parquet(str(tmp_path / "clean")).count() == 2
    bad_rows = spark.read.parquet(str(tmp_path / "bad")).collect()
    assert len(bad_rows) == 1
    assert "not_a_number" in bad_rows[0]["_corrupt_record"]

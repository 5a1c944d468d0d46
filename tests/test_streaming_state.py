"""Cross-micro-batch state test: the applyInPandasWithState sessionizer must
carry open sessions across batch boundaries (maxFilesPerTrigger=1 forces one
micro-batch per input file)."""

from __future__ import annotations

import datetime as dt
import tempfile


def test_cusum_alert_state_spans_micro_batches(spark):
    from datalakes_and_data_integration_spark.streaming.file_stream import (
        cusum_alert_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def rows_for(hour, count):
        return [("x", t0 + dt.timedelta(hours=hour, minutes=m)) for m in range(count)]

    src = tempfile.mkdtemp(prefix="ca_src_")
    # Baseline: n=4 hours, tot=8 events -> mean 2/hour; d = 4*c - 8.
    # Batch 1: h0 c=1 (cum -4), h1 c=5 (cum 8).
    spark.createDataFrame(
        rows_for(0, 1) + rows_for(1, 5), ["event_type", "ts"]
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f1.parquet")
    # Batch 2: h2 c=6 -> cum carried from batch 1 gives 8+16=24,
    # s_pos = 24 - (-4) = 28 > 2*tot=16 -> alert. A fresh state would give
    # s_pos=16, NOT an alert — so the assertion proves state survived.
    spark.createDataFrame(
        rows_for(2, 6) + rows_for(3, 1), ["event_type", "ts"]
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f2.parquet")

    schema = "event_type string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    out = cusum_alert_stream(stream, {"x": (4, 8)})
    ckpt = tempfile.mkdtemp(prefix="ca_ckpt_")
    q = (
        out.writeStream.format("memory")
        .queryName("ca_state_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r.hour: (r.n_events, r.cusum_pos, r.cusum_neg, r.alert_pos)
        for r in spark.table("ca_state_test").collect()
    }
    assert got == {
        t0: (1, 0, 4, False),
        t0 + dt.timedelta(hours=1): (5, 12, 0, False),
        t0 + dt.timedelta(hours=2): (6, 28, 0, True),
        t0 + dt.timedelta(hours=3): (1, 24, 4, True),
    }


def test_dedup_within_watermark_state_ttl(spark):
    """dropDuplicatesWithinWatermark TTL semantics, measured and pinned:
    a live-state duplicate is dropped; eviction runs against the
    watermark carried from the PREVIOUS batch (lookups see past-expiry
    entries not yet cleaned); once a spacer batch advances the watermark
    past a key's expiry, a later duplicate re-emits."""
    from datalakes_and_data_integration_spark.streaming.file_stream import (
        dedup_within_watermark_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    src = tempfile.mkdtemp(prefix="ddw_src_")
    batches = [
        # b0: first sight of (1, a); state expires at t0+2h.
        ("f1", [(1, "a", t0)]),
        # b1: advances the watermark to t0+98h (applied from b2 on).
        ("f2", [(9, "x", t0 + dt.timedelta(hours=100))]),
        # b2: runs with wm t0+98h -> end-of-batch eviction drops (1, a).
        ("f3", [(8, "y", t0 + dt.timedelta(hours=100))]),
        # b3: (1, a) again — state gone, so it must RE-emit.
        ("f4", [(1, "a", t0 + dt.timedelta(hours=101))]),
    ]
    for fname, data in batches:
        spark.createDataFrame(
            data, ["user_id", "event_type", "ts"]
        ).coalesce(1).write.mode("overwrite").parquet(f"{src}/{fname}.parquet")
    schema = "user_id bigint, event_type string, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    ckpt = tempfile.mkdtemp(prefix="ddw_ckpt_")
    q = (
        dedup_within_watermark_stream(stream)
        .writeStream.format("memory")
        .queryName("ddw_ttl_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r.user_id, r.event_type)
        for r in spark.table("ddw_ttl_test").collect()
    )
    assert got == [(1, "a"), (1, "a"), (8, "y"), (9, "x")]


def test_session_state_spans_micro_batches(spark):
    from datalakes_and_data_integration_spark.streaming.file_stream import (
        stateful_sessions_stream,
    )

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def mk(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    src = tempfile.mkdtemp(prefix="ss_src_")
    # File 1 (micro-batch 1): two events 10 min apart -> one OPEN session.
    spark.createDataFrame(
        [(1, mk(0)), (1, mk(10))], ["user_id", "ts"]
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f1.parquet")
    # File 2 (micro-batch 2): +15 min continues the session (state must have
    # survived); +2 h starts a new one, CLOSING the first.
    spark.createDataFrame(
        [(1, mk(15)), (1, mk(120))], ["user_id", "ts"]
    ).coalesce(1).write.mode("overwrite").parquet(f"{src}/f2.parquet")

    schema = "user_id bigint, ts timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    out = stateful_sessions_stream(stream)
    ckpt = tempfile.mkdtemp(prefix="ss_ckpt_")
    q = (
        out.writeStream.format("memory")
        .queryName("ss_state_test")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("ss_state_test").collect()
    # Exactly one CLOSED session: minutes 0-15 with 3 events — only correct
    # if batch 2 extended batch 1's open session instead of starting fresh.
    assert len(rows) == 1
    r = rows[0]
    assert r.user_id == 1 and r.n_events == 3
    assert r.session_start == mk(0) and r.session_end == mk(15)


def test_run_available_now_reuses_one_checkpoint_dir(spark, tmp_path, monkeypatch):
    """A long-lived session must not leak one checkpoint directory per
    streaming run: repeated runs share one per-process checkpoint."""
    from datalakes_and_data_integration_spark.streaming.file_stream import (
        run_available_now,
    )

    src = tmp_path / "src"
    spark.createDataFrame([("a",), ("a",), ("b",)], ["k"]).coalesce(1).write.parquet(
        str(src)
    )
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))

    for _ in range(2):
        agg = spark.readStream.schema("k string").parquet(str(src)).groupBy("k").count()
        out = run_available_now(agg, spark, name="ckpt_leak_test")
        assert {(r.k, r["count"]) for r in out.collect()} == {("a", 2), ("b", 1)}

    assert not [p.name for p in tmp.iterdir() if p.name.startswith("ckpt_")]
    assert len([p for p in tmp.rglob("ckpt_*") if p.is_dir()]) == 1

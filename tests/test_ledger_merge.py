"""Pins on the one ledgered merge core and its week labels.

Every streaming maintenance query builds all weekly increments in one
batch-labeled scan and folds them into its state through ONE
``ledgered_merge`` transition. These tests pin the claims that make
that an optimization and not a semantics change:

1. one multi-id transition lands on the IDENTICAL state that N
   single-id commits reach (sum associativity / minmax idempotence),
   including when some ids were already applied (replay filters them);
2. an id with no rows is still recorded as applied;
3. the batch-label column (`_week_bid`) partitions rows exactly like
   the sequential `[lo, hi)` weekly filter loop.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
    ledgered_merge,
)


def _events(spark, sf="/root/testdata/sf0.001"):
    from datalakes_and_data_integration_spark.plans._util import T

    return T(spark, sf, "events").select("user_id", "value", "ts")


def _sum(*cols):
    return [F.sum(c).alias(c) for c in cols]


def _fold(spark, state, parts, key_cols, aggs):
    """N single-id commits, one per batch frame; the last state."""
    merged = None
    for i, b in enumerate(parts):
        merged = ledgered_merge(
            spark, state, b.withColumn("__bid", F.lit(i)), [i],
            key_cols, aggs,
        )
    return merged


def test_sum_merge_batched_equals_sequential_fold(spark, tmp_path):
    """Three per-user value-sum batches: N single-id commits and the
    one-transition multi-id merge must land on identical state values,
    and the multi-id commit must record every id (replayed ids are
    no-ops afterwards, whole set or one at a time)."""
    ev = _events(spark).filter(F.col("value").isNotNull())
    parts = [
        ev.filter(F.col("user_id") % 3 == i).groupBy("user_id").agg(
            F.sum(F.col("value").cast("decimal(18,6)")).alias("v")
        )
        for i in range(3)
    ]

    merged = _fold(
        spark, str(tmp_path / "seq"), parts, ["user_id"], _sum("v")
    )
    seq = {r.user_id: r.v for r in merged.collect()}

    inc = ev.groupBy(
        (F.col("user_id") % 3).cast("int").alias("__bid"), "user_id"
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("v"))
    bat_state = str(tmp_path / "bat")
    bat = ledgered_merge(
        spark, bat_state, inc, batch_ids=[0, 1, 2],
        key_cols=["user_id"], aggs=_sum("v"),
    )
    got = {r.user_id: r.v for r in bat.collect()}
    assert got == seq

    # replay the whole id set: no-op (ledger short-circuits, no new job)
    again = ledgered_merge(
        spark, bat_state, inc, batch_ids=[0, 1, 2],
        key_cols=["user_id"], aggs=_sum("v"),
    )
    assert {r.user_id: r.v for r in again.collect()} == seq
    # replay ONE id as a single-id commit: also a no-op
    one = ledgered_merge(
        spark, bat_state, parts[1].withColumn("__bid", F.lit(1)),
        batch_ids=[1], key_cols=["user_id"], aggs=_sum("v"),
    )
    assert {r.user_id: r.v for r in one.collect()} == seq


def test_sum_merge_batched_applies_only_unapplied_ids(spark, tmp_path):
    """State with batch 0 already applied by a single-id commit, then a
    multi-id call covering ids [0, 1, 2]: batch 0's increment must NOT
    be double-counted, and the result equals the full sequential
    fold."""
    ev = _events(spark).filter(F.col("value").isNotNull())
    parts = [
        ev.filter(F.col("user_id") % 3 == i).groupBy("user_id").agg(
            F.count("*").alias("cnt")
        )
        for i in range(3)
    ]
    merged = _fold(
        spark, str(tmp_path / "seq"), parts, ["user_id"], _sum("cnt")
    )
    seq = {r.user_id: r.cnt for r in merged.collect()}

    mix_state = str(tmp_path / "mix")
    _fold(spark, mix_state, parts[:1], ["user_id"], _sum("cnt"))
    inc = ev.groupBy(
        (F.col("user_id") % 3).cast("int").alias("__bid"), "user_id"
    ).agg(F.count("*").alias("cnt"))
    mixed = ledgered_merge(
        spark, mix_state, inc, batch_ids=[0, 1, 2],
        key_cols=["user_id"], aggs=_sum("cnt"),
    )
    assert {r.user_id: r.cnt for r in mixed.collect()} == seq


def test_minmax_merge_batched_equals_sequential_fold(spark, tmp_path):
    rows = [
        (0, 1, "a", 3, None, 5),
        (0, 2, "a", 0, 2, 9),
        (1, 1, "a", 1, 4, 7),
        (2, 2, "a", 5, 1, 2),
    ]
    schema = (
        "__bid INT, user_id INT, arm STRING, enroll_week INT,"
        " conv_week INT, last_week INT"
    )
    inc = spark.createDataFrame(rows, schema)

    aggs = [
        F.min("enroll_week").alias("enroll_week"),
        F.min("conv_week").alias("conv_week"),
        F.max("last_week").alias("last_week"),
    ]

    merged = _fold(
        spark,
        str(tmp_path / "seq"),
        [inc.filter(F.col("__bid") == i).drop("__bid") for i in range(3)],
        ["user_id", "arm"],
        aggs,
    )
    seq = sorted(map(tuple, merged.collect()))

    bat = ledgered_merge(
        spark, str(tmp_path / "bat"), inc, batch_ids=[0, 1, 2],
        key_cols=["user_id", "arm"], aggs=aggs,
    )
    assert sorted(map(tuple, bat.collect())) == seq


def test_empty_increments_record_the_id_and_replay_is_noop(spark, tmp_path):
    """An id whose increment has no rows is still applied: the commit
    records it, the state is empty (schema intact), and replaying the
    id is a ledger no-op that stages nothing new."""
    state = str(tmp_path / "st")
    empty = spark.createDataFrame([], "__bid INT, k BIGINT, n BIGINT")

    first = ledgered_merge(
        spark, state, empty, batch_ids=[0], key_cols=["k"], aggs=_sum("n")
    )
    assert first.collect() == []
    assert first.columns == ["k", "n"]
    with open(os.path.join(state, "COMMIT.json")) as fh:
        commit = json.load(fh)
    assert commit["applied"] == ["0"]

    replay = ledgered_merge(
        spark, state, empty, batch_ids=[0], key_cols=["k"], aggs=_sum("n")
    )
    assert replay.collect() == []
    with open(os.path.join(state, "COMMIT.json")) as fh:
        assert json.load(fh) == commit
    assert sorted(
        e for e in os.listdir(state) if e.startswith("sketch-")
    ) == [commit["sketch"]]


def test_week_bid_matches_sequential_filter_partition(spark):
    """`_week_bid` must assign every event row to exactly the batch
    index whose [lo, hi) filter the sequential loop would have matched
    — counted per index over the real fixture."""
    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.streaming_extra import (
        _week_bid,
        _weekly_bounds,
    )

    ev = T(spark, "/root/testdata/sf0.001", "events").select("ts")
    weeks = _weekly_bounds(ev)
    assert len(weeks) >= 2
    labeled = {
        r.bid: r.n
        for r in ev.groupBy(_week_bid(weeks).alias("bid"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    filtered = {}
    total = 0
    for i, (lo, hi) in enumerate(zip(weeks, weeks[1:])):
        n = ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi)).count()
        if n:
            filtered[i] = n
        total += n
    assert labeled == filtered
    assert total == ev.count()  # the weekly filters partition the table

"""Streaming sketch maintenance through the one ledgered merge core:
the CMS sketch (sum: exactly-once only behind the ledger), the exact-
distinct bitmap words (bit_or: idempotent by algebra) and per-key
min/max state each equal the batch-built state over the union of the
data, and a replayed batch id is a no-op."""

from __future__ import annotations

from pyspark.sql import functions as F

from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
    ledgered_merge,
)

# (key_cols, aggs) per state family; the aggs are built lazily because
# a Column needs the live session the spark fixture starts
_CMS = (["seed", "bucket"], lambda: [F.sum("total").alias("total")])
_BITMAP = (["grp", "w"], lambda: [F.expr("bit_or(bits)").alias("bits")])
_MINMAX = (
    ["user_id", "arm"],
    lambda: [
        F.min("enroll_week").alias("enroll_week"),
        F.min("conv_week").alias("conv_week"),
        F.max("last_week").alias("last_week"),
    ],
)


def _merge_one(spark, state, batch, bid, family):
    """One batch committed under a single ledger id."""
    key_cols, aggs = family
    return ledgered_merge(
        spark,
        state,
        batch.withColumn("__bid", F.lit(bid)),
        batch_ids=[bid],
        key_cols=key_cols,
        aggs=aggs(),
    )


def _events(spark, sf="/root/testdata/sf0.001"):
    from datalakes_and_data_integration_spark.plans._util import T

    return T(spark, sf, "events").select("event_type", "user_id", "event_id")


def test_cms_merge_is_exactly_once_behind_the_ledger(spark, tmp_path):
    """CMS merge is SUM — redelivery would double-count — so the ledger
    must make a replayed batch id a no-op, while a NEW id still merges;
    and the maintained sketch must equal the batch-built one."""
    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        cms_rows,
    )

    ev = T(spark, "/root/testdata/sf0.001", "events").select("user_id", "ts")
    b1 = ev.filter(F.col("ts") < "2024-01-15")
    b2 = ev.filter(F.col("ts") >= "2024-01-15")
    state = str(tmp_path / "cms_state")

    _merge_one(spark, state, cms_rows(b1, "user_id"), 0, _CMS)
    merged = _merge_one(spark, state, cms_rows(b2, "user_id"), 1, _CMS)
    snapshot = {(r.seed, r.bucket): r.total for r in merged.collect()}

    # replayed ids: both are no-ops
    for bid, b in ((0, b1), (1, b2)):
        replay = _merge_one(spark, state, cms_rows(b, "user_id"), bid, _CMS)
        assert {
            (r.seed, r.bucket): r.total for r in replay.collect()
        } == snapshot

    # maintained == batch-built over the union
    full = {
        (r.seed, r.bucket): r.total
        for r in cms_rows(ev, "user_id").collect()
    }
    assert snapshot == full

    # a new id still merges (totals strictly grow somewhere)
    again = _merge_one(spark, state, cms_rows(b1, "user_id"), 2, _CMS)
    grown = {(r.seed, r.bucket): r.total for r in again.collect()}
    assert sum(grown.values()) > sum(snapshot.values())


def test_bitmap_merge_is_idempotent_without_a_ledger(spark, tmp_path):
    """bit_or is idempotent: replaying ANY batch under a NEW id (past
    the ledger, so no ledger help) must leave the state byte-identical,
    and the maintained words must equal the batch-built words over the
    union."""
    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.sketches import (
        bitmap_word_rows,
    )

    ev = T(spark, "/root/testdata/sf0.001", "events").select(
        "event_type", "user_id", "ts"
    )
    b1 = ev.filter(F.col("ts") < "2024-01-15")
    b2 = ev.filter(F.col("ts") >= "2024-01-15")
    state = str(tmp_path / "words")

    def words(b):
        return bitmap_word_rows(b, "event_type", "user_id")

    _merge_one(spark, state, words(b1), 0, _BITMAP)
    merged = _merge_one(spark, state, words(b2), 1, _BITMAP)
    snapshot = {(r.grp, r.w): r.bits for r in merged.collect()}

    # replay both, in any order, each under an id the ledger never saw
    for bid, b in ((2, b1), (3, b2), (4, b1)):
        replay = _merge_one(spark, state, words(b), bid, _BITMAP)
        assert {(r.grp, r.w): r.bits for r in replay.collect()} == snapshot

    full = {(r.grp, r.w): r.bits for r in words(ev).collect()}
    assert snapshot == full


def test_triptych_reports_share_one_maintained_state_root(spark, tmp_path):
    """Operational composition (VERDICT r7 next-round #7): ONE state
    root maintains the CMS and bitmap families across two batches,
    then the CMS heavy-hitter estimates and the bitmap distinct report
    are served from that SAME maintained state; a replayed batch 0
    (CMS: ledger no-op under its old id; bitmap: OR idempotence under
    a new id, past the ledger) leaves every report byte-identical, and
    each maintained report equals its batch-built-from-scratch twin."""
    from datalakes_and_data_integration_spark.plans.sketches import (
        bitmap_popcount_report,
        bitmap_word_rows,
    )
    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        cms_lookup,
        cms_rows,
    )

    root = tmp_path / "state"
    cms_dir = str(root / "cms")
    bm_dir = str(root / "words")

    ev = _events(spark)
    b1 = ev.filter(F.col("event_id") % 2 == 0)
    b2 = ev.filter(F.col("event_id") % 2 == 1)

    def words(b):
        return bitmap_word_rows(b, "event_type", "user_id")

    for i, b in enumerate((b1, b2)):
        sk = _merge_one(spark, cms_dir, cms_rows(b, "user_id"), i, _CMS)
        wd = _merge_one(spark, bm_dir, words(b), i, _BITMAP)

    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(5)
    )

    def reports(sk, wd):
        cms = sorted(
            (r.user_id, r.cnt, r.cms_est)
            for r in cms_lookup(top, sk, "user_id").collect()
        )
        bm = sorted(
            (r.event_type, r.n_users)
            for r in bitmap_popcount_report(wd, "event_type").collect()
        )
        return cms, bm

    first = reports(sk, wd)

    # replay batch 0 against the same root: both must be no-ops
    sk2 = _merge_one(spark, cms_dir, cms_rows(b1, "user_id"), 0, _CMS)
    wd2 = _merge_one(spark, bm_dir, words(b1), 2, _BITMAP)
    assert reports(sk2, wd2) == first

    # maintained == batch-built, family by family
    batch_sk = cms_rows(ev, "user_id")
    m = {(r.seed, r.bucket): r.total for r in sk2.collect()}
    b = {(r.seed, r.bucket): r.total for r in batch_sk.collect()}
    assert m == b
    mw = {(r.grp, r.w): r.bits for r in wd2.collect()}
    bw = {(r.grp, r.w): r.bits for r in words(ev).collect()}
    assert mw == bw


def test_entry_gc_removes_orphaned_staged_sketch_dirs(spark, tmp_path):
    """ADVICE r8: a crash between the staged parquet write and the
    os.replace commit orphans a sketch-* dir, and a retry under a
    different batch id stages a DIFFERENT name — the orphan would live
    forever. The merge must GC anything COMMIT.json doesn't name on
    entry, and must leave the committed generation alone."""
    import json
    import os

    from datalakes_and_data_integration_spark.streaming.sketch_maintenance import (
        cms_rows,
    )

    ev = _events(spark)
    state = str(tmp_path / "cms")
    _merge_one(
        spark, state, cms_rows(ev.filter("event_id % 2 = 0"), "user_id"), 0,
        _CMS,
    )
    committed = json.load(open(os.path.join(state, "COMMIT.json")))["sketch"]
    # simulate the crash: an uncommitted staged dir from a dead attempt
    orphan = os.path.join(state, "sketch-999999-dead")
    os.makedirs(orphan)
    open(os.path.join(orphan, "part-0.parquet"), "w").write("junk")
    merged = _merge_one(
        spark, state, cms_rows(ev.filter("event_id % 2 = 1"), "user_id"), 1,
        _CMS,
    )
    names = sorted(
        e for e in os.listdir(state) if e.startswith("sketch-")
    )
    assert os.path.basename(orphan) not in names
    new_committed = json.load(open(os.path.join(state, "COMMIT.json")))[
        "sketch"
    ]
    assert names == [new_committed]
    assert committed != new_committed
    # and the merged state equals the batch-built sketch
    batch = {
        (r.seed, r.bucket): r.total
        for r in cms_rows(ev, "user_id").collect()
    }
    got = {(r.seed, r.bucket): r.total for r in merged.collect()}
    assert got == batch


def test_minmax_merge_replay_is_noop_by_algebra(spark, tmp_path):
    """Min/max state: the ledger skips a replayed id, but the ALGEBRA
    is what guarantees exactly-once — force-remerging the same batch
    past the ledger (same batch twice under different ids) leaves the
    state byte-identical."""
    batch = spark.createDataFrame(
        [(1, "a", 3, None, 5), (2, "a", 0, 2, 9)],
        "user_id INT, arm STRING, enroll_week INT, conv_week INT,"
        " last_week INT",
    )
    s1 = str(tmp_path / "ledgered")
    m1 = _merge_one(spark, s1, batch, 0, _MINMAX)
    one = sorted(map(tuple, m1.collect()))
    # replayed id: ledger short-circuits
    m2 = _merge_one(spark, s1, batch, 0, _MINMAX)
    assert sorted(map(tuple, m2.collect())) == one
    # force past the ledger: same rows under a DIFFERENT batch id —
    # min/min/max absorb the duplicate delivery with no ledger help
    m3 = _merge_one(spark, s1, batch, 1, _MINMAX)
    assert sorted(map(tuple, m3.collect())) == one


def test_minmax_merge_merges_across_batches(spark, tmp_path):
    s = str(tmp_path / "st")
    b0 = spark.createDataFrame(
        [(1, "a", 3, None, 3)],
        "user_id INT, arm STRING, enroll_week INT, conv_week INT,"
        " last_week INT",
    )
    b1 = spark.createDataFrame(
        [(1, "a", 5, 5, 7)],
        "user_id INT, arm STRING, enroll_week INT, conv_week INT,"
        " last_week INT",
    )
    _merge_one(spark, s, b0, 0, _MINMAX)
    m = _merge_one(spark, s, b1, 1, _MINMAX)
    rows = m.collect()
    assert len(rows) == 1
    r = rows[0]
    # enrollment keeps the earliest week, conversion the earliest
    # non-null, last_week the latest
    assert (r.enroll_week, r.conv_week, r.last_week) == (3, 5, 7)

"""Empty-input regressions: an EMPTY events table must yield empty
maintained state and an oracle-matching (mostly empty) report from all
six span-derived weekly maintenance queries — not an AttributeError
from None.date() inside _weekly_bounds — and an EMPTY customer table
must give the ER threshold sweep the oracle's zero counts, not NULLs."""

from __future__ import annotations

import os
import sys

import duckdb

_TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)

_MAINTENANCE = (
    "streaming_ab_moments_maintenance",
    "streaming_ab_msprt_maintenance",
    "streaming_bitmap_distinct_maintenance",
    "streaming_heavy_hitters_cms",
    "streaming_quantile_maintenance",
    "streaming_ccf_maintenance",
)


def _mk_empty_events(tmpdir: str) -> str:
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT 0::BIGINT AS event_id, TIMESTAMP '2024-01-01' AS ts,
                 0::BIGINT AS user_id, '' AS event_type, 0.0::DOUBLE AS value,
                 '' AS props
          WHERE FALSE
        ) TO '{tmpdir}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return tmpdir


def _mk_empty_customer(tmpdir: str) -> str:
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT 0::BIGINT AS c_custkey, '' AS c_name,
                 0::INTEGER AS c_nationkey, 0.0::DOUBLE AS c_acctbal,
                 '' AS c_mktsegment
          WHERE FALSE
        ) TO '{tmpdir}/customer.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return tmpdir


def _oracle_check(name: str, df, sf: str):
    sys.path.insert(0, _TOOLS)
    try:
        from check_correctness import compare, duck_connect
    finally:
        sys.path.remove(_TOOLS)
    con = duck_connect(sf)
    try:
        ok, msg = compare(name, df, con)
    finally:
        con.close()
    assert ok, f"{name}: {msg}"


def test_weekly_bounds_empty_is_empty(spark, tmp_path):
    from datalakes_and_data_integration_spark.plans._util import T
    from datalakes_and_data_integration_spark.plans.streaming_extra import (
        _weekly_bounds,
    )

    sf = _mk_empty_events(str(tmp_path))
    assert _weekly_bounds(T(spark, sf, "events")) == []


def test_maintenance_queries_survive_empty_events(spark, tmp_path):
    from datalakes_and_data_integration_spark.plans import all_queries

    sf = _mk_empty_events(str(tmp_path))
    q = all_queries()
    rows = {}
    for name in _MAINTENANCE:
        df = q[name](spark, sf)
        rows[name] = df.collect()
        _oracle_check(name, df, sf)
    bitmap = rows.pop("streaming_bitmap_distinct_maintenance")
    assert [(r.event_type, r.n_users) for r in bitmap] == [("__all__", 0)]
    assert rows == {name: [] for name in rows}


def test_er_threshold_sweep_on_empty_customer_counts_zero(spark, tmp_path):
    from datalakes_and_data_integration_spark.plans.relational import (
        _ER_SWEEP_TS,
        er_quality_threshold_sweep,
    )

    sf = _mk_empty_customer(str(tmp_path))
    df = er_quality_threshold_sweep(spark, sf)
    rows = df.collect()
    assert sorted(r.threshold for r in rows) == sorted(_ER_SWEEP_TS)
    for r in rows:
        # fn = n_true - tp with tp = 0: a NULL n_true shows up here
        assert (r.n_links, r.tp, r.fp, r.fn) == (0, 0, 0, 0)
        assert (r.precision, r.recall, r.f1) == (0.0, 0.0, 0.0)
    _oracle_check("er_quality_threshold_sweep", df, sf)

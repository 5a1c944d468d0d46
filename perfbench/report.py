"""Statistics and the result line.

The metrics a run must print come from ``BENCHMARK.json`` at the root of
the checkout: every ``end_to_end`` metric in an untraced run and every
``per_layer`` metric in a traced one. ``result_line`` refuses to build a
line that misses one, so the declaration and the program cannot drift.
"""

from __future__ import annotations

import json
import math
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def declared(trace: bool, path: str | None = None) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(path or os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def median(xs: list[float]) -> float:
    return percentile(xs, 50.0)


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` (0..100) of a non-empty list."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def tail_percentile(n: int) -> float | None:
    """The highest percentile with at least ten of ``n`` samples beyond it."""
    if n <= 10:
        return None
    return math.floor(1000.0 * (1.0 - 10.0 / n)) / 10.0


def timing(xs: list[float]) -> dict:
    """Median, the tail percentile the sample count supports, and the count."""
    tail = tail_percentile(len(xs))
    return {
        "p50": median(xs) if xs else None,
        "tail_pct": tail,
        "tail": percentile(xs, tail) if tail is not None else None,
        "n": len(xs),
    }


def result_line(
    values: dict[str, float],
    units: dict[str, str],
    correct: bool,
    attempted: int,
    failed: int,
) -> str:
    """The last stdout line: every declared metric with its unit, no more."""
    missing = sorted(set(units) - set(values))
    if missing:
        raise KeyError(f"metrics not measured: {missing}")
    bad = [n for n in units if not NAME_RE.fullmatch(n)]
    if bad:
        raise ValueError(f"bad metric names: {bad}")
    metrics = {
        name: {"value": float(values[name]), "unit": unit}
        for name, unit in units.items()
    }
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    })

"""Horizontal aggregation (reference A4).

``horizontal_sum``: row-wise NaN-skipping sum across a column group; the
reference uses a per-row Python loop (`process_to_curated.py:84-94`) or
``np.nansum`` with an all-null->NaN guard (`faster_process_to_curated.py:
68-82`). Spark: ``coalesce(c, 0) + ...`` with a guard that yields null when
every input is null — a narrow projection, no shuffle at any scale.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def horizontal_sum(cols: Sequence[str | Column]) -> Column:
    """NaN/null-skipping row-wise sum; all-null (or empty) -> null."""
    if not cols:
        return F.lit(None).cast("double")
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    any_present = reduce(lambda a, b: a | b, [c.isNotNull() for c in cs])
    total = reduce(lambda a, b: a + b, [F.coalesce(c, F.lit(0.0)) for c in cs])
    return F.when(any_present, total).otherwise(F.lit(None).cast("double"))

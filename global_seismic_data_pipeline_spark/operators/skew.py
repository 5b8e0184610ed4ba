"""Skew mitigation: salted two-phase aggregation.

AQE's skew-join splitting (enabled in session.py) handles most runtime skew
at the join level, but a group-by whose hot key dwarfs every other still
funnels that key's rows through one reduce task. ``salted_agg`` is the
classic fix: scatter each key across ``salt`` sub-keys, partially aggregate
(keys, salt), then finish on keys — the hot key's work spreads over
``salt`` tasks and the second shuffle carries only ``salt`` rows per key.
Only makes sense for algebraic aggregates (sum/count/min/max and anything
composed from them — avg = sum/count).

Joins need no rewrite here: AQE picks the join strategy from runtime
statistics (a side that shrinks below the broadcast threshold is
broadcast) and ``spark.sql.adaptive.skewJoin.enabled`` splits an
oversized shuffle partition of a skewed join key into several tasks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: (partial expression, final expression) builders per algebraic aggregate
_ALGEBRAIC = {
    "sum": (F.sum, F.sum),
    "count": (lambda c: F.count(c), F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    *,
    salt: int = 16,
) -> DataFrame:
    """Two-phase skew-safe groupBy.

    ``aggs`` maps output column → (agg_name, input_col) with agg_name in
    {sum, count, min, max}. Equivalent to
    ``df.groupBy(keys).agg(...)`` for any input distribution; the hot-key
    reduce work is spread across ``salt`` tasks.
    """
    for name, (kind, _) in aggs.items():
        if kind not in _ALGEBRAIC:
            raise ValueError(f"{name}: {kind} is not algebraic — use groupBy directly")
    salted = df.withColumn("__salt", F.pmod(F.monotonically_increasing_id(), F.lit(salt)))
    partial = salted.groupBy(*keys, "__salt").agg(
        *[
            _ALGEBRAIC[kind][0](F.col(col)).alias(f"__p_{name}")
            for name, (kind, col) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[
            _ALGEBRAIC[kind][1](F.col(f"__p_{name}")).alias(name)
            for name, (kind, _) in aggs.items()
        ]
    )

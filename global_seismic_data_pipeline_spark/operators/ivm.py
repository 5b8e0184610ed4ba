"""Incremental view maintenance over the change data feed.

The classic ΔQ pattern (self-maintainable aggregate views, as in
materialized-view maintenance literature and Delta Live Tables'
incremental aggregates): a grouped COUNT/SUM view over a versioned table
is kept current by applying each commit's ROW DELTAS — obtained from
:meth:`sources.deltawh.DeltaLogWarehouse.table_changes` — instead of
rescanning the base table. Each change row carries a sign (+1 for
``insert`` / ``update_postimage``, −1 for ``delete`` /
``update_preimage``), so a commit's net effect per group is one small
aggregate over the feed; the view update is then a keyed outer join of
(groups × aggregates) against that delta — O(Δ) work per refresh, not
O(table).

COUNT and SUM are self-maintainable under deletes. MIN/MAX are
maintained with the standard materialized-view split: on insert-only
deltas the new extremum is ``least/greatest(old, delta)`` — O(Δ); a
group that LOST rows (any delete/update_preimage touched it) may have
lost its extremum, so exactly those groups' min/max recompute from the
current source snapshot, scoped by a null-safe semi-join on the
affected group keys — bounded by the affected groups' rows, never the
table. AVG is derived as sum/count by the reader. Sums evaluate in LONG
over integer columns (float sums drift under incremental ± application)
and treat NULL addends as 0 — give the view non-null summand columns
for exact recompute parity. Groups whose maintained count reaches zero
are REMOVED — the view equals the from-scratch aggregate exactly, which
the ``ivm_orders_by_status`` driver oracle pins bit-for-bit
(incremental ≡ recompute).

Crash discipline: the view lives in the SAME DeltaLogWarehouse, so a
refresh (a) reads the view AT the version recorded in
``{view}__ivm_meta`` — never the live table, (b) applies the feed delta
and commits the new view state, (c) writes meta LAST. A crash between
(b) and (c) re-runs against the meta-recorded PRE-state snapshot and
deterministically recomputes the same result — idempotent in effect,
the same replay contract as the watermark control table.

Scale: the refresh shuffles the DELTA (commit-sized) plus the view
(group-cardinality-sized) — never the base table. At 100 TB with daily
commits this is the difference between a minutes-long rollup and a
full-table rescan.
"""

from __future__ import annotations

import json

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..session import materialize, materialized_scope
from ..sources.deltawh import DeltaLogWarehouse

META_SUFFIX = "__ivm_meta"
_META_SCHEMA = (
    "source string, keys string, aggs string, "
    "last_version long, view_version long"
)
def _sign():
    # built lazily: Column construction needs an active SparkContext
    return F.when(
        F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
    ).otherwise(F.lit(-1))


def _validate_aggs(aggs: Mapping[str, Sequence]) -> None:
    kinds = [kind for kind, _col in aggs.values()]
    for out, (kind, _col) in aggs.items():
        if kind not in ("count", "sum", "min", "max"):
            raise ValueError(
                f"{out}: {kind!r} is not incrementally maintainable — "
                "count/sum/min/max (derive avg as sum/count)"
            )
    if "count" not in kinds:
        raise ValueError(
            "include a count aggregate — group liveness under deletes "
            "is tracked by it"
        )


def _agg_exprs(aggs: Mapping[str, Sequence], signed: bool):
    """Aggregate expressions over base rows (signed=False) or feed rows
    carrying a ``_sign`` column (signed=True). Signed min/max aggregate
    the ADD side only (the insert-only candidate; the delete side routes
    the group to the recompute path instead)."""
    out = []
    for name, (kind, col) in aggs.items():
        if kind == "count":
            e = F.sum("_sign") if signed else F.count(F.lit(1))
        elif kind == "sum":
            e = F.sum(
                F.col("_sign") * F.col(col) if signed else F.col(col)
            )
        else:
            fn = F.min if kind == "min" else F.max
            e = fn(
                F.when(F.col("_sign") == 1, F.col(col)) if signed
                else F.col(col)
            )
        out.append(e.cast("long").alias(name))
    return out


def _nullsafe_key_cond(left, right, keys, rprefix: str):
    return reduce(
        lambda a, b: a & b,
        [left[k].eqNullSafe(right[f"{rprefix}{k}"]) for k in keys],
    )


def _write_meta(
    wh: DeltaLogWarehouse, view: str, source: str,
    keys_json: str, aggs_json: str, last_version: int, view_version: int,
) -> None:
    from ..session import tiny_df

    meta = tiny_df(
        wh.spark,
        [(source, keys_json, aggs_json, last_version, view_version)],
        _META_SCHEMA,
    )
    wh.overwrite(meta, f"{view}{META_SUFFIX}")


def define_agg_view(
    wh: DeltaLogWarehouse,
    source: str,
    view: str,
    keys: Sequence[str],
    aggs: Mapping[str, Sequence],
) -> int:
    """Materialize ``view`` = ``SELECT keys, aggs FROM source GROUP BY
    keys`` at the source's CURRENT commit and record that version as the
    view's high-water mark. ``aggs`` maps output column →
    ``("count", None)`` or ``("sum", col)`` and must include a count
    (group-liveness tracking). Returns the source version the view
    reflects."""
    _validate_aggs(aggs)
    at = wh.latest_version(source)
    if at is None:
        raise ValueError(f"{source}: no committed versions to snapshot")
    base = wh.read_version(source, at)
    wh.overwrite(
        base.groupBy(*keys).agg(*_agg_exprs(aggs, signed=False)), view
    )
    _write_meta(
        wh, view, source, json.dumps(list(keys)),
        json.dumps({k: list(v) for k, v in aggs.items()}),
        at, wh.latest_version(view),
    )
    return at


def refresh_agg_view(wh: DeltaLogWarehouse, view: str) -> dict:
    """Apply every source commit AFTER the view's high-water mark via the
    change data feed — O(Δ) work, never a base-table rescan. Returns
    {from_version, to_version, groups_changed}; a no-op refresh (no new
    commits) returns groups_changed=0 without touching the view."""
    meta_row = wh.read(f"{view}{META_SUFFIX}").collect()[0]
    source = meta_row["source"]
    keys = json.loads(meta_row["keys"])
    aggs = {k: tuple(v) for k, v in json.loads(meta_row["aggs"]).items()}
    last = meta_row["last_version"]
    latest = wh.latest_version(source)
    if latest is None or latest <= last:
        return {"from_version": last, "to_version": last, "groups_changed": 0}

    # keyless feed: an updated row arrives as delete+insert, which the
    # signed aggregate nets correctly; rows untouched by a commit never
    # appear, so the delta is commit-sized
    mm = {n: kc for n, kc in aggs.items() if kc[0] in ("min", "max")}
    feed = wh.table_changes(source, last + 1, latest, keys=None)
    delta_aggs = _agg_exprs(aggs, signed=True)
    if mm:
        delta_aggs.append(
            F.max((F.col("_sign") == -1).cast("int")).alias("__has_del")
        )
    delta = (
        feed.withColumn("_sign", _sign())
        .groupBy(*keys)
        .agg(*delta_aggs)
    )
    # pre-state SNAPSHOT per the crash discipline (module docstring):
    # a re-run after a crash mid-refresh re-derives from the same state
    old = wh.read_version(view, meta_row["view_version"])
    for k in keys:
        delta = delta.withColumnRenamed(k, f"__d_{k}")
    cond = _nullsafe_key_cond(old, delta, keys, "__d_")
    agg_names = list(aggs)
    count_col = next(n for n, (kind, _c) in aggs.items() if kind == "count")

    def merged_agg(n: str):
        kind = aggs[n][0]
        if kind in ("count", "sum"):
            return (
                F.coalesce(old[n], F.lit(0)) + F.coalesce(delta[n], F.lit(0))
            ).cast("long").alias(n)
        # min/max insert-only candidate: least/greatest skip NULL args, so
        # a fresh group takes the delta value and an untouched-by-adds
        # group keeps the old one; delete-touched groups get overwritten
        # by the recompute pass below
        fn = F.least if kind == "min" else F.greatest
        return fn(old[n], delta[n]).cast("long").alias(n)

    merged = old.join(delta, cond, "full_outer").select(
        *[F.coalesce(old[k], delta[f"__d_{k}"]).alias(k) for k in keys],
        *[merged_agg(n) for n in agg_names],
        delta[count_col].isNotNull().alias("__touched"),
        (
            F.coalesce(delta["__has_del"], F.lit(0)) == 1
            if mm
            else F.lit(False)
        ).alias("__recompute"),
    )
    # persist: the changed-count action and the view overwrite both
    # consume `merged` — unpersisted, the feed diff would execute twice
    with materialized_scope():
        merged = materialize(merged, StorageLevel.MEMORY_AND_DISK_DESER)
        changed = merged.filter("__touched").count()
        alive = merged.filter(F.col(count_col) > 0)
        if mm:
            # a group that LOST rows may have lost its extremum: recompute
            # min/max for exactly those groups from the CURRENT snapshot,
            # scoped by a null-safe semi-join — affected-group rows only
            base = wh.read_version(source, latest)
            fix_keys = (
                alive.filter("__recompute")
                .select(*[F.col(k).alias(f"__f_{k}") for k in keys])
                .distinct()
            )
            scoped = base.join(
                fix_keys, _nullsafe_key_cond(base, fix_keys, keys, "__f_"),
                "left_semi",
            )
            rc = scoped.groupBy(*keys).agg(
                *[
                    (F.min if aggs[n][0] == "min" else F.max)(
                        F.col(aggs[n][1])
                    ).cast("long").alias(n)
                    for n in mm
                ]
            )
            for k in keys:
                rc = rc.withColumnRenamed(k, f"__r_{k}")
            norm = alive.filter(~F.col("__recompute"))
            fixing = alive.filter("__recompute")
            fixed = fixing.join(
                rc, _nullsafe_key_cond(fixing, rc, keys, "__r_"), "left"
            ).select(
                *[fixing[k] for k in keys],
                *[
                    rc[n] if n in mm else fixing[n]
                    for n in agg_names
                ],
                fixing["__touched"],
                fixing["__recompute"],
            )
            alive = norm.unionByName(fixed)
        new_view = alive.drop("__touched", "__recompute")
        wh.overwrite(new_view, view)
    _write_meta(  # meta LAST — see crash discipline
        wh, view, source, meta_row["keys"], meta_row["aggs"],
        latest, wh.latest_version(view),
    )
    return {
        "from_version": last + 1,
        "to_version": latest,
        "groups_changed": changed,
    }

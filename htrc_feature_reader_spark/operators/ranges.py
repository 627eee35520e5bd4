"""Binned range (interval) join: point-in-interval matching at scale.

The reference has no temporal joins at all (its only joins are tiny
index-aligned equi joins, ``reference/htrc_features/feature_reader.py``
around 755-767); like :mod:`.asof`, this is a north-rule extension: for
every probe row ``(keys, ts)`` attach every interval row
``(keys, start, end)`` with the same keys whose *inclusive* interval
``[start, end]`` contains ``ts``.

Expressed naively, ``probe.join(intervals, ts.between(start, end))`` has
no equi condition Catalyst can hash on, so the physical plan degrades to
``BroadcastNestedLoopJoin`` (or ``CartesianProduct``) — a probe x
intervals blow-up that is quadratic at corpus scale. The classic fix
(the same idea behind Databricks' range-join bins and single-node
interval trees) is **binning**:

1. quantize time into fixed-width bins of ``bin_width_s`` seconds;
2. explode each interval into the bins it overlaps (explode factor =
   ``len/bin + 1``, so ~2 rows per interval when the bin width is near
   the typical interval length);
3. equi-join probe rows on ``(keys, bin)`` — an ordinary shuffled hash /
   sort-merge join (or an AQE broadcast when one side is small);
4. re-check the exact ``start <= ts <= end`` predicate on the survivors.

Each probe row lands in exactly ONE bin, so an (interval, probe) pair can
meet at most once and no post-join dedup is needed.

Bin-width choice is the whole cost model: too narrow explodes the
interval side; too wide turns each bin into a mini nested loop (the
residual predicate rejects most pairs). ``bin_width_s='auto'`` derives
the width from the mean interval length as a 1-row in-plan aggregate
(broadcast funnel — the same pattern as bm25's corpus constants; no
driver job at plan-construction time). Intervals much longer than the
bin width still explode proportionally — at 100 TB pick an explicit
``bin_width_s`` near the p50 interval length and let the few giant
intervals pay their true fan-out (they must meet every bin they span;
there is no cheaper exact plan without an interval-tree build side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import ts_micros

_US = 1_000_000
# clamp of the 'auto' bin width, in seconds
MIN_BIN_S = 1.0
MAX_BIN_S = 30 * 86400.0


def range_join(
    probe: DataFrame,
    intervals: DataFrame,
    keys: list[str] | None = None,
    ts: str = "ts",
    start: str = "start",
    end: str = "end",
    bin_width_s: float | str = "auto",
) -> DataFrame:
    """Join probe rows to every same-key interval containing their ``ts``.

    Both bounds are inclusive (``start <= ts <= end``). Intervals with
    ``end < start`` are dropped (never matched) rather than silently
    producing a *descending* bin sequence — ``F.sequence`` would count
    down, not emit empty. Output columns are probe columns followed by
    the interval's non-key columns; overlapping non-key names raise
    eagerly (rename before joining — silent suffixing hides bugs). It is
    an inner join: a probe row inside no interval is not emitted.

    ``bin_width_s``: bin width in seconds, or ``'auto'`` (mean interval
    length, clamped to ``[MIN_BIN_S, MAX_BIN_S]`` — 1 s to 30 days —
    computed lazily as a 1-row broadcast funnel).
    """
    keys = list(keys or [])
    overlap = (set(probe.columns) & set(intervals.columns)) - set(keys)
    if overlap:
        raise ValueError(
            f"probe and intervals share non-key columns {sorted(overlap)}; "
            "rename them before range_join (silent suffixing hides bugs)"
        )
    reserved = {"__w", "__bin", "__pus", "__sus", "__eus"}
    taken = reserved & (set(probe.columns) | set(intervals.columns))
    if taken:
        raise ValueError(
            f"columns {sorted(taken)} collide with range_join internals; "
            "rename them first"
        )

    pus = ts_micros(F.col(ts))
    sus, eus = ts_micros(F.col(start)), ts_micros(F.col(end))
    ivl = intervals.filter(eus >= sus).withColumn("__sus", sus).withColumn(
        "__eus", eus
    )

    if bin_width_s == "auto":
        # 1-row funnel: mean interval length, clamped. Broadcast hint is
        # safe by construction (exactly one row) — same contract as the
        # corpus-constants funnels in bm25/tf_idf.
        width = ivl.agg(
            F.least(
                F.greatest(
                    F.coalesce(
                        F.avg(F.col("__eus") - F.col("__sus")),
                        F.lit(float(MIN_BIN_S * _US)),
                    ),
                    F.lit(float(MIN_BIN_S * _US)),
                ),
                F.lit(float(MAX_BIN_S * _US)),
            )
            .cast("long")
            .alias("__w")
        )
        ivl = ivl.crossJoin(F.broadcast(width))
        pr = probe.crossJoin(F.broadcast(width))
    else:
        w = int(float(bin_width_s) * _US)
        if w <= 0:
            raise ValueError(f"bin_width_s must be positive, got {bin_width_s!r}")
        ivl = ivl.withColumn("__w", F.lit(w).cast("long"))
        pr = probe.withColumn("__w", F.lit(w).cast("long"))

    ivl = ivl.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                (F.col("__sus") / F.col("__w")).cast("long"),
                (F.col("__eus") / F.col("__w")).cast("long"),
            )
        ),
    ).drop("__w")
    pr = pr.withColumn("__pus", pus).withColumn(
        "__bin", (F.col("__pus") / F.col("__w")).cast("long")
    ).drop("__w")

    cond = (F.col("__pus") >= F.col("__sus")) & (F.col("__pus") <= F.col("__eus"))
    return (
        pr.join(ivl, on=keys + ["__bin"], how="inner")
        .filter(cond)
        .drop("__bin", "__pus", "__sus", "__eus")
    )

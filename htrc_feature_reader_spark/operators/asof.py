"""Distributed point-in-time (as-of) join.

The reference has no temporal joins (its only joins are tiny index-aligned
equi joins, feature_reader.py:755-767); this operator is the north-rule
extension (BASELINE.json): for every probe row (key, ts) attach the most
recent build-side row with build.ts <= probe.ts (direction='backward';
'forward' mirrors). Zero temporal leakage by construction.

Two physical strategies, same semantics:

- ``union`` (default, pure Catalyst): tag build rows 0 / probe rows 1,
  union, then ``last(value, ignorenulls)`` over a window partitioned by key
  and ordered by (ts, tag) with an unbounded-preceding row frame; keep probe
  rows. One shuffle, no UDF, whole-stage codegen. This is the strategy that
  scales: the window is a single sort per partition, AQE handles partition
  sizing, and hot keys are handled by **salting** — probe rows scatter over
  ``salt`` buckets while the build side is *replicated* into every bucket,
  so each replica still sees the full ordered build timeline (never split
  the timeline mid-window: that would leak or drop matches).
  ``salt=<int>`` applies a fixed factor to every key; ``salt='auto'`` is
  LAZY per-key salting (see ``_salted_adaptive``) — key row counts ride
  along as an in-plan aggregate, so construction runs no driver job and
  only actually-hot keys pay replication. Salting is not free — the build
  timeline is replicated x salt — so it only pays when one key's window
  work dominates a stage (at ~150k hot rows unsalted wins; the crossover
  is millions of rows per key).

- ``merge`` (grouped-map Arrow UDF): per-key ``pandas.merge_asof``. Kept
  for parity testing. Per-group state is one doc's rows — small and
  balanced after the corpus-wide groupBy.

``direction='nearest'`` (merge_asof parity, ties to backward) is native
in the union strategy too: both directional fills ride the SAME key
exchange — one extra sort per partition, no extra shuffle.

Tolerance: rows whose matched build ts is further than ``tolerance``
seconds in the past yield nulls (merge_asof semantics).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import ts_micros


# per-key salt factors from salt='auto' are clamped to this
_MAX_SALT = 32


def _salted_adaptive(
    probe: DataFrame,
    build: DataFrame,
    keys: list[str],
    target_rows_per_task: int,
):
    """Per-key lazy salting (``salt='auto'``): each key's salt factor is
    ceil(its probe row count / target), clamped to ``_MAX_SALT`` — computed
    INSIDE the plan (one extra map-side-combinable aggregate + two key
    joins), so plan construction runs no driver job and cold keys pay no
    replication at all. Build rows replicate into exactly their key's
    bucket count (keys absent from the probe default to 1); every replica
    still sees the full ordered build timeline, so semantics are identical
    to the fixed-salt form.
    """
    counts = probe.groupBy(*keys).agg(F.count(F.lit(1)).alias("__key_rows"))
    dim = counts.select(
        *keys,
        F.least(
            F.lit(_MAX_SALT),
            F.greatest(
                F.lit(1).cast("long"),
                F.ceil(F.col("__key_rows") / F.lit(target_rows_per_task)),
            ).cast("int"),
        ).alias("__n_salt"),
    )
    # LEFT join + coalesce-to-1: an inner join would silently DROP probe
    # rows with null keys (null never equi-matches, even against the dim's
    # own null-key count row). Null-key rows on both sides coalesce to a
    # single bucket (n_salt=1, salt=0), matching unsalted window semantics
    # where nulls group together.
    p = (
        probe.join(dim, on=keys, how="left")
        .withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(*[F.col(c) for c in probe.columns]),
                F.coalesce(F.col("__n_salt"), F.lit(1)),
            ).cast("int"),
        )
        .select(*probe.columns, "__salt")  # keep the caller's column order
    )
    b = (
        build.join(dim, on=keys, how="left")
        .withColumn(
            "__salt",
            F.explode(
                F.sequence(F.lit(0), F.coalesce(F.col("__n_salt"), F.lit(1)) - 1)
            ),
        )
        .select(*build.columns, "__salt")
    )
    return p, b, keys + ["__salt"]


def _salted(probe: DataFrame, build: DataFrame, keys: list[str], salt: int):
    """Scatter probe rows across ``salt`` buckets; replicate build into all."""
    probe = probe.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in probe.columns]), F.lit(salt)).cast("int")
    )
    build = build.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    return probe, build, keys + ["__salt"]


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    on: str | list[str] = "doc_id",
    ts: str = "ts",
    value_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_s: float | None = None,
    strategy: str = "union",
    salt: int | str | None = None,
    allow_exact_matches: bool = True,
    salt_target_rows: int = 500_000,
) -> DataFrame:
    """As-of join ``build``'s latest values onto ``probe`` rows.

    Returns probe columns + one column per build value column (named as in
    build; rename upstream on clashes).

    Contract (union strategy): build-side VALUE cells must be non-null —
    the probe/build discrimination inside the window rides on
    ``last(value, ignorenulls)``, so a build row with a NULL value cell is
    invisible to the fill and an older non-null row wins for that column
    (the tag-driven tolerance check still measures from the newer row).
    Encode "present but unknown" upstream (sentinel or coalesce) or use
    ``strategy='merge'``, which propagates NULLs like ``pandas.merge_asof``.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be 'backward', 'forward' or 'nearest'")
    if value_cols is None:
        value_cols = [c for c in build.columns if c not in keys + [ts]]
    clash = set(value_cols) & set(probe.columns)
    if clash:
        raise ValueError(f"value columns clash with probe columns: {sorted(clash)}")

    if strategy == "merge":
        return _asof_merge(probe, build, keys, ts, value_cols, direction,
                           tolerance_s, allow_exact_matches)
    if strategy != "union":
        raise ValueError(f"unknown strategy {strategy!r}")

    if salt == "auto":
        # lazy per-key salting: no driver job at plan-construction time
        probe, build, keys = _salted_adaptive(
            probe, build, keys, salt_target_rows
        )
    elif salt and salt > 1:
        probe, build, keys = _salted(probe, build, keys, salt)

    probe_cols = [c for c in probe.columns if c != "__salt"]
    # build rows carry values, probe rows carry nulls (to be filled by the
    # window); probe payload rides along nulled on build rows.
    b = build.select(
        *keys,
        F.col(ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        *[F.col(c) for c in value_cols],
        *[F.lit(None).cast(probe.schema[c].dataType).alias(f"__p_{c}") for c in probe_cols],
    )
    p = probe.select(
        *keys,
        F.col(ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        *[F.lit(None).cast(build.schema[c].dataType).alias(c) for c in value_cols],
        *[F.col(c).alias(f"__p_{c}") for c in probe_cols],
    )
    both = b.unionByName(p)

    tag_order = F.col("__tag").asc() if allow_exact_matches else F.col("__tag").desc()
    if direction == "nearest":
        # pandas merge_asof parity: evaluate BOTH directions and keep the
        # closer match, ties to backward (pandas picks backward when
        # left-bd <= fd-left). Both window specs share the partition keys,
        # so the plan keeps ONE exchange — nearest costs one extra sort
        # per partition, never an extra shuffle (plan-frozen in
        # test_temporal.py::test_asof_nearest_single_exchange).
        wb = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__ts").asc(), tag_order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wf = (
            Window.partitionBy(*keys)
            .orderBy(F.col("__ts").desc(), tag_order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        build_ts = F.when(F.col("__tag") == 0, F.col("__ts"))
        cand = both.select(
            "*",
            *[F.last(c, ignorenulls=True).over(wb).alias(f"__b_{c}") for c in value_cols],
            *[F.last(c, ignorenulls=True).over(wf).alias(f"__w_{c}") for c in value_cols],
            F.last(build_ts, ignorenulls=True).over(wb).alias("__bts"),
            F.last(build_ts, ignorenulls=True).over(wf).alias("__fts"),
        ).filter(F.col("__tag") == 1)
        # integer-micros distances: exact tie behavior on any engine
        d_back = ts_micros(F.col("__ts")) - ts_micros(F.col("__bts"))
        d_fwd = ts_micros(F.col("__fts")) - ts_micros(F.col("__ts"))
        use_back = F.col("__bts").isNotNull() & (
            F.col("__fts").isNull() | (d_back <= d_fwd)
        )
        filled = cand.select(
            "*",
            *[
                F.when(use_back, F.col(f"__b_{c}")).otherwise(F.col(f"__w_{c}")).alias(f"__f_{c}")
                for c in value_cols
            ],
            F.when(use_back, F.col("__bts")).otherwise(F.col("__fts")).alias("__matched_ts"),
        )
    else:
        if direction == "backward":
            order = [F.col("__ts").asc(), tag_order]
        else:
            order = [F.col("__ts").desc(), tag_order]
        w = (
            Window.partitionBy(*keys)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = both.select(
            "*",
            *[F.last(c, ignorenulls=True).over(w).alias(f"__f_{c}") for c in value_cols],
            F.last(F.when(F.col("__tag") == 0, F.col("__ts")), ignorenulls=True)
            .over(w)
            .alias("__matched_ts"),
        ).filter(F.col("__tag") == 1)

    if tolerance_s is not None:
        # exact integer-micros tolerance: a delta of exactly tolerance_s is
        # in-tolerance on any engine (double seconds could flip it)
        delta_us = F.abs(ts_micros(F.col("__ts")) - ts_micros(F.col("__matched_ts")))
        tol_us = int(round(float(tolerance_s) * 1_000_000))
        in_tol = F.col("__matched_ts").isNotNull() & (delta_us <= F.lit(tol_us))
        filled = filled.select(
            "*",
            *[
                F.when(in_tol, F.col(f"__f_{c}")).alias(f"__t_{c}")
                for c in value_cols
            ],
        )
        fill_src = "__t_"
    else:
        fill_src = "__f_"

    out_cols = [F.col(f"__p_{c}").alias(c) for c in probe_cols]
    out_cols += [F.col(f"{fill_src}{c}").alias(c) for c in value_cols]
    return filled.select(*out_cols)


def _asof_merge(probe, build, keys, ts, value_cols, direction, tolerance_s,
                allow_exact_matches):
    """Grouped-map formulation: per-key pandas.merge_asof (Arrow batches)."""
    probe_cols = probe.columns
    p = probe.select(*probe_cols, F.lit(1).alias("__side"))
    b = build.select(
        *keys, F.col(ts),
        *[F.col(c) for c in value_cols],
        F.lit(0).alias("__side"),
        *[
            F.lit(None).cast(probe.schema[c].dataType).alias(c)
            for c in probe_cols
            if c not in keys + [ts]
        ],
    )
    both = p.unionByName(b, allowMissingColumns=True)

    from pyspark.sql.types import StructType

    out_schema = StructType(
        [probe.schema[c] for c in probe_cols] + [build.schema[c] for c in value_cols]
    )

    tol = pd.Timedelta(seconds=tolerance_s) if tolerance_s is not None else None

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        left = pdf[pdf["__side"] == 1].sort_values(ts, kind="mergesort")
        right = pdf[pdf["__side"] == 0][keys + [ts] + value_cols].sort_values(ts, kind="mergesort")
        merged = pd.merge_asof(
            left[probe_cols],
            right.drop(columns=keys),
            on=ts,
            direction=direction,
            tolerance=tol,
            allow_exact_matches=allow_exact_matches,
        )
        return merged

    return both.groupBy(*keys).applyInPandas(merge_group, schema=out_schema)

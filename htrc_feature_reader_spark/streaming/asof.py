"""Streaming as-of join and forward fill on one per-key state machine.

A build stream (feature timeline) and a probe stream (query timestamps)
are union-tagged and fed through ONE ``applyInPandasWithState``: per-key
state is the latest build row (and the one before it), and every probe
row gets the most recent build values at-or-before its timestamp. For
in-order replays this matches the batch ``operators/asof.py:asof_join``
(backward, exact matches allowed, optional tolerance), a matched build
row's NULL and NaN cells included. Out-of-order rows
ACROSS micro-batches see last-known state, a one-sided relaxation: a late
probe is never served a future build value (it falls back to the earlier
state row or null-fills), and a late build row is dropped rather than
rolling state back. ``stream_forward_fill`` runs the same machine on one
stream, each row with a value tagged as both a build and a probe row.
Oracles: the batch operators (tests/test_streaming_asof.py,
tests/test_streaming_stateful.py).

Scale shape:
- one shuffle (the groupBy key hash) shared by both sides, as in the
  batch union window's single-shuffle plan;
- state is O(1) per key, so sharding keys scales state memory out;
- within a micro-batch the group is sorted by (ts, side), so build rows
  at timestamp T are visible to probe rows at T (allow_exact_matches),
  the batch operator's tie rule.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)


def stream_asof_join(
    probe: DataFrame,
    build: DataFrame,
    on: str = "key",
    ts: str = "ts",
    value_cols: list[str] | None = None,
    tolerance_s: float | None = None,
    allow_exact_matches: bool = True,
) -> DataFrame:
    """As-of join ``build``'s latest values onto ``probe`` rows, streaming.

    ``probe`` and ``build`` are streaming DataFrames sharing the key and
    timestamp column names. Returns probe columns + one column per build
    value column (nullable; null when no build row at-or-before the probe
    ts within tolerance). The matched build row's NULL and NaN cells come
    through as they are, as in batch ``asof_join``. Probe rows are emitted
    in append mode.
    """
    if value_cols is None:
        value_cols = [c for c in build.columns if c not in (on, ts)]
    clash = set(value_cols) & set(probe.columns)
    if clash:
        raise ValueError(f"value columns clash with probe columns: {sorted(clash)}")
    probe_payload = [c for c in probe.columns if c not in (on, ts)]

    # union-tag: build side=0 sorts before probe side=1 at equal ts, which
    # is exactly the allow_exact_matches tie rule; probe payload rides
    # along nulled on build rows and vice versa
    tagged = build.select(
        F.col(on).alias("__k"),
        F.col(ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(c) for c in value_cols],
        *[F.lit(None).cast(probe.schema[c].dataType).alias(c) for c in probe_payload],
    ).unionByName(
        probe.select(
            F.col(on).alias("__k"),
            F.col(ts).alias("__ts"),
            F.lit(1).alias("__side"),
            *[F.lit(None).cast(build.schema[c].dataType).alias(c) for c in value_cols],
            *[F.col(c) for c in probe_payload],
        )
    )

    return _state_join(
        tagged, on, ts, value_cols, probe_payload, tolerance_s, allow_exact_matches
    )


def stream_forward_fill(
    events: DataFrame, key: str = "key", ts: str = "ts", value: str = "value"
) -> DataFrame:
    """(key, ts, value, filled) of the streaming DataFrame ``events``:
    ``filled`` is the last non-null value at or before the row, the row
    itself included (batch ``forward_fill``'s rule, so a late row reports
    its own value). NULL keys fill within their own group."""
    # one select, not a self-union of two filtered reads, so each
    # micro-batch is scanned once
    tagged = events.select(
        F.col(key).alias("__k"),
        F.col(ts).alias("__ts"),
        F.explode(
            F.when(F.col(value).isNull(), F.array(F.lit(1)))
            .otherwise(F.array(F.lit(0), F.lit(1)))
        ).alias("__side"),
        F.col(value).alias("__fill"),
        F.col(value),
    )
    return _state_join(tagged, key, ts, ["__fill"], [value], None, True).select(
        key, ts, value, F.coalesce(F.col(value), F.col("__fill")).alias("filled")
    )


def _state_join(
    tagged: DataFrame,
    on: str,
    ts: str,
    value_cols: list[str],
    probe_payload: list[str],
    tolerance_s: float | None,
    allow_exact_matches: bool,
) -> DataFrame:
    """The per-key as-of state machine over a union-tagged stream
    (``__k``, ``__ts``, ``__side`` 0 = build / 1 = probe, value columns
    read on build rows, payload columns on probe rows). Emits one row per
    probe row: (on, ts, *probe_payload, *value_cols), typed as in
    ``tagged``."""
    # Arrow masks pandas' isnull() both ways, so NaN and NULL merge at the
    # Python boundary: each floating column carries an isnan() flag through
    # the machine and NaN is restored on output
    cols = [*probe_payload, *value_cols]
    floats = [c for c in cols if isinstance(tagged.schema[c].dataType, (DoubleType, FloatType))]
    tagged = tagged.select("*", *[F.isnan(c).alias(f"__nan_{c}") for c in floats])
    probe_payload = probe_payload + [f"__nan_{c}" for c in floats if c in probe_payload]
    value_cols = value_cols + [f"__nan_{c}" for c in floats if c in value_cols]
    schema = tagged.schema
    key_t = schema["__k"].dataType
    ts_t = schema["__ts"].dataType
    if not isinstance(ts_t, (TimestampType, TimestampNTZType)):
        raise TypeError(f"ts column {ts!r} must be a timestamp, got {ts_t}")
    out_schema = StructType(
        [StructField(on, key_t), StructField(ts, ts_t)]
        + [StructField(c, schema[c].dataType) for c in probe_payload]
        + [StructField(c, schema[c].dataType, True) for c in value_cols]
    )
    # state = latest build row AND the latest strictly-earlier one: when
    # allow_exact_matches=False and the newest build row coincides with the
    # probe ts, the join must fall back to the previous row — still O(1)
    state_schema = StructType(
        [StructField("last_ts", ts_t)]
        + [StructField(c, schema[c].dataType, True) for c in value_cols]
        + [StructField("prev_ts", ts_t)]
        + [StructField(f"__prev_{c}", schema[c].dataType, True) for c in value_cols]
    )
    n_vals = len(value_cols)

    # closure, not module-level: cloudpickle ships it by value so executors
    # never import this package (works from any driver cwd / bare submit)
    if allow_exact_matches:
        def admissible(t, p):
            return t is not None and t <= p
    else:
        def admissible(t, p):
            return t is not None and t < p

    def join_fn(group_key, batches: Iterator[pd.DataFrame], state: GroupState):
        if state.exists:
            st = state.get
            last_ts, last_vals = st[0], list(st[1 : 1 + n_vals])
            prev_ts, prev_vals = st[1 + n_vals], list(st[2 + n_vals :])
        else:
            last_ts, last_vals = None, [None] * n_vals
            prev_ts, prev_vals = None, [None] * n_vals
        # ONE sort over the whole micro-batch: `batches` yields Arrow
        # chunks (arrow.maxRecordsPerBatch rows each) and a chunk-local
        # sort would mis-order rows straddling chunk boundaries — the
        # late-row guard below would then drop same-batch builds and
        # serve probes a future value. One group's micro-batch rows are
        # already colocated in this worker, so the concat is bounded by
        # per-key micro-batch volume, not state.
        chunks = list(batches)
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            pdf = pdf.sort_values(["__ts", "__side"], kind="mergesort")
            sides = pdf["__side"].to_list()
            tss = pdf["__ts"].to_list()
            vals = {c: pdf[c].to_list() for c in value_cols}
            pays = {c: pdf[c].to_list() for c in probe_payload}
            out = {c: [] for c in (on, ts, *probe_payload, *value_cols)}
            for i in range(len(pdf)):
                if sides[i] == 0:
                    # a LATE build row (older than last-known state, i.e.
                    # out-of-order across micro-batches) must not regress
                    # state: overwriting would serve probes stale values
                    # and could leave prev_ts AFTER last_ts (a future-value
                    # leak under allow_exact_matches=False). Drop it — the
                    # documented last-known-state relaxation.
                    if last_ts is not None and tss[i] < last_ts:
                        continue
                    if last_ts is not None and tss[i] > last_ts:
                        prev_ts, prev_vals = last_ts, last_vals
                    last_ts = tss[i]
                    last_vals = [vals[c][i] for c in value_cols]
                    continue
                # ONE admissibility rule covers both the exact-match
                # exclusion and the PIT guard for probes arriving LATE
                # across micro-batches (ts < state's last_ts): a candidate
                # must be <= the probe ts (strictly < when
                # allow_exact_matches=False), else it is temporal leakage
                # — and the (unsigned) tolerance check would wave the
                # negative delta through. Chaining the two rules as
                # separate fallbacks was wrong: last_ts failing the exact
                # rule could fall back to a prev_ts that itself equals the
                # probe ts. prev_ts <= last_ts always (late builds are
                # dropped above), so last-then-prev picks the most recent
                # admissible row. (`admissible` is hoisted above the loop
                # — this is the per-probe-row hot path.)
                pts = tss[i]
                if admissible(last_ts, pts):
                    cand_ts, cand_vals = last_ts, last_vals
                elif admissible(prev_ts, pts):
                    cand_ts, cand_vals = prev_ts, prev_vals
                else:
                    cand_ts, cand_vals = None, [None] * n_vals
                hit = cand_ts is not None and (
                    tolerance_s is None
                    or (tss[i] - cand_ts).total_seconds() <= tolerance_s
                )
                out[on].append(group_key[0])
                out[ts].append(tss[i])
                for c in probe_payload:
                    out[c].append(pays[c][i])
                for c, v in zip(value_cols, cand_vals):
                    out[c].append(v if hit else None)
            if out[on]:  # all-build batches yield nothing (append mode)
                yield pd.DataFrame(out)
        if last_ts is not None:
            # probe-only keys carry nothing worth remembering — updating
            # would allocate permanent per-key state (NoTimeout) that grows
            # with probe-key cardinality forever
            state.update((last_ts, *last_vals, prev_ts, *prev_vals))

    return tagged.groupBy("__k").applyInPandasWithState(
        join_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    ).select(
        on, ts,
        *[
            F.when(F.col(f"__nan_{c}"), F.lit(float("nan")).cast(schema[c].dataType))
            .otherwise(F.col(c)).alias(c) if c in floats else F.col(c)
            for c in cols
        ],
    )

"""Point-in-time windowed feature build over the ``sequences`` table.

This is the north-rule headline pipeline (BASELINE.json): from the input
(doc_id, ts, tokens array<int32>, n_tok, source), produce a per-row
feature vector at each (doc_id, ts) such that **no feature reads rows with
ts' > ts** (zero temporal leakage) and the ``tokens`` array passes through
byte-identical.

Leakage safety by construction: every cumulative feature uses a RANGE
window frame ordered by event time with frame (unbounded preceding ..
current row) — a range frame includes *all* rows with equal ts and nothing
later, so results are deterministic even under duplicate timestamps (a row
frame would depend on shuffle order within ties).

All arithmetic is exact-integer until the final ratio, so results are
bit-reproducible across partitionings (SURVEY.md §4: never average floats
across shuffle-ordered partials).

Features:
- per-row:       n_tok, n_distinct (distinct token ids in the row),
                 sum_tok (Σ token ids — exact int64)
- per-doc cum:   seq_idx (rows so far), cum_n_tok, mean_n_tok,
                 mean_token_id (Σ token ids / Σ n_tok so far)
- per-source cum: src_cum_n_tok; src_share = (doc, source)-cum /
                 source-cum — this doc's share of everything its source has
                 emitted so far (a point-in-time source-level tf stat,
                 always in (0, 1])
- timeline:      gap_s since previous row, session_id (gap-based)

Scale design:
- the doc-keyed windows share one exchange and one sort: each comes from
  ``windows._ordered_window`` and orders by the ts column itself (only the
  (doc, source) cumulative re-sorts, inside the same partitions).
- doc-keyed windows parallelize across millions of docs, but a plain
  ``partitionBy(source)`` window has a hard parallelism ceiling of #sources
  (4 here — one task each, no matter the cluster). The source cumulative is
  therefore computed as a **distributed prefix sum**: an in-bucket range
  window partitioned by (source, time-bucket) — fully parallel — plus a
  broadcast of per-bucket totals' exclusive prefix (tiny: #sources x
  #buckets rows). Identical exact-integer results, no ceiling.
- the ``tokens`` payload (~10x the width of everything else) never rides
  through a window exchange: per-row scalars (sum_tok, n_distinct) are
  extracted at the scan, the window plan runs on the narrow projection,
  and the payload is re-attached by one equi-join at the end (or not at
  all with ``attach_payload=False`` — the feature-table case). Measured on
  this box: pushing the arrays through the two window sorts saturates
  memory bandwidth and makes 32 cores *slower* than 8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .windows import _ordered_window, session_id_col

from ..functions import ts_micros


def distributed_prefix_sum(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    ts_col: str = "ts",
    bucket_s: float = 3600.0,
    out_col: str = "cum",
) -> DataFrame:
    """Cumulative sum of ``value_col`` over time per key, with no
    per-key parallelism ceiling: within-bucket range window (parallel over
    (key, bucket)) + broadcast-joined exclusive prefix of bucket totals.

    Returns df + out_col. Exactly equals
    ``sum(value) over (partition by key order by ts range unbounded
    preceding)`` — same exact-integer result, different physical plan.
    """
    ts_us = ts_micros(ts_col)
    bucket_us = int(round(float(bucket_s) * 1_000_000))
    # exact integer floor-div (long/long in Spark is double division, which
    # can misround at exact bucket boundaries for epoch-micros magnitudes)
    bucket_col = ((ts_us - F.pmod(ts_us, F.lit(bucket_us))) / F.lit(bucket_us)).cast("long")
    df = df.withColumn("__bucket", bucket_col)
    w_in = _ordered_window([*key_cols, "__bucket"], ts_col).rangeBetween(
        Window.unboundedPreceding, 0
    )
    df = df.withColumn("__in_cum", F.sum(value_col).over(w_in))
    totals = df.groupBy(*key_cols, "__bucket").agg(
        F.sum(value_col).alias("__btotal")
    )
    w_pref = _ordered_window(key_cols, "__bucket").rowsBetween(Window.unboundedPreceding, -1)
    prefix = totals.select(
        *key_cols, "__bucket", F.sum("__btotal").over(w_pref).alias("__prefix")
    )
    out = (
        df.join(F.broadcast(prefix), on=[*key_cols, "__bucket"], how="left")
        .withColumn(out_col, F.col("__in_cum") + F.coalesce(F.col("__prefix"), F.lit(0)))
        .drop("__bucket", "__in_cum", "__prefix")
    )
    return out


def build_pit_features(
    seqs: DataFrame,
    doc_col: str = "doc_id",
    ts_col: str = "ts",
    session_gap_s: float = 1800.0,
    tiebreak: list[str] | None = None,
    src_bucket_s: float = 3600.0,
    attach_payload: bool = True,
    payload_cols: tuple[str, ...] = ("tokens",),
) -> DataFrame:
    """Compute the point-in-time feature vector for every sequence row.

    ``tiebreak`` orders rows with equal (doc, ts) for the row-ordered
    features (gap_s, session_id); defaults to (n_tok, sum_tok). Cumulative
    features use range frames and are tiebreak-independent.
    ``src_bucket_s`` sizes the prefix-sum time buckets for the source
    cumulative (#buckets ~ time span / bucket_s; keep it small enough to
    broadcast, large enough that buckets hold many rows).

    ``attach_payload=False`` returns the narrow feature table without the
    payload columns — the cheap path when consumers join features onto the
    raw table themselves. With True (default), payload columns are
    re-attached by one equi-join on the full narrow row key; rows that are
    complete duplicates of each other (same doc, ts, scalars, source)
    collapse to one representative's row-ordered features — they are
    interchangeable, so cumulative features are unaffected.
    """
    with_scalars = seqs.withColumn(
        "sum_tok", F.aggregate("tokens", F.lit(0).cast("long"), lambda a, x: a + x)
    ).withColumn("n_distinct", F.size(F.array_distinct("tokens")))

    # windows run on the narrow projection: the payload never enters a sort
    present_payload = [c for c in payload_cols if c in with_scalars.columns]
    df = with_scalars.drop(*present_payload)
    narrow_key = df.columns

    # timeline features use a deterministic total order within ties;
    # the gap is computed in exact integer micros, divided out only here
    tb = tiebreak if tiebreak is not None else ["n_tok", "sum_tok"]
    doc_range = _ordered_window(doc_col, ts_col).rangeBetween(Window.unboundedPreceding, 0)
    doc_src_range = _ordered_window([doc_col, "source"], ts_col).rangeBetween(
        Window.unboundedPreceding, 0
    )
    prev_ts = F.lag(ts_col).over(_ordered_window(doc_col, ts_col, tb))
    df = df.select(
        "*",
        F.count(F.lit(1)).over(doc_range).alias("seq_idx"),
        F.sum("n_tok").over(doc_range).alias("cum_n_tok"),
        F.sum("sum_tok").over(doc_range).alias("cum_sum_tok"),
        F.sum("n_tok").over(doc_src_range).alias("doc_src_cum_n_tok"),
        ((ts_micros(ts_col) - ts_micros(prev_ts)) / F.lit(1_000_000.0)).alias("gap_s"),
        session_id_col(doc_col, ts_col, session_gap_s, tiebreak=tb)
        .cast("long").alias("session_id"),
    )
    # source-level cumulative via distributed prefix sum (no 4-task ceiling)
    df = distributed_prefix_sum(
        df, "n_tok", ["source"], ts_col=ts_col, bucket_s=src_bucket_s,
        out_col="src_cum_n_tok",
    )
    df = (
        df.withColumn("mean_n_tok", F.col("cum_n_tok") / F.col("seq_idx"))
        .withColumn("mean_token_id", F.col("cum_sum_tok") / F.col("cum_n_tok"))
        .withColumn("src_share", F.col("doc_src_cum_n_tok") / F.col("src_cum_n_tok"))
    )

    if attach_payload and present_payload:
        df = with_scalars.join(df.dropDuplicates(narrow_key), on=narrow_key)
    return df


def trailing_window_features(
    seqs: DataFrame,
    doc_col: str = "doc_id",
    ts_col: str = "ts",
    horizons_s: dict[str, float] | None = None,
    value_col: str = "n_tok",
    strict: bool = False,
    payload_cols: tuple[str, ...] = ("tokens",),
) -> DataFrame:
    """Trailing event-time-horizon aggregates per entity — the classic
    feature-store rollup ("events / tokens in the last hour/day as of
    each row") that complements :func:`build_pit_features`' unbounded
    cumulatives.

    For each ``label -> seconds`` entry in ``horizons_s`` (default
    ``{"1h": 3600, "1d": 86400}``) emits, per input row:

    - ``trail_n_{label}``      — rows in the horizon (exact long)
    - ``trail_{value}_{label}`` — sum of ``value_col`` in the horizon

    Frame semantics (leakage contract, same as build_pit_features):
    ``strict=False`` (default) uses the SQL-standard inclusive frame
    ``[ts - horizon, ts]`` — all rows with EQUAL ts are in each other's
    window, so results are deterministic under duplicate timestamps and
    nothing later than the as-of instant is read. ``strict=True`` uses
    ``[ts - horizon, ts)`` — serving-time semantics where a row must not
    see itself or co-timestamped rows (frame upper bound is one
    microsecond before the row's own time); empty windows yield count 0
    and sum 0, exact int64 end-to-end.

    Scale design: all horizons share ONE window spec partitioning
    (``doc_col``, ordered by integer epoch micros), so Catalyst computes
    every frame over a single exchange + sort — adding a horizon adds no
    shuffle. Range frames over integer micros (never double seconds —
    see ``ts_micros``). As in build_pit_features, the token payload
    never rides the window sort: ``payload_cols`` are dropped before the
    window plan and re-attached by one equi-join on the narrow row
    (drop payload columns yourself and pass ``payload_cols=()`` for the
    cheap narrow path).
    """
    if horizons_s is None:
        horizons_s = {"1h": 3600.0, "1d": 86400.0}

    present_payload = [c for c in payload_cols if c in seqs.columns]
    df = seqs.drop(*present_payload)
    narrow_key = df.columns

    # the bounded frames need a numeric order key: materialize it once as a
    # column (never order by an expression -- see ``_ordered_window``)
    df = df.withColumn("__ts_us", ts_micros(ts_col))
    hi = -1 if strict else 0
    cols = []
    for label, h_s in horizons_s.items():
        h_us = int(round(float(h_s) * 1_000_000))
        w = _ordered_window(doc_col, "__ts_us").rangeBetween(-h_us, hi)
        cols.append(F.count(F.lit(1)).over(w).cast("long").alias(f"trail_n_{label}"))
        cols.append(
            F.coalesce(F.sum(value_col).over(w), F.lit(0))
            .cast("long")
            .alias(f"trail_{value_col}_{label}")
        )
    df = df.select("*", *cols).drop("__ts_us")

    if present_payload:
        df = seqs.join(df.dropDuplicates(narrow_key), on=narrow_key)
    return df

"""Entity-timeline window operators (north-rule extensions).

lag/lead, forward/backward fill, and gap-based sessionization over
per-entity ordered timelines — all pure window functions (one shuffle on
the entity key, whole-stage codegen, no UDFs). Reference analog: the
reference's only window-like op is a groupwise transform
(/root/reference/htrc_features/feature_reader.py:566); these extend the
model per BASELINE.json's north rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import ts_micros


def _ordered_window(key, ts: str, tiebreak: list[str] | None = None):
    """The one builder of a per-entity time window: partition by ``key``,
    order by ``ts`` then ``tiebreak``.

    Order by a column, never an expression: an expression order key (say
    ``ts_micros(ts)``) is aliased anew (``_w0#19``, ``_w0#22``, ...) by each
    ``withColumn`` or ``select`` that uses it, Catalyst cannot prove those
    aliases equal, and the windows cannot share an exchange and a sort. A
    frame that needs a numeric key (a bounded RANGE) orders by a column
    materialized once.
    """
    keys = [key] if isinstance(key, str) else list(key)
    order = [F.col(ts)] + [F.col(c) for c in (tiebreak or [])]
    return Window.partitionBy(*keys).orderBy(*order)


def with_lag_lead(
    df: DataFrame,
    cols: list[str],
    key: str | list[str] = "doc_id",
    ts: str = "ts",
    offsets: tuple[int, ...] = (1,),
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Add ``{col}_lag{k}`` / ``{col}_lead{k}`` per requested offset."""
    w = _ordered_window(key, ts, tiebreak)
    out = df
    for c in cols:
        for k in offsets:
            out = out.withColumn(f"{c}_lag{k}", F.lag(c, k).over(w))
            out = out.withColumn(f"{c}_lead{k}", F.lead(c, k).over(w))
    return out


def forward_fill(
    df: DataFrame,
    cols: list[str],
    key: str | list[str] = "doc_id",
    ts: str = "ts",
    tiebreak: list[str] | None = None,
    suffix: str = "",
) -> DataFrame:
    """Per-entity forward fill: last non-null value at or before each row.

    ``last(col, ignorenulls) over rows unbounded-preceding..current`` — the
    point-in-time-safe fill (never reads the future).
    """
    w = _ordered_window(key, ts, tiebreak).rowsBetween(Window.unboundedPreceding, 0)
    out = df
    for c in cols:
        out = out.withColumn(c + suffix, F.last(c, ignorenulls=True).over(w))
    return out


def backward_fill(
    df: DataFrame,
    cols: list[str],
    key: str | list[str] = "doc_id",
    ts: str = "ts",
    tiebreak: list[str] | None = None,
    suffix: str = "",
) -> DataFrame:
    """Per-entity backward fill: first non-null value at or after each row.

    NOTE: reads *future* rows by definition — training-feature pipelines
    should only use this on label/target columns, never features.
    """
    w = _ordered_window(key, ts, tiebreak).rowsBetween(0, Window.unboundedFollowing)
    out = df
    for c in cols:
        out = out.withColumn(c + suffix, F.first(c, ignorenulls=True).over(w))
    return out


def session_id_col(
    key: str | list[str],
    ts: str,
    gap_s: float,
    tiebreak: list[str] | None = None,
) -> Column:
    """1-based session id: a new session starts when the gap since the
    previous event exceeds ``gap_s`` seconds. cumsum-of-boundary-flags over
    the ordered per-entity window.

    The gap comparison is exact integer microseconds (a gap of exactly
    ``gap_s`` stays in-session on any engine; double epoch-seconds could
    flip it under float rounding)."""
    w = _ordered_window(key, ts, tiebreak)
    prev = F.lag(F.col(ts)).over(w)
    gap_us = ts_micros(ts) - ts_micros(prev)
    threshold_us = int(round(float(gap_s) * 1_000_000))
    boundary = F.when(prev.isNull() | (gap_us > F.lit(threshold_us)), 1).otherwise(0)
    return F.sum(boundary).over(w.rowsBetween(Window.unboundedPreceding, 0))


def sessionize(
    df: DataFrame,
    key: str | list[str] = "doc_id",
    ts: str = "ts",
    gap_s: float = 1800.0,
    out_col: str = "session_id",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Attach a per-entity gap-based session id (north-rule sessionization)."""
    return df.withColumn(out_col, session_id_col(key, ts, gap_s, tiebreak).cast("long"))

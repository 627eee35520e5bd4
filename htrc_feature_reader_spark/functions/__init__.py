"""Shared scalar helpers (engine-internal column expressions)."""

from pyspark.sql import Column
from pyspark.sql import functions as F


def ts_seconds(c: Column | str) -> Column:
    """Event time as fractional epoch seconds, for window ordering/arithmetic.

    Works for TIMESTAMP, TIMESTAMP_NTZ (pandas-written parquet surfaces NTZ
    in Spark 4 — a direct double cast is rejected), DATE, and numeric
    epoch columns. The intermediate cast to session-TZ timestamp is an
    identity for LTZ and a fixed-offset reinterpretation for NTZ — safe for
    differences and ordering, which is all the engine uses it for.
    """
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("timestamp").cast("double")


def ts_micros(c: Column | str) -> Column:
    """Event time as exact integer epoch microseconds (long) — the form all
    window ordering, range framing, bucketing, and gap comparisons use.

    Double epoch-seconds has a ~0.24 us ULP in the 2020s: a gap exactly
    equal to a threshold can flip under float rounding, so order/frame/
    compare on integer micros and divide to seconds only for output
    columns. Works for TIMESTAMP, TIMESTAMP_NTZ, DATE, and numeric epoch
    columns. The NTZ->LTZ cast reinterprets wall time in the session
    timezone; the engine pins ``spark.sql.session.timeZone=UTC``
    (session.py) so that reinterpretation is a DST-free identity — pin the
    same if you bring your own session.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.unix_micros(c.cast("timestamp"))


def ensure_min_parallelism(
    df: "DataFrame",
    size_threshold: int = 256 << 20,
) -> "DataFrame":
    """Round-robin spread for CPU-bound narrow stages over tiny inputs.

    Scan parallelism is sized by BYTES (``spark.sql.files.
    maxPartitionBytes`` / ``openCostInBytes``), which is right for
    IO-bound plans but strands CPU-heavy per-row transforms (shingle
    hashing, repetition folds — milliseconds per KB-sized row) on a
    handful of tasks when the input is small: a 500 KB parquet written
    as one row group is unsplittable and runs ONE task no matter the
    split configs. If the optimizer's size estimate for ``df`` is under
    ``size_threshold`` (default 256 MB), repartition round-robin to the
    session default parallelism: the added exchange moves at most the
    threshold (sub-second) and unlocks every core. At corpus scale the
    estimate is orders of magnitude larger and this is a NO-OP — no
    exchange is added to a 100 TB plan.

    The decision reads Catalyst plan statistics (``optimizedPlan.stats``
    — pure metadata from the already-performed file listing), NOT
    ``df.rdd``: converting to an RDD forces physical planning and, under
    AQE, can EXECUTE upstream query stages — a construction-time job,
    breaking the library's laziness contract.
    """
    if df.isStreaming:  # no static stats to inspect
        return df
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    if 0 <= size < size_threshold:
        return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    return df

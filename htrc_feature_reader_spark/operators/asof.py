"""Distributed point-in-time (as-of) join.

The reference has no temporal joins (its only joins are tiny index-aligned
equi joins, feature_reader.py:755-767); this operator is the north-rule
extension (BASELINE.json): for every probe row (key, ts) attach the most
recent build-side row with build.ts <= probe.ts (direction='backward';
'forward' mirrors). Zero temporal leakage by construction.

One physical plan, pure Catalyst: tag build rows 0 / probe rows 1, union,
then ``last(__row, ignorenulls)`` over a window partitioned by key and
ordered by (ts, tag) with an unbounded-preceding row frame; keep probe
rows. Each build row carries its whole matched row as ONE struct
``__row = struct(ts AS __mts, *value_cols)`` and each probe row a NULL
struct, so the fill picks a build ROW, never a cell: a NULL or NaN cell in
the matched row comes through as it is (``pandas.merge_asof`` and DuckDB
``ASOF JOIN`` semantics). One shuffle, no UDF, whole-stage codegen.

The window is a single sort per partition and AQE handles partition
sizing; hot keys are handled by **salting** (``_salted``) — probe rows
scatter over salt buckets while the build side is *replicated* into every
bucket, so each replica still sees the full ordered build timeline (never
split the timeline mid-window: that would leak or drop matches).
``salt=<int>`` applies a fixed factor to every key; ``salt='auto'`` takes
each key's factor from an in-plan aggregate of its probe row count, so
construction runs no driver job and only actually-hot keys pay
replication. Salting is not free — the build timeline is replicated x salt
— so it only pays when one key's window work dominates a stage (at ~150k
hot rows unsalted wins; the crossover is millions of rows per key).

``direction='nearest'`` (merge_asof parity, ties to backward) takes one
fill per direction; both ride the SAME key exchange — one extra sort per
partition, no extra shuffle.

Tolerance: rows whose matched build ts is further than ``tolerance``
seconds away yield nulls (merge_asof semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import ts_micros


# per-key salt factors from salt='auto' are clamped to this
_MAX_SALT = 32


def _salted(
    probe: DataFrame,
    build: DataFrame,
    keys: list[str],
    salt: int | str,
    target_rows: int,
):
    """Scatter probe rows across a key's salt buckets by row hash and
    replicate its build rows into every bucket. The bucket count is
    ``salt``, or for ``salt='auto'`` ceil(the key's probe row count /
    ``target_rows``) clamped to ``_MAX_SALT``, computed INSIDE the plan
    (one map-side-combinable aggregate + two key joins), so plan
    construction runs no driver job and cold keys pay no replication.
    """
    probe_cols, build_cols = probe.columns, build.columns
    if salt == "auto":
        counts = probe.groupBy(*keys).agg(F.count(F.lit(1)).alias("__key_rows"))
        dim = counts.select(
            *keys,
            F.least(
                F.lit(_MAX_SALT),
                F.greatest(
                    F.lit(1).cast("long"),
                    F.ceil(F.col("__key_rows") / F.lit(target_rows)),
                ).cast("int"),
            ).alias("__n_salt"),
        )
        # LEFT join + coalesce-to-1: an inner join would silently DROP
        # probe rows with null keys (null never equi-matches, even against
        # the dim's own null-key count row). Null-key rows on both sides
        # coalesce to a single bucket (n_salt=1, salt=0), matching unsalted
        # window semantics where nulls group together; build-only keys
        # default to 1 as well.
        probe = probe.join(dim, on=keys, how="left")
        build = build.join(dim, on=keys, how="left")
        n_salt = F.coalesce(F.col("__n_salt"), F.lit(1))
    else:
        n_salt = F.lit(salt)
    p = probe.select(
        *probe_cols,
        F.pmod(F.xxhash64(*[F.col(c) for c in probe_cols]), n_salt).cast("int").alias("__salt"),
    )
    b = build.select(*build_cols, F.explode(F.sequence(F.lit(0), n_salt - 1)).alias("__salt"))
    return p, b, keys + ["__salt"]


def asof_join(
    probe: DataFrame,
    build: DataFrame,
    on: str | list[str] = "doc_id",
    ts: str = "ts",
    value_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_s: float | None = None,
    salt: int | str | None = None,
    allow_exact_matches: bool = True,
    salt_target_rows: int = 500_000,
) -> DataFrame:
    """As-of join ``build``'s latest values onto ``probe`` rows.

    Returns probe columns + one column per build value column (named as in
    build; rename upstream on clashes). The match is a whole build row: a
    NULL or NaN value cell in it is returned as it is, never skipped for an
    older row (``pandas.merge_asof`` and DuckDB ``ASOF JOIN`` agree).
    ``salt`` is None, a fixed bucket count, or ``'auto'`` (per-key buckets
    of ``salt_target_rows`` probe rows); it never changes the result.
    """
    keys = [on] if isinstance(on, str) else list(on)
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be 'backward', 'forward' or 'nearest'")
    if value_cols is None:
        value_cols = [c for c in build.columns if c not in keys + [ts]]
    clash = set(value_cols) & set(probe.columns)
    if clash:
        raise ValueError(f"value columns clash with probe columns: {sorted(clash)}")

    probe_cols = probe.columns
    if salt == "auto" or (salt and salt > 1):
        probe, build, keys = _salted(probe, build, keys, salt, salt_target_rows)

    # build rows carry their matched row as one struct, probe rows a NULL
    # struct (to be filled by the window); probe payload rides along
    # nulled on build rows.
    b = build.select(
        *keys,
        F.col(ts).alias("__ts"),
        F.lit(0).alias("__tag"),
        F.struct(F.col(ts).alias("__mts"), *[F.col(c) for c in value_cols]).alias("__row"),
        *[F.lit(None).cast(probe.schema[c].dataType).alias(f"__p_{c}") for c in probe_cols],
    )
    p = probe.select(
        *keys,
        F.col(ts).alias("__ts"),
        F.lit(1).alias("__tag"),
        F.lit(None).cast(b.schema["__row"].dataType).alias("__row"),
        *[F.col(c).alias(f"__p_{c}") for c in probe_cols],
    )
    both = b.unionByName(p)

    tag_order = F.col("__tag").asc() if allow_exact_matches else F.col("__tag").desc()

    def fill(ts_order):
        w = (
            Window.partitionBy(*keys)
            .orderBy(ts_order, tag_order)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return F.last("__row", ignorenulls=True).over(w)

    if direction == "nearest":
        # pandas merge_asof parity: evaluate BOTH directions and keep the
        # closer match, ties to backward (pandas picks backward when
        # left-bd <= fd-left). Both window specs share the partition keys,
        # so the plan keeps ONE exchange — nearest costs one extra sort
        # per partition, never an extra shuffle (plan-frozen in
        # test_temporal.py::test_asof_nearest_single_exchange).
        filled = both.select(
            "*", fill(F.col("__ts").asc()).alias("__mb"), fill(F.col("__ts").desc()).alias("__mf")
        ).filter(F.col("__tag") == 1)
        # integer-micros distances: exact tie behavior on any engine
        bts, fts = F.col("__mb.__mts"), F.col("__mf.__mts")
        d_back = ts_micros(F.col("__ts")) - ts_micros(bts)
        d_fwd = ts_micros(fts) - ts_micros(F.col("__ts"))
        use_back = bts.isNotNull() & (fts.isNull() | (d_back <= d_fwd))
        match = F.when(use_back, F.col("__mb")).otherwise(F.col("__mf"))
    else:
        order = F.col("__ts").asc() if direction == "backward" else F.col("__ts").desc()
        filled = both.select("*", fill(order).alias("__m")).filter(F.col("__tag") == 1)
        match = F.col("__m")

    if tolerance_s is not None:
        # exact integer-micros tolerance: a delta of exactly tolerance_s is
        # in-tolerance on any engine (double seconds could flip it)
        mts = match.getField("__mts")
        delta_us = F.abs(ts_micros(F.col("__ts")) - ts_micros(mts))
        tol_us = int(round(float(tolerance_s) * 1_000_000))
        match = F.when(mts.isNotNull() & (delta_us <= F.lit(tol_us)), match)

    return filled.select(
        *[F.col(f"__p_{c}").alias(c) for c in probe_cols],
        *[match.getField(c).alias(c) for c in value_cols],
    )

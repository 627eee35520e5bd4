"""Similarity search over embedding columns (training-data extension).

Brute-force cosine top-k as the exact baseline (the approximate top-k is
``ivf.ivf_topk``), and random-hyperplane LSH near-duplicate pairs.
Embeddings are plain ``array<float>`` columns; all arithmetic runs
JVM-side via higher-order functions (zip_with/aggregate) in double
precision — no Python in the hot path.

Scale shape: brute force is queries x corpus — fine when the query side is
small and broadcast (the common "probe a candidate set" case).
``near_dup_pairs`` buckets vectors by hyperplane sign bits so only bucket
collisions are scored; its planes come from the affine family of
:mod:`.hashing`, so signatures are reproducible across runs and engines.
A vector without a positive norm (empty, all zeros, or holding a NULL)
has no direction: no scorer here pairs or ranks it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .hashing import MOD, affine_coeffs, affine_hash, affine_hash_sql


def dot(a, b):
    """Exact-order double dot product of two array columns (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a):
    return F.sqrt(dot(a, a))


def cosine(a, b):
    return dot(a, b) / (norm(a) * norm(b))


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    query_vec: str = "q_embedding",
    corpus_vec: str = "embedding",
    tie_round: int | None = None,
) -> DataFrame:
    """Exact brute-force cosine top-k: (query_id, vec_id, cos) per query.

    Query side broadcast (no shuffle of the corpus); per-query top-k via a
    window on the joined score — ties broken by corpus id for determinism.
    ``tie_round``: rank by ``round(cos, tie_round)`` instead of raw cos so
    the k-cut agrees with any downstream consumer that compares rounded
    scores (e.g. a cross-engine oracle) — raw-cos ordering can cut a row
    the rounded ordering keeps when near-ties straddle the boundary.
    """
    queries = queries.filter(norm(F.col(query_vec)) > 0)
    corpus = corpus.filter(norm(F.col(corpus_vec)) > 0)
    scored = F.broadcast(queries).crossJoin(corpus).select(
        query_id,
        corpus_id,
        cosine(F.col(query_vec), F.col(corpus_vec)).alias("cos"),
    )
    rank_by = F.round("cos", tie_round) if tie_round is not None else F.col("cos")
    w = Window.partitionBy(query_id).orderBy(F.desc(rank_by), F.col(corpus_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .drop("rank")
    )


def dim_indices(vec):
    """0-based dim-index array of ``vec`` — empty-safe: sequence(0, -1) is
    DESCENDING ([0, -1]), not empty, so a bare sequence over an empty
    embedding would zip null pads into the arithmetic."""
    return F.when(
        F.size(vec) > 0, F.sequence(F.lit(0), F.size(vec) - 1)
    ).otherwise(F.array().cast("array<int>"))


def ndp_plane_coeffs(n_tables: int, band_bits: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for each (table, bit) hyperplane —
    the affine family the MinHash signatures use (:mod:`.hashing`), so any
    engine (including the DuckDB oracle) reproduces identical plane
    components and therefore identical candidate sets."""
    return affine_coeffs(n_tables * band_bits, seed)


def ndp_component(a, b, i):
    """Deterministic pseudo-uniform value in [-1, 1) for dim index ``i``
    (0-based column) from exact integer arithmetic — the shared component
    formula for hyperplanes and reproducible perturbations:
    ``(affine_hash(i mod P) % 2000001 - 1000000) / 1e6``, replayed by
    :func:`ndp_component_sql`. The coefficients ``a``, ``b`` are ints or
    long columns (one expression serving a whole table of planes).

    The index is pre-reduced mod P so callers may pass LARGE derived
    indices (e.g. dim + vec_id * stride for per-vector noise streams)
    without (i+1)*MIX overflowing int64: (i%P+1) < 2^31 keeps the product
    < 2^62, and the reduction is exact ((i%P+1)*MIX == (i+1)*MIX mod P) —
    values are unchanged for i < P, i.e. everything computed before the
    guard existed."""
    h = affine_hash(F.pmod(i, F.lit(MOD)), a, b)
    return ((h % F.lit(2_000_001)).cast("double") - 1_000_000.0) / 1_000_000.0


def ndp_component_sql(a: int, b: int, idx: str) -> str:
    """DuckDB replay of :func:`ndp_component` for the index expression
    ``idx``."""
    h = affine_hash_sql(f"({idx}) % {MOD}", a, b)
    return f"(({h}) % 2000001 - 1000000) / 1000000.0"


def _band_signatures(ex: DataFrame, n_tables: int, band_bits: int, seed: int) -> DataFrame:
    """``(id, band, sig)``: each vector's ``band_bits``-bit sign signature
    in each of ``n_tables`` bands, from its exploded elements
    ``(id, __i, __x)``. Bit ``bit`` of band ``band`` is set when plane
    ``band * band_bits + bit``'s projection ``sum(x * ndp_component(a, b,
    i))`` is positive after round(., 6), so a borderline-zero projection
    cannot flip across engines' float summation.

    The coefficients are data: one literal array of (band, bit, a, b)
    structs fans every element out over the planes, so the plan holds one
    component expression, not one per plane. Sums run in codegen hash
    aggregation, not interpreted higher-order folds; one vector's elements
    explode inside one task, so each (id, band, bit) partial sum runs in
    index order and equals the sequential fold bit for bit.
    """
    planes = ", ".join(
        f"named_struct('band', {p // band_bits}, 'bit', {p % band_bits}, "
        f"'a', {a}L, 'b', {b}L)"
        for p, (a, b) in enumerate(ndp_plane_coeffs(n_tables, band_bits, seed))
    )
    comp = ndp_component(F.col("a"), F.col("b"), F.col("__i").cast("long"))
    projs = (
        ex.select("id", "__i", "__x", F.inline(F.expr(f"array({planes})")))
        .groupBy("id", "band", "bit")
        .agg(F.sum(F.col("__x").cast("double") * comp).alias("__p"))
    )
    bit = F.expr("shiftleft(1L, bit)")
    return projs.groupBy("id", "band").agg(
        F.sum(F.when(F.round("__p", 6) > 0, bit).otherwise(0)).alias("sig")
    )


def near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    band_bits: int = 8,
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pair mining: (id_a, id_b, cos) with
    id_a < id_b and cos >= threshold.

    Default (the 100 TB path): multi-table sign-bit banding. Each of
    ``n_tables`` tables buckets vectors by a ``band_bits``-bit hyperplane
    signature; candidate pairs are bucket collisions in >= 1 table; exact
    cosine runs once per distinct candidate. Cost is the sum of squared
    bucket sizes per table — set by bucket granularity, never corpus^2.
    Per-pair recall at angle theta: 1 - (1 - (1-theta/pi)^band_bits)^n_tables
    — e.g. ~99% at cos 0.95 with the defaults; raise band_bits for finer
    buckets at bigger corpora, raise n_tables to buy recall back.

    Signatures use exact integer plane derivation (``ndp_plane_coeffs``),
    so the candidate set is engine-reproducible — the DuckDB oracle runs
    the same banding, making even the approximate variant value-checkable.

    ``exact=True`` is the brute-force all-pairs baseline (CartesianProduct;
    small inputs / recall-measurement only).
    """
    a_ = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__ea"))
    b_ = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__eb"))
    if exact:
        cand = a_.crossJoin(b_).filter(
            (F.col("id_a") < F.col("id_b"))
            & (norm(F.col("__ea")) > 0)
            & (norm(F.col("__eb")) > 0)
        )
        scored = cand.select(
            "id_a", "id_b", cosine(F.col("__ea"), F.col("__eb")).alias("cos")
        )
        return scored.filter(F.round("cos", 6) >= threshold)

    ex = emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col)).alias("__i", "__x"),
    )
    banded = _band_signatures(ex, n_tables, band_bits, seed)
    ca = banded.select(F.col("id").alias("id_a"), "band", "sig")
    cb = banded.select(F.col("id").alias("id_b"), "band", "sig")
    cand = (
        ca.join(cb, on=["band", "sig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # norms once per VECTOR (codegen agg over the exploded table), not per
    # pair — cosine per candidate is then a single interpreted dot fold
    # instead of three (dot + 2 norms). Vectors without a positive norm
    # leave here, so no candidate divides by zero.
    norms = ex.groupBy("id").agg(
        F.sqrt(F.sum(F.col("__x").cast("double") * F.col("__x").cast("double"))).alias("__n")
    ).filter(F.col("__n") > 0)
    na = norms.select(F.col("id").alias("id_a"), F.col("__n").alias("__na"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("__n").alias("__nb"))
    # per-pair score: one interpreted dot fold per candidate. Candidates
    # here are banding-bounded (sum of squared bucket sizes, tuned via
    # band_bits) — orders of magnitude fewer than semantic_dedup's
    # within-cluster pairs — and at that volume the fold beats the
    # explode+hash-agg codegen shape (an extra exchange + codegen stage
    # whose compile time alone exceeds the fold on 10^3-10^4 pairs;
    # measured both ways at sf0.1). semantic_dedup uses the codegen
    # shape for the opposite reason; both are oracle-bit-exact.
    scored = (
        cand.join(a_, on="id_a")
        .join(b_, on="id_b")
        .join(na, on="id_a")
        .join(nb, on="id_b")
        .select(
            "id_a", "id_b",
            (dot(F.col("__ea"), F.col("__eb")) / (F.col("__na") * F.col("__nb"))).alias("cos"),
        )
    )
    return scored.filter(F.round("cos", 6) >= threshold)


def semantic_dedup(
    df: DataFrame,
    cluster_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: within each cluster, find
    embedding pairs whose cosine >= ``threshold`` and mark every document
    that loses to a duplicate as droppable (Abbas et al. 2023, "SemDeDup":
    cluster first so the pairwise pass is bounded by cluster size, never
    corpus size — the global O(n^2) never materializes).

    ``cluster_col`` is any partition of the corpus: an IVF assignment
    (the ``__bucket`` of
    :func:`~htrc_feature_reader_spark.operators.ivf.ivf_index`), an LSH
    bucket key, or an existing category column. Finer clustering = cheaper
    and stricter (cross-cluster dups are never compared — that is the
    approximation being bought).

    Survivorship, deterministic under any partitioning and in one pass: a
    row is a duplicate iff some SMALLER-id row in its cluster is within
    threshold; ``dup_of`` is the smallest such id. Conservative (drops
    strictly more than greedy sequential scanning) but one self-join + one
    aggregate — the shape to run at 100 TB. Exact duplicate groups (keep
    the min id per connected component of the threshold graph) are
    :func:`~htrc_feature_reader_spark.operators.components.connected_components`
    over the same edges.

    Returns every input row as ``(id_col, cluster_col, is_dup, dup_of)``
    with ``dup_of`` null on survivors. A vector without a positive norm
    (empty, all zeros, or holding a NULL) has no direction: it is never a
    duplicate and never a ``dup_of``. Cosine comparisons use
    ``round(cos, 6)`` so a cross-engine replay (or a rerun under
    different reduction order) cannot flip a boundary pair.

    Scale shape: the self-join keys on ``cluster_col`` — one exchange of
    (id, cluster, vec), reused by both sides; cost is sum over clusters of
    size^2, so SIZE YOUR CLUSTERS (IVF k ~ corpus_size / desired_cluster)
    — a 10^5-row cluster means 10^10 candidate pairs and no engine saves
    you. No forced broadcasts; AQE handles skewed cluster sizes.
    """
    taken = {"is_dup", "dup_of", "__idb"} & set(df.columns)
    if taken:
        raise ValueError(
            f"input columns {sorted(taken)} collide with semantic_dedup's "
            "output/internals; rename them first (e.g. when re-running over "
            "a previously annotated frame)"
        )
    from ..functions import ensure_min_parallelism

    # tiny-input round-robin barrier (no-op at scale): one shared exchange
    # under all three references of df (both self-join sides + the output
    # join), so the input evaluates once — same rationale as near_dup_pairs
    df = ensure_min_parallelism(df)
    # compute each vector's norm ONCE per row before the self-join:
    # per-pair work is then a single dot fold + one divide. Calling
    # cosine(a, b) on the joined pair folds THREE aggregates per pair
    # (dot + both norms) — measured 119 s vs seconds at sf0.1 for the
    # same result. The per-pair expression dot/(na*nb) keeps the exact
    # arithmetic shape the SQL oracle evaluates (unit-normalizing the
    # vectors instead would perturb the last float bit and could flip a
    # round-6 boundary pair across engines). Rows without a positive norm
    # leave before the join: their cosine is undefined (a 0/0 that aborts
    # under ANSI mode).
    a = df.select(
        F.col(cluster_col).alias("__c"),
        F.col(id_col).alias("__ida"),
        F.col(vec_col).alias("__va"),
        norm(F.col(vec_col)).alias("__na"),
    ).filter(F.col("__na") > 0)
    b = df.select(
        F.col(cluster_col).alias("__c"),
        F.col(id_col).alias("__idb"),
        F.col(vec_col).alias("__vb"),
        norm(F.col(vec_col)).alias("__nb"),
    ).filter(F.col("__nb") > 0)
    # per-pair dot via posexplode + codegen hash-agg instead of the
    # interpreted fold — bit-identical float result (one pair's elements
    # explode consecutively in one task, so the map-side partial sum runs
    # in index order; __nul reproduces the fold's null-poisoning on
    # ragged pairs). Same rewrite as near_dup_pairs' scoring; the joined
    # pair rows never carry the vectors past this projection.
    zp = (
        F.col("__z.__va").cast("double") * F.col("__z.__vb").cast("double")
    ).alias("__p")
    edges = (
        a.join(b, on="__c")
        .filter(F.col("__ida") < F.col("__idb"))
        .select(
            "__ida", "__idb", "__na", "__nb",
            F.posexplode(F.arrays_zip("__va", "__vb")).alias("__i", "__z"),
        )
        .select("__ida", "__idb", "__na", "__nb", zp)
        .groupBy("__ida", "__idb", "__na", "__nb")
        .agg(
            F.sum("__p").alias("__dot"),
            F.max(F.col("__p").isNull()).alias("__nul"),
        )
        .select(
            "__ida",
            "__idb",
            F.round(
                F.when(~F.col("__nul"), F.col("__dot"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("__cos"),
        )
        .filter(F.col("__cos") >= threshold)
    )
    losers = edges.groupBy("__idb").agg(F.min("__ida").alias("dup_of"))
    out = df.join(losers, on=df[id_col] == losers["__idb"], how="left").drop("__idb")
    return out.select(
        id_col,
        cluster_col,
        F.col("dup_of").isNotNull().alias("is_dup"),
        "dup_of",
    )

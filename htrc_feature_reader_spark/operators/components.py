"""Connected components over a near-dup pair graph.

Cluster-correct dedup survivorship needs components, not pairs: dropping
the larger id of every candidate pair over-deletes on chains (pairs
(A,C),(B,C) would drop C twice and keep both A and B, while the cluster
{A,B,C} should keep exactly one representative). This implements the
alternating **large-star / small-star** algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) as DataFrame
joins — the standard shuffle-bounded formulation that converges in
O(log^2 n) rounds on any graph (a handful in practice), each round two
map-side-combinable aggregates + two equi-joins. No GraphFrames
dependency, no vertex collection to the driver.

This is an ITERATIVE operator: it runs a small convergence-check action
per round (count + order-insensitive edge checksum) and truncates lineage
with ``localCheckpoint`` — the same documented driver-coordination
contract as ``ivf.ivf_index``'s Lloyd iterations. Rounds shuffle only the
current edge set (bounded by the pair-miner output, never the corpus).
Every job runs under a ``connected_components:`` job description.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import _job

# star rounds before giving up; the iteration converges in O(log^2 n)
# rounds, a handful in practice
_MAX_ROUNDS = 30


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to min(N(u) ∪ {u})."""
    nb = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = nb.groupBy("u").agg(F.min("v").alias("__mn"))
    m = F.least(F.col("u"), F.col("__mn"))
    return (
        nb.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), m.alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u (and u) to the min."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("__mn"))
    j = d.join(mins, "u")
    out1 = j.filter(F.col("v") != F.col("__mn")).select(
        F.col("v").alias("u"), F.col("__mn").alias("v")
    )
    out2 = mins.select("u", F.col("__mn").alias("v"))
    return out1.unionByName(out2).distinct()


def _edge_sig(e: DataFrame):
    """(count, order-insensitive checksum) — one tiny action per round."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal sum: int64 hash sums overflow under ANSI mode
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).first()
    return row["n"], row["h"]


def _edges_equal(e2: DataFrame, e: DataFrame) -> bool:
    """Exact set equality for two DISTINCT edge sets of equal cardinality:
    e2 \\ e empty <=> e2 == e. Sound where the checksum alone is not — a
    (count, hash-sum) collision between different sets would otherwise
    terminate the star iteration early and silently emit split
    components. Runs only when the cheap signature already matches, so
    the anti-join fires once per call in the non-adversarial case."""
    return e2.join(e, on=["u", "v"], how="left_anti").limit(1).count() == 0


def connected_components(pairs: DataFrame) -> DataFrame:
    """(id, component) for every id appearing in the ``(id_a, id_b)``
    edges of ``pairs`` (the pair miners' output shape); ``component``
    is the minimum id of its connected component (deterministic under any
    partitioning). Ids absent from every pair are not emitted — callers
    treat them as their own singleton components.

    Every round materializes its edge set with an eager ``localCheckpoint``
    before the next transform: each star step references the edge set
    several times (union of both directions + the min-join), so without a
    materialization barrier the upstream plan would be re-evaluated a
    multiplying number of times per round — the whole pair-mining pipeline
    re-run 4^k times by round k. With the barrier, mining runs ONCE and
    each round touches only the current (pair-bounded) edge set.
    """
    with _job("connected_components: pin edges"):
        e = (
            pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig = _edge_sig(e)
    for _ in range(_MAX_ROUNDS):
        with _job("connected_components: star round"):
            e2 = _small_star(_large_star(e)).localCheckpoint(eager=True)
        with _job("connected_components: convergence check"):
            sig2 = _edge_sig(e2)
            # signature match is a cheap candidate test; confirm with the
            # exact anti-join before declaring the star forest reached
            done = sig2 == sig and _edges_equal(e2, e)
        e, sig = e2, sig2
        if done:
            break  # star forest reached: every edge is (member, root)
    else:
        raise RuntimeError(
            f"connected_components did not converge in {_MAX_ROUNDS} rounds"
        )
    members = e.select(F.col("u").alias("id"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("id"), F.col("v").alias("component"))
    return members.unionByName(roots).distinct()

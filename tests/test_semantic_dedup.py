"""semantic_dedup: hand-checked drop sets, the dominated contract on a
chain, a brute-force reference over randomized clustered vectors (also
with the hash aggregate forced onto its sort-based fallback) for both
survivorship contracts — dominated (semantic_dedup itself) and components
(connected_components over the same-cluster cosine edges),
IVF-assignment composition, degenerate vectors, and the plan shape
(cluster equi-join, no cartesian)."""

import math
import random
import re

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.components import connected_components
from htrc_feature_reader_spark.operators.similarity import (
    near_dup_pairs,
    semantic_dedup,
)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )


def _result(df):
    return {r.vec_id: (r.is_dup, r.dup_of) for r in df.collect()}


def _run(spark, rows, threshold, contract):
    """(is_dup, dup_of) per id. 'dominated' is semantic_dedup; 'components'
    (keep the min id of each connected component of the threshold graph)
    is the composition semantic_dedup's docstring names: connected
    components over the same-cluster cosine pairs."""
    df = _df(spark, rows)
    if contract == "dominated":
        return _result(semantic_dedup(df, "label", threshold=threshold))
    lab = df.select("vec_id", "label")
    pairs = (
        near_dup_pairs(df, threshold=threshold, exact=True)
        .join(lab.toDF("id_a", "la"), "id_a")
        .join(lab.toDF("id_b", "lb"), "id_b")
        .filter("la = lb")
    )
    root = {r.id: r.component for r in connected_components(pairs).collect()}
    out = {}
    for i, _, _ in rows:
        r = root.get(i, i)
        out[i] = (r != i, r if r != i else None)
    return out


def test_hand_checked_dominated(spark):
    # cluster 0: v1 ~ v0 (identical), v2 orthogonal; cluster 1: v3 alone
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [2.0, 0.0]),      # same direction as 0 -> cos 1
        (2, 0, [0.0, 1.0]),      # orthogonal -> survives
        (3, 1, [1.0, 0.0]),      # same direction as 0 but other cluster
    ]
    got = _result(semantic_dedup(_df(spark, rows), "label", threshold=0.9))
    assert got == {0: (False, None), 1: (True, 0), 2: (False, None), 3: (False, None)}


def test_dominated_chain(spark):
    # chain a~b, b~c, a!~c (angles 0, 35, 70 degrees; threshold cos(40deg))
    def v(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r)]

    rows = [(0, 0, v(0)), (1, 0, v(35)), (2, 0, v(70))]
    thr = math.cos(math.radians(40))
    dom = _result(semantic_dedup(_df(spark, rows), "label", threshold=thr))
    # dominated: 1 loses to 0; 2 loses to 1 (cos 35deg >= thr) even though
    # 1 is itself dropped — the conservative contract
    assert dom == {0: (False, None), 1: (True, 0), 2: (True, 1)}


def _brute(rows, threshold, contract):
    import itertools

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return round(d / (na * nb), 6)

    edges = []
    for (ia, ca, va), (ib, cb, vb) in itertools.combinations(rows, 2):
        if ca == cb and cos(va, vb) >= threshold:
            edges.append((min(ia, ib), max(ia, ib)))
    if contract == "dominated":
        out = {}
        for i, _, _ in rows:
            smaller = [a for a, b in edges if b == i]
            out[i] = (bool(smaller), min(smaller) if smaller else None)
        return out
    # union-find
    parent = {i: i for i, _, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = {}
    for i, _, _ in rows:
        r = find(i)
        out[i] = (r != i, r if r != i else None)
    return out


def _clustered_rows():
    rng = random.Random(11)
    rows = []
    # 4 clusters x ~15 vectors near 3 seed directions -> plenty of dups
    for i in range(60):
        c = i % 4
        seed_dir = rng.choice([(1.0, 0.0, 0.0), (0.0, 1.0, 0.0), (0.6, 0.6, 0.2)])
        vec = [s + rng.gauss(0, 0.12) for s in seed_dir]
        rows.append((i, c, vec))
    return rows


@pytest.mark.parametrize("contract", ["dominated", "components"])
def test_matches_brute_force(spark, contract):
    rows, thr = _clustered_rows(), 0.97
    assert _run(spark, rows, thr, contract) == _brute(rows, thr, contract)


def _fallback_tasks(df):
    """Tasks whose hash aggregate fell back to sort-based aggregation,
    summed over every HashAggregate of ``df``'s executed final plan."""
    total = 0

    def walk(n):
        nonlocal total
        name = n.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(n.executedPlan())
        if "QueryStage" in name:
            return walk(n.plan())
        if name == "HashAggregate":
            total += n.metrics().apply("numTasksFallBacked").value()
        ch = n.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return total


def test_hash_agg_fallback_keeps_bits(spark):
    """The per-pair dot is a codegen hash-aggregate sum. Forcing every
    aggregate onto its sort-based fallback from the first row (the path
    a hash map that runs out of memory takes) must not move a float bit
    of any cosine: is_dup/dup_of equal the unforced run and the
    reference."""
    rows, thr = _clustered_rows(), 0.97
    plain = semantic_dedup(_df(spark, rows), "label", threshold=thr)
    want = _result(plain)
    assert _fallback_tasks(plain) == 0
    conf = "spark.sql.TungstenAggregate.testFallbackStartsAt"
    spark.conf.set(conf, "1, 1")
    try:
        forced = semantic_dedup(_df(spark, rows), "label", threshold=thr)
        got = _result(forced)
    finally:
        spark.conf.unset(conf)
    assert _fallback_tasks(forced) > 0
    assert got == want == _brute(rows, thr, "dominated")


def test_composes_with_ivf_assignment(spark):
    from htrc_feature_reader_spark.operators.ivf import ivf_index

    rng = random.Random(3)
    rows = [
        (i, 0, [rng.gauss(i % 2, 0.05), rng.gauss(1 - i % 2, 0.05)])
        for i in range(40)
    ]
    df = _df(spark, rows).drop("label")
    assigned, _ = ivf_index(df, n_centroids=2, n_iters=3)
    out = semantic_dedup(assigned, "__bucket", threshold=0.999)
    rows_out = out.collect()
    assert len(rows_out) == 40
    assert any(r.is_dup for r in rows_out)  # tight clusters must yield dups
    # survivors exist in every bucket
    for b in {r["__bucket"] for r in rows_out}:
        assert any((not r.is_dup) and r["__bucket"] == b for r in rows_out)


def test_plan_cluster_equijoin_no_cartesian(spark):
    rows = [(i, i % 3, [float(i), 1.0]) for i in range(9)]
    plan = (
        semantic_dedup(_df(spark, rows), "label")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the only interpreted folds are the per-row norms (a vector folded
    # with itself); the pair dot is the codegen posexplode sum
    folds = re.findall(r"aggregate\(zip_with\(([^,]+), ([^,]+),", plan)
    assert folds
    assert all(x == y for x, y in folds), folds
    assert not any("__va" in x + y or "__vb" in x + y for x, y in folds)


@pytest.mark.parametrize("contract", ["dominated", "components"])
def test_degenerate_vectors_are_never_duplicates(spark, contract):
    # zero-norm, empty and NULL-holding vectors have no direction: they
    # neither lose to nor absorb any row (a 0/0 cosine must not abort the
    # job under ANSI)
    rows = [
        (0, 0, [1.0, 0.0]),
        (1, 0, [1.0, 0.0]),
        (2, 0, [0.0, 0.0]),
        (3, 0, [0.0, 0.0]),
        (4, 0, []),
        (5, 0, []),
        (6, 0, [1.0, None]),
    ]
    got = _run(spark, rows, 0.9, contract)
    assert got == {0: (False, None), 1: (True, 0), 2: (False, None),
                   3: (False, None), 4: (False, None), 5: (False, None),
                   6: (False, None)}


def test_output_column_collision_raises(spark):
    df = _df(spark, [(0, 0, [1.0])]).withColumn("dup_of", F.lit(1))
    with pytest.raises(ValueError, match="collide"):
        semantic_dedup(df, "label")

"""Connected components (large-star/small-star) and signature-verified
near-dup survivorship."""

import random

from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.components import connected_components
from htrc_feature_reader_spark.operators.dedup import signature_agreement


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        (r["id"], r["component"])
        for r in connected_components(df).collect()
    }


def test_chain_collapses_to_one_component(spark):
    """The verdict's chain shape: A-B, B-C puts all three in ONE cluster
    keyed by the min id — pair-wise keep-min would also drop B and C, but
    components make the semantics explicit and deterministic."""
    assert _cc(spark, [(1, 2), (2, 3)]) == {(1, 1), (2, 1), (3, 1)}


def test_open_triangle_over_shared_node(spark):
    """Pairs (A,C), (B,C) — pair-wise drop-larger would keep both A and B;
    components put all three in one cluster (keep min only)."""
    assert _cc(spark, [(1, 3), (2, 3)]) == {(1, 1), (2, 1), (3, 1)}


def test_long_path_and_reverse_ordering(spark):
    """A 40-node path given in max-adverse id order still converges to a
    single min-rooted component (exercises multiple star rounds)."""
    n = 40
    edges = [(i + 1, i) for i in range(n - 1, 0, -1)]  # (larger, smaller)
    got = _cc(spark, [(a, b) for a, b in edges])
    assert got == {(i, 1) for i in range(1, n + 1)}


def test_multiple_components_and_self_loops(spark):
    got = _cc(spark, [(1, 2), (5, 6), (6, 7), (9, 9)])
    # self-loop contributes nothing; 9 is not emitted (singleton)
    assert got == {(1, 1), (2, 1), (5, 5), (6, 5), (7, 5)}


def test_empty_pairs(spark):
    df = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(df).count() == 0


def test_every_round_job_is_labelled(spark, job_labels):
    """The edge pin, every star round and every convergence check run
    under a ``connected_components:`` description."""
    df = spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "id_a long, id_b long")
    descs = job_labels(lambda: connected_components(df))
    assert descs
    assert all(d and d.startswith("connected_components: ") for d in descs), descs


def test_random_graphs_match_union_find(spark):
    """Fuzz vs a driver-side union-find oracle."""
    rng = random.Random(7)
    for trial in range(3):
        n = 30
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(rng.randrange(5, 40))
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        touched = set()
        for a, b in edges:
            if a != b:
                touched |= {a, b}
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        expect = {(x, find(x)) for x in touched}
        assert _cc(spark, edges) == expect, f"trial {trial}"


def _agreement(sigs, pairs):
    """{(id_a, id_b): signature_agreement} over the given id pairs."""
    a = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sb"))
    est = pairs.join(a, "id_a").join(b, "id_b").select(
        "id_a", "id_b", signature_agreement("sa", "sb").alias("est")
    )
    return {(r["id_a"], r["id_b"]): r["est"] for r in est.collect()}


def test_signature_agreement_exact_fractions(spark):
    sigs = spark.createDataFrame(
        [(1, [10, 20, 30, 40]), (2, [10, 20, 30, 41]),
         (3, [10, 99, 98, 97]), (4, [1, 2, 3, 4])],
        "id long, sig array<long>",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    assert _agreement(sigs, pairs) == {(1, 2): 0.75, (1, 3): 0.25, (1, 4): 0.0}


# A pair whose only overlap is its first 7 words (5 of 18 word 3-shingles
# each): found once by searching shared-word counts and seeds of this
# "shared{i} ... w{seed}n{i}" shape. The hash family is deterministic, so
# the pair stays an LSH candidate with a low signature agreement.
LOW_AGREEMENT_PAIR = (
    "shared0 shared1 shared2 shared3 shared4 shared5 shared6 w82n7 w82n8 "
    "w82n9 w82n10 w82n11 w82n12 w82n13 w82n14 w82n15 w82n16 w82n17 w82n18 w82n19",
    "shared0 shared1 shared2 shared3 shared4 shared5 shared6 w83n7 w83n8 "
    "w83n9 w83n10 w83n11 w83n12 w83n13 w83n14 w83n15 w83n16 w83n17 w83n18 w83n19",
)


def test_clean_corpus_verification_spares_non_dups(spark):
    """A pair that collides in an LSH band but has LOW signature agreement
    must survive with the default threshold and be dropped only when
    verification is disabled (near_dup_threshold=None) — the data-loss
    mode the default now prevents."""
    from htrc_feature_reader_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures, word_shingle_ids,
    )
    from htrc_feature_reader_spark.operators.pipeline import (
        CleanConfig, clean_corpus,
    )

    docs = spark.createDataFrame(
        list(enumerate(LOW_AGREEMENT_PAIR, start=1)), "doc_id long, text string"
    )
    # the fixture checks itself: an LSH candidate that fails the 0.5
    # signature-agreement bar
    sigs = minhash_signatures(word_shingle_ids(docs, "text", "doc_id", n=3))
    pairs = lsh_candidate_pairs(sigs).collect()
    assert [(r["id_a"], r["id_b"]) for r in pairs] == [(1, 2)]
    est = _agreement(sigs, spark.createDataFrame(pairs, "id_a long, id_b long"))
    assert est[(1, 2)] < 0.5

    # no stop-shingle cap: in a two-doc corpus every shared shingle is in
    # more than half the docs, so the 0.5 default would strip the whole
    # overlap and no pair could collide
    cfg = CleanConfig(min_distinct_ratio=0.05, stop_shingle_frac=None)
    kept_verified = {r["doc_id"] for r in clean_corpus(docs, cfg).collect()}
    assert kept_verified == {1, 2}  # candidate, but NOT a verified dup

    cfg_raw = CleanConfig(min_distinct_ratio=0.05, stop_shingle_frac=None,
                          near_dup_threshold=None)
    kept_raw = {r["doc_id"] for r in clean_corpus(docs, cfg_raw).collect()}
    assert kept_raw == {1}  # old behavior: bare candidacy deletes doc 2

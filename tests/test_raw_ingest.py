"""Round-4 additions: JSONL quarantine ingest, cross-doc boilerplate,
heavy-hitter vocab."""

import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.dedup import boilerplate_fraction
from htrc_feature_reader_spark.operators.stats import top_terms
from htrc_feature_reader_spark.sources.jsonl_raw import (
    DOCUMENTS_JSONL_SCHEMA,
    SEQUENCES_JSONL_SCHEMA,
    read_jsonl,
    write_jsonl,
)


# ---------------------------------------------------------------- jsonl


def _write_lines(path, lines):
    with open(path, "w") as f:
        for ln in lines:
            f.write(ln + "\n")


def test_read_jsonl_good_and_quarantine(spark, tmp_path):
    d = str(tmp_path / "shards")
    os.makedirs(d)
    good_rows = [
        {"doc_id": "a", "tokens": [1, 2, 3], "n_tok": 3, "source": "web"},
        {"doc_id": "b", "tokens": [], "n_tok": 0, "source": "books"},
    ]
    _write_lines(
        os.path.join(d, "part0.json"),
        [json.dumps(r) for r in good_rows]
        + ["{broken json", '{"doc_id": null, "tokens": [7], "n_tok": 1, "source": "x"}'],
    )
    good, bad = read_jsonl(spark, d, required=("doc_id",))
    g = {r.doc_id: r for r in good.collect()}
    assert set(g) == {"a", "b"}
    assert list(g["a"].tokens) == [1, 2, 3]
    assert good.columns == [f.name for f in SEQUENCES_JSONL_SCHEMA.fields]
    b = bad.collect()
    assert len(b) == 2
    raws = {r._corrupt_record for r in b}
    assert "{broken json" in raws
    # the null-required row is re-serialized, not lost
    assert any('"tokens":[7]' in r or '"tokens": [7]' in r for r in raws)
    assert all(r.src_file for r in b)


def test_read_jsonl_no_required_lets_null_through(spark, tmp_path):
    d = str(tmp_path / "s2")
    os.makedirs(d)
    _write_lines(
        os.path.join(d, "p.json"),
        ['{"doc_id": null, "tokens": [1], "n_tok": 1, "source": "x"}'],
    )
    good, bad = read_jsonl(spark, d)
    assert good.count() == 1 and bad.count() == 0


def test_read_jsonl_param_validation(spark):
    with pytest.raises(ValueError, match="collides"):
        read_jsonl(spark, "/nonexistent", corrupt_col="doc_id")
    with pytest.raises(ValueError, match="not in schema"):
        read_jsonl(spark, "/nonexistent", required=("nope",))


def test_write_read_jsonl_roundtrip(spark, tmp_path):
    d = str(tmp_path / "rt")
    df = spark.createDataFrame(
        [("x", [1, 2], 2, "web"), ("y", [3], 1, "code")],
        schema=SEQUENCES_JSONL_SCHEMA,
    )
    write_jsonl(df, d, partitions=1)
    good, bad = read_jsonl(spark, d, required=("doc_id",))
    assert bad.count() == 0
    back = {r.doc_id: list(r.tokens) for r in good.collect()}
    assert back == {"x": [1, 2], "y": [3]}


def test_read_jsonl_does_not_mutate_schema(spark, tmp_path):
    d = str(tmp_path / "mut")
    os.makedirs(d)
    _write_lines(os.path.join(d, "p.json"), ['{"doc_id": "a"}'])
    n_before = len(SEQUENCES_JSONL_SCHEMA.fields)
    read_jsonl(spark, d)
    assert len(SEQUENCES_JSONL_SCHEMA.fields) == n_before


# ---------------------------------------------------------- boilerplate


def test_boilerplate_fraction_flags_shared_ngrams(spark):
    tmpl = "all rights reserved by the publisher"
    docs = spark.createDataFrame(
        [Row(doc_id=i, text=f"unique words {i} alpha beta {tmpl}") for i in range(4)]
        + [Row(doc_id=99, text="totally different content entirely here now")]
    )
    out = boilerplate_fraction(docs, min_df=4).collect()
    by_id = {r.doc_id: r for r in out}
    # the 6-word template contributes 4 shared 3-grams per doc; doc 99 has none
    assert by_id[99].n_boiler == 0 and by_id[99].boilerplate_frac == 0.0
    for i in range(4):
        assert by_id[i].n_boiler >= 4
        assert 0 < by_id[i].boilerplate_frac < 1
    # all original columns survive
    assert {"doc_id", "text", "n_shingles", "n_boiler", "boilerplate_frac"} <= set(
        out[0].asDict()
    )


def test_boilerplate_fraction_short_doc_zero(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="two words"), Row(doc_id=2, text="a b c d e")]
    )
    out = {r.doc_id: r for r in boilerplate_fraction(docs, min_df=2).collect()}
    assert out[1].n_shingles == 0 and out[1].boilerplate_frac == 0.0


def test_boilerplate_fraction_validates(spark):
    docs = spark.createDataFrame([Row(doc_id=1, text="a b c")])
    with pytest.raises(ValueError, match="min_df"):
        boilerplate_fraction(docs, min_df=1)


# ------------------------------------------------------------ top_terms


def test_top_terms_per_group_rank_and_df(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, source="a", text="x x x y z"),
            Row(doc_id=2, source="a", text="y y x"),
            Row(doc_id=3, source="b", text="q q q"),
            # a tab and a run of spaces split like one space; the tf=2
            # tie of "a" and "b" breaks term asc
            Row(doc_id=4, source="c", text="b a\t b  a"),
        ]
    )
    out = top_terms(docs, k=2)
    rows = {(r.source, r.rank): r for r in out.collect()}
    assert rows[("a", 1)].term == "x" and rows[("a", 1)].tf == 4
    assert rows[("a", 1)].df == 2
    assert rows[("a", 2)].term == "y" and rows[("a", 2)].tf == 3
    assert rows[("b", 1)].term == "q"
    assert ("b", 2) not in rows  # only one distinct term in b
    assert [(rows[("c", k)].term, rows[("c", k)].tf) for k in (1, 2)] == [
        ("a", 2),
        ("b", 2),
    ]


def test_top_terms_validates(spark):
    docs = spark.createDataFrame([Row(doc_id=1, source="a", text="x")])
    with pytest.raises(ValueError, match="k must"):
        top_terms(docs, k=0)


# ----------------------------------------------------- token shingles


def test_token_shingle_ids_values_and_short_docs(spark):
    from htrc_feature_reader_spark.operators.dedup import token_shingle_ids

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, tokens=[10, 20, 30, 40]),
            Row(doc_id=2, tokens=[10, 20]),  # shorter than n -> no rows
            Row(doc_id=3, tokens=[10, 20, 30, 40]),  # same as doc 1
        ]
    )
    out = token_shingle_ids(docs, n=3).collect()
    mod = (1 << 31) - 1
    expect = {
        ((10 * 257 + 20) * 257 + 30) % mod,
        ((20 * 257 + 30) * 257 + 40) % mod,
    }
    by_id = {}
    for r in out:
        by_id.setdefault(r.id, set()).add(r.shingle_id)
    assert by_id[1] == expect and by_id[3] == expect
    assert 2 not in by_id


def test_token_shingle_ids_negative_tokens_pmod(spark):
    from htrc_feature_reader_spark.operators.dedup import token_shingle_ids

    mod = (1 << 31) - 1
    docs = spark.createDataFrame([Row(doc_id=1, tokens=[-1, 5, 7])])
    out = token_shingle_ids(docs, n=3).collect()
    t0 = (-1) % mod  # pmod: mod - 1
    assert out[0].shingle_id == ((t0 * 257 + 5) * 257 + 7) % mod


def test_token_shingles_feed_minhash_lsh(spark):
    from htrc_feature_reader_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        token_shingle_ids,
    )

    # two docs sharing a long prefix (near-dups) + one disjoint doc
    base = list(range(100, 160))
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, tokens=base),
            Row(doc_id=2, tokens=base + [7, 8]),
            Row(doc_id=3, tokens=list(range(5000, 5060))),
        ]
    )
    pairs = lsh_candidate_pairs(
        minhash_signatures(token_shingle_ids(docs, n=5))
    ).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in got
    assert all(3 not in p for p in got)


def test_token_shingle_ids_validates(spark):
    from htrc_feature_reader_spark.operators.dedup import token_shingle_ids

    docs = spark.createDataFrame([Row(doc_id=1, tokens=[1, 2, 3])])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n must"):
        token_shingle_ids(docs, n=0)


# ------------------------------------------- small-input parallelism


def test_ensure_min_parallelism_spreads_small_and_is_lazy(spark):
    from htrc_feature_reader_spark.functions import ensure_min_parallelism

    df = spark.range(100).coalesce(1)
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    out = ensure_min_parallelism(df)
    after = tracker.getJobIdsForGroup(None)
    assert before == after  # decision from plan stats, no job
    assert "RoundRobinPartitioning" in out._jdf.queryExecution().toString()


def test_ensure_min_parallelism_noop_above_threshold(spark):
    from htrc_feature_reader_spark.functions import ensure_min_parallelism

    df = spark.range(100)
    out = ensure_min_parallelism(df, size_threshold=1)  # estimate >= 1 byte
    assert "RoundRobinPartitioning" not in out._jdf.queryExecution().toString()


def test_read_jsonl_nonobject_and_whitespace_lines(spark, tmp_path):
    """Valid-JSON-but-not-an-object lines quarantine; whitespace-only
    lines are skipped entirely (review finding: from_json returns a NULL
    struct for both, which must not leak as an all-null good row)."""
    d = str(tmp_path / "nullstruct")
    os.makedirs(d)
    _write_lines(
        os.path.join(d, "p.json"),
        ['{"doc_id": "a", "tokens": [1], "n_tok": 1, "source": "w"}',
         "   ", "\t", "null", "3"],
    )
    good, bad = read_jsonl(spark, d)
    assert [r.doc_id for r in good.collect()] == ["a"]
    raws = sorted(r._corrupt_record for r in bad.collect())
    assert raws == ["3", "null"]  # whitespace lines skipped, not quarantined

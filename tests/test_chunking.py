"""Chunking parity: goldens, plus fuzz cases whose labels match the
reference algorithm (htrc_features/transformations.py:47-156; test shapes
from the reference's tests/test_chunking.py:29-77)."""

import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.chunking import (
    chunk_ends,
    chunk_even,
    chunk_last,
    chunked_tokenlist,
)


# (counts, target) fuzz cases with each chunker's labels, frozen from this
# chunker after it matched the reference implementation on them; labels
# are stored as pages per chunk (chunk k+1 spans the next sizes[k] pages)
FUZZ_CASES = os.path.join(os.path.dirname(__file__), "data", "chunk_fuzz_cases.jsonl")


def test_uniform_golden():
    # reference golden: tests/test_chunking.py:31
    assert chunk_ends([100] * 10, 250).tolist() == [1, 1, 2, 2, 2, 3, 3, 3, 4, 4]


def test_labels_contiguous_from_one():
    for fn in (chunk_ends, chunk_even, chunk_last):
        labs = fn(np.array([137, 20, 400, 5, 5, 900, 80, 80, 80, 3]), 300)
        assert labs[0] == 1
        d = np.diff(labs)
        assert ((d == 0) | (d == 1)).all()


@pytest.mark.parametrize("name", ["ends", "even", "last"])
def test_fuzz_parity_vs_reference(name):
    fn = {"ends": chunk_ends, "even": chunk_even, "last": chunk_last}[name]
    with open(FUZZ_CASES) as fh:
        cases = [json.loads(line) for line in fh]
    assert len(cases) == 800
    for case in cases:
        sizes = case[name]
        expect = np.repeat(np.arange(1, len(sizes) + 1), sizes)
        got = fn(np.array(case["counts"]), case["target"])
        assert np.array_equal(expect, got), (name, case["target"], case["counts"])


def test_pathological_shapes_terminate():
    # giant middle page, giant last page, pages >> target
    # (reference tests/test_chunking.py:39-77 shapes)
    for counts in ([10, 10, 10, 10, 10000, 10, 10, 10],
                   [10, 10, 10, 10, 10, 10, 10, 10000],
                   [5000, 5000, 5000]):
        for fn in (chunk_ends, chunk_even, chunk_last):
            labs = fn(np.array(counts), 100)
            assert len(labs) == len(counts)


def test_chunked_tokenlist_spark(spark, tokenlist_df):
    out = chunked_tokenlist(
        tokenlist_df, chunk_target=200, overflow_strategy="ends",
        section="all", case=True, pos=True, page_ref=True,
    )
    rows = out.collect()
    assert rows
    # conservation: chunking never changes total counts
    total = tokenlist_df.agg(F.sum("count")).first()[0]
    assert sum(r["count"] for r in rows) == total
    # per doc: chunk labels contiguous from 1; bounds ordered
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["htid"], set()).add(r["chunk"])
        assert r["pstart"] <= r["pend"]
    for chunks in by_doc.values():
        assert min(chunks) == 1
        assert sorted(chunks) == list(range(1, max(chunks) + 1))


def test_chunked_matches_driver_side(spark, tokenlist_df):
    """The distributed chunk labels equal running the numpy algorithm on
    driver-collected per-page counts (same inputs, same function)."""
    import pandas as pd

    pc = (
        tokenlist_df.groupBy("htid", "page").agg(F.sum("count").alias("count"))
        .orderBy("htid", "page").toPandas()
    )
    expected = {}
    for doc, grp in pc.groupby("htid"):
        labs = chunk_ends(grp["count"].to_numpy(), 300)
        for page, lab in zip(grp["page"], labs):
            expected[(doc, page)] = lab

    from htrc_feature_reader_spark.operators.chunking import chunk_labels

    got = chunk_labels(
        tokenlist_df.groupBy("htid", "page").agg(F.sum("count").alias("count")),
        chunk_target=300,
    ).collect()
    assert len(got) == len(expected)
    for r in got:
        assert expected[(r["htid"], r["page"])] == r["chunk"]


def test_chunked_tokenlist_page_counts_seam(spark):
    """Caller-supplied page_counts (closed-form) must reproduce the
    default fold-derived labels exactly — same chunks, same bounds."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(137))),
         (2, "a b c"), (3, "")],
        "doc_id long, text string",
    )
    B = 10
    tl = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).select(
        "doc_id", (F.floor(F.col("pos") / B) + 1).alias("page"),
        "token", F.lit(1).cast("long").alias("count"),
    )
    staged = docs.select("doc_id", F.size(F.split("text", " ")).alias("__n"))
    closed = staged.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1).cast("long"),
                             F.ceil(F.col("__n") / F.lit(B)).cast("long"))).alias("page"),
        "__n",
    ).select(
        "doc_id", "page",
        F.least(F.lit(B).cast("long"),
                (F.col("__n") - (F.col("page") - 1) * B).cast("long")).alias("count"),
    )
    a = chunked_tokenlist(tl, chunk_target=25, overflow_strategy="last",
                          page_ref=True, doc_col="doc_id", case=True, pos=False)
    b = chunked_tokenlist(tl, chunk_target=25, overflow_strategy="last",
                          page_ref=True, doc_col="doc_id", case=True, pos=False,
                          page_counts=closed)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

"""bm25 and PII detection/redaction — retrieval-grade scoring and the
contact-data hygiene stage."""

import math

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators.text import (
    PII_PATTERNS,
    bm25,
    pii_features,
    redact_pii,
)


def test_bm25_hand_computed(spark):
    # 2 docs: d1 = {a:2, b:1} (dl 3), d2 = {a:1} (dl 1); N=2, avgdl=2; the
    # NULL-doc row belongs to no document and must not move df, N or avgdl
    tc = spark.createDataFrame(
        [("d1", "a", 2), ("d1", "b", 1), ("d2", "a", 1), (None, "a", 4)],
        "htid string, token string, count long",
    )
    rows = {(r["htid"], r["token"]): r for r in bm25(tc).collect()}
    assert set(rows) == {("d1", "a"), ("d1", "b"), ("d2", "a")}

    def ref(tf, dl, df, n=2, avgdl=2.0, k1=1.2, b=0.75):
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    for (h, t), r in rows.items():
        dl = 3 if h == "d1" else 1
        tf = r["tc"]
        assert r["bm25"] == pytest.approx(ref(tf, dl, r["df"]), rel=1e-12)
    # rare token (b in d1 only) outweighs common token at equal tf
    assert rows[("d1", "b")]["bm25"] > rows[("d2", "a")]["bm25"]


def test_bm25_lazy_no_job_at_construction(spark):
    tc = spark.createDataFrame([("d", "t", 1)], "htid string, token string, count long")
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    _ = bm25(tc)  # plan construction only
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert before == after


def test_pii_counts_and_redaction(spark):
    df = spark.createDataFrame(
        [
            (1, "write to alice.smith+x@corp.example.org or bob@ex.io today"),
            (2, "server at 192.168.1.250 port 8080, ssn 123-45-6789"),
            (3, "call +1 (555) 123-4567 maybe"),
            (4, "clean text with no contact data at all"),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in pii_features(df).collect()}
    assert got[1]["pii_email"] == 2 and got[1]["pii_total"] == 2
    assert got[2]["pii_ipv4"] == 1 and got[2]["pii_ssn"] == 1 and got[2]["pii_total"] == 2
    assert got[3]["pii_phone"] == 1
    assert got[4]["pii_total"] == 0

    red = {r["doc_id"]: r["text"] for r in redact_pii(df).collect()}
    assert "<email>" in red[1] and "alice" not in red[1] and "bob" not in red[1]
    assert "<ipv4>" in red[2] and "<ssn>" in red[2] and "192.168" not in red[2]
    assert "8080" in red[2]  # port survives: not a dotted quad
    assert "<phone>" in red[3]
    assert red[4] == "clean text with no contact data at all"
    # out_col keeps the original
    both = redact_pii(df, out_col="clean").filter("doc_id = 1").first()
    assert "alice" in both["text"] and "alice" not in both["clean"]


def test_pii_patterns_match_duckdb_re2(spark):
    """The pattern strings are dialect-portable: DuckDB's RE2 finds the
    same match counts Java regex does (the oracle-parity contract)."""
    import duckdb

    texts = [
        "a@b.co and c.d-e@f.g.h.io",
        "1.2.3.4 then 10.0.0.255, but 1234.5.6.7 has a word boundary issue",
        "123-45-6789 999-99-9999 12-34-5678",
        "+44 20 7946 0958 and +1(555) 000-1111",
        "no pii here",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, text string")
    sdf = pii_features(df).toPandas().set_index("i")
    con = duckdb.connect()
    con.register("t", df.toPandas())
    for kind, pat in PII_PATTERNS.items():
        esc = pat.replace("'", "''")
        odf = con.execute(
            f"SELECT i, len(regexp_extract_all(text, '{esc}')) AS c FROM t"
        ).df().set_index("i")
        for i in range(len(texts)):
            assert sdf.loc[i, f"pii_{kind}"] == odf.loc[i, "c"], (kind, texts[i])

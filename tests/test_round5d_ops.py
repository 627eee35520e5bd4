"""Round-5 fourth wave: hash-threshold distinct sampling and the
leakage-free temporal (purged/embargoed) split."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from htrc_feature_reader_spark.operators import distinct_sampled, temporal_split
from htrc_feature_reader_spark.operators.packing import (
    _cutoff_micros,
    temporal_split_sql,
)
from htrc_feature_reader_spark.operators.stats import distinct_sampled_sql


# ---------------------------------------------------------------------------
# distinct_sampled


@pytest.fixture(scope="module")
def id_frame(spark):
    # 3 groups x known distinct counts; values deliberately CONSECUTIVE
    # integers (the adversarial case for an affine hash family)
    rows = [("g%d" % (v % 3), v % 400) for v in range(5000)]
    return spark.createDataFrame(rows, "grp string, val long")


def test_distinct_sampled_estimate_in_range(id_frame):
    out = {
        r["grp"]: r
        for r in distinct_sampled(
            id_frame, "val", group_col="grp", rate_inv=4, seed=31
        ).collect()
    }
    # gcd(3, 400) = 1, so over 5000 rows every group sees all 400 values
    for grp in ("g0", "g1", "g2"):
        est = out[grp]["est_distinct"]
        assert est == out[grp]["sampled_distinct"] * 4
        # binomial(400, 1/4): 4 sigma ~ 4*sqrt(400*p*(1-p))*rate_inv ~ 139
        assert abs(est - 400) < 139, (grp, est)


def test_distinct_sampled_deterministic_across_partitionings(id_frame):
    a = distinct_sampled(id_frame, "val", group_col="grp", seed=7).collect()
    b = distinct_sampled(
        id_frame.repartition(17), "val", group_col="grp", seed=7
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_distinct_sampled_duckdb_replay_bit_exact(id_frame, tmp_path):
    duckdb = pytest.importorskip("duckdb")
    p = str(tmp_path / "idf")
    id_frame.write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM '{p}/*.parquet'")
    sql = distinct_sampled_sql(
        "val", group_col="grp", rate_inv=16, seed=31, table="t"
    )
    oracle = sorted(map(tuple, con.execute(sql).fetchall()))
    got = sorted(
        (r["grp"], r["sampled_distinct"], r["est_distinct"])
        for r in distinct_sampled(
            id_frame, "val", group_col="grp", rate_inv=16, seed=31
        ).collect()
    )
    assert got == oracle


def test_distinct_sampled_string_values_replay(spark, tmp_path):
    """String value columns ride the rolling-hash key path; the SQL
    replay (string_key=True) must agree bit-exactly."""
    duckdb = pytest.importorskip("duckdb")
    rows = [("g%d" % (i % 2), "tok_%d" % (i % 300)) for i in range(2000)]
    df = spark.createDataFrame(rows, "grp string, val string")
    p = str(tmp_path / "sdf")
    df.write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM '{p}/*.parquet'")
    sql = distinct_sampled_sql(
        "val", group_col="grp", rate_inv=8, seed=5, table="t", string_key=True
    )
    oracle = sorted(map(tuple, con.execute(sql).fetchall()))
    got = sorted(
        (r["grp"], r["sampled_distinct"], r["est_distinct"])
        for r in distinct_sampled(
            df, "val", group_col="grp", rate_inv=8, seed=5
        ).collect()
    )
    assert got == oracle
    assert all(s > 0 for _, s, _ in got)  # the sample actually caught values


def test_distinct_sampled_rejects_bad_rate(id_frame):
    with pytest.raises(ValueError, match="rate_inv"):
        distinct_sampled(id_frame, "val", rate_inv=0)


# ---------------------------------------------------------------------------
# temporal_split


T0 = dt.datetime(2024, 6, 1, 0, 0, 0)


@pytest.fixture(scope="module")
def ts_frame(spark):
    rows = [
        (1, T0 - dt.timedelta(days=2)),        # train
        (2, T0),                               # exactly cutoff -> train
        (3, T0 + dt.timedelta(microseconds=1)),  # inside embargo -> NULL
        (4, T0 + dt.timedelta(hours=23)),      # inside embargo -> NULL
        (5, T0 + dt.timedelta(days=1)),        # exactly cutoff+embargo -> NULL
        (6, T0 + dt.timedelta(days=1, microseconds=1)),  # test
        (7, T0 + dt.timedelta(days=9)),        # test
    ]
    return spark.createDataFrame(rows, "id long, ts timestamp")


def test_temporal_split_boundaries_exact(ts_frame):
    out = {
        r["id"]: r["split"]
        for r in temporal_split(ts_frame, T0, embargo_s=86_400.0).collect()
    }
    assert out == {1: "train", 2: "train", 3: None, 4: None, 5: None,
                   6: "test", 7: "test"}


def test_temporal_split_zero_embargo_is_exhaustive(ts_frame):
    out = temporal_split(ts_frame, T0, embargo_s=0.0)
    assert out.filter(F.col("split").isNull()).count() == 0
    assert out.filter(F.col("split") == "train").count() == 2


@pytest.mark.parametrize(
    "cutoff",
    [T0, "2024-06-01 00:00:00", T0.replace(tzinfo=dt.timezone.utc).timestamp()],
)
def test_temporal_split_cutoff_forms_agree(ts_frame, cutoff):
    out = temporal_split(ts_frame, cutoff, embargo_s=3600.0)
    got = {r["id"]: r["split"] for r in out.collect()}
    assert got[2] == "train" and got[3] is None and got[6] == "test"


def test_temporal_split_rejects_negative_embargo(ts_frame):
    with pytest.raises(ValueError, match="embargo_s"):
        temporal_split(ts_frame, T0, embargo_s=-1.0)


def test_cutoff_micros_bad_type():
    with pytest.raises(TypeError):
        _cutoff_micros(["2024-06-01"])


def test_temporal_split_duckdb_replay(ts_frame, tmp_path):
    duckdb = pytest.importorskip("duckdb")
    p = str(tmp_path / "tsf")
    ts_frame.write.mode("overwrite").parquet(p)
    con = duckdb.connect()
    lbl = temporal_split_sql(T0, ts_col="ts", embargo_s=86_400.0)
    oracle = dict(
        con.execute(
            f"SELECT id, {lbl} FROM '{p}/*.parquet'"
        ).fetchall()
    )
    got = {
        r["id"]: r["split"]
        for r in temporal_split(ts_frame, T0, embargo_s=86_400.0).collect()
    }
    assert got == oracle


def test_temporal_split_is_map_only(ts_frame):
    df = temporal_split(ts_frame, T0, embargo_s=60.0)
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    assert ") Exchange" not in plan


def test_distinct_sampled_rate_inv_1_is_exact_identity(id_frame):
    # rate_inv=1 must count every distinct value (no threshold filter:
    # h == MOD is reachable after the xorshift finalizer and
    # 'h < MOD' would drop it)
    out = {
        r["grp"]: (r["sampled_distinct"], r["est_distinct"])
        for r in distinct_sampled(id_frame, "val", group_col="grp",
                                  rate_inv=1, seed=31).collect()
    }
    # each group holds val % 400 over v ≡ grp (mod 3): exact distincts
    exact = {
        r["grp"]: r["d"]
        for r in id_frame.groupBy("grp").agg(
            F.countDistinct("val").alias("d")).collect()
    }
    assert {g: s for g, (s, _) in out.items()} == exact
    assert all(s == e for (s, e) in out.values())

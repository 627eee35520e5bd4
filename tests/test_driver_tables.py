"""The driver tables' declared read schemas (``__spark_entry__._SCHEMAS``):
each one equals what Spark infers from the parquet footers, and building a
declared query reads its tables without launching a single Spark job."""

import os
import sys

import pytest
from pyspark.sql.types import StructType

from __spark_entry__ import _SCHEMAS, _t, queries

TESTDATA = "/root/testdata"
PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")

# Builders that run Spark jobs while building their query, each with the
# reason. The zero-jobs test below does not call them.
EAGER_BUILDS = {
    "pack_sequences": "pack_sequences' barrier and offsets collect",
    "ivf_topk": "ivf_index's seed and Lloyd collects",
    "dedup_clusters": "connected_components' pinned star rounds",
    "incremental_dedup": "ingests batches into a digest store",
    "incremental_near_dup": "ingests batches into a signature store",
    "incremental_clean": "runs the ingest_clean_batch loop",
    "metadata_roundtrip": "writes EF-JSON volumes and reads them back",
    "section_features_roundtrip": "writes EF-JSON volumes and reads them back",
    "line_chars_roundtrip": "writes EF-JSON volumes and reads them back",
    "page_features_roundtrip": "writes EF-JSON volumes and reads them back",
    "unpack_roundtrip": "packs sequences and reads them back",
    "quad_roundtrip": "writes a parquet quad and reads it back",
    "quad_prefold_roundtrip": "writes a pre-folded parquet quad and reads it back",
    "ef_json_roundtrip": "writes EF-JSON volumes and reads them back",
    "jsonl_quarantine": "writes raw JSONL and ingests it",
}


def _assert_declared(spark, name, path):
    declared = StructType.fromDDL(_SCHEMAS[name])
    inferred = spark.read.parquet(path).schema
    assert declared == inferred, (name, declared.simpleString(), inferred.simpleString())


def test_undeclared_table_is_rejected(spark):
    with pytest.raises(ValueError, match="'lineitems'"):
        _t(spark, f"{TESTDATA}/sf0.001", "lineitems")


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_match_testdata_footers(spark, sf):
    """Field order, types, timestamp_ntz and nullability all agree with
    the schema inferred from the footers."""
    for name in _SCHEMAS:
        _assert_declared(spark, name, f"{TESTDATA}/{sf}/{name}.parquet")


def test_declared_schemas_match_perfbench_footers(spark, tmp_path):
    """The benchmark's generated tables (tiny scale) read as declared."""
    sys.path.insert(0, PERFBENCH)
    try:
        import gen
        import workloads
    finally:
        sys.path.remove(PERFBENCH)
    tables = gen.generate(workloads.INPUTS["headline"]["tiny"], 7)
    assert set(tables) <= set(_SCHEMAS)
    for name, table in tables.items():
        path = str(tmp_path / f"{name}.parquet")
        gen.write_table(table, path, 2)
        _assert_declared(spark, name, path)


def test_query_builds_launch_no_job(spark, job_labels):
    """Building a declared query is lazy: no footer inference, no action.
    A read without a declared schema, or a new eager builder, fails here."""
    qs = queries()
    assert set(EAGER_BUILDS) <= set(qs)
    launched = {}
    for name, fn in qs.items():
        if name not in EAGER_BUILDS:
            descs = job_labels(lambda: fn(spark, f"{TESTDATA}/sf0.001"))
            if descs:
                launched[name] = descs
    assert not launched, launched

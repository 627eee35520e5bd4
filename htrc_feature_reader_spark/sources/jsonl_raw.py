"""Raw JSONL ingest with corrupt-record quarantine.

No reference analog (the reference reads curated EF JSON only,
/root/reference/htrc_features/parsers.py) — this is the LLM-pipeline
ingest path: raw data dumps arrive as JSONL shards from crawlers and
vendors, and at 100 TB a single malformed line must neither kill the job
(FAILFAST) nor vanish silently (DROPMALFORMED). PERMISSIVE mode with an
explicit ``columnNameOfCorruptRecord`` routes every bad line, verbatim,
to a quarantine DataFrame that can be sunk next to the run's manifest
for triage and replay.

Design notes:

- An explicit schema is mandatory: schema inference is a full extra pass
  over the data, and inference + PERMISSIVE cannot distinguish "field
  absent everywhere" from "field mistyped" — at scale you always know
  the contract (the default here is the pre-tokenized sequence shape
  ``doc_id string, tokens array<int>, n_tok int, source string``).
- The corrupt column is an ordinary column here (from_json over a text
  scan), so quarantine.count() and corrupt-only projections are legal —
  spark.read.json's internal corrupt column would reject them
  (SPARK-21610).
- ``required=`` promotes semantically-null rows (line parses as JSON but
  a contract column is null — e.g. ``{"doc_id": null, ...}`` or a
  missing key) into quarantine as well, with the offending raw line
  preserved verbatim in the corrupt column. Without it, PERMISSIVE lets
  such rows through as nulls, the classic silent-ingest bug.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# the north-rule input shape (BASELINE.json input_hint): pre-tokenized
# training sequences
SEQUENCES_JSONL_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("tokens", ArrayType(IntegerType())),
        StructField("n_tok", IntegerType()),
        StructField("source", StringType()),
    ]
)

DOCUMENTS_JSONL_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def _validate_contract(
    schema: StructType, required: tuple[str, ...], corrupt_col: str
) -> None:
    if corrupt_col in schema.fieldNames():
        raise ValueError(f"corrupt_col {corrupt_col!r} collides with a schema field")
    for r in required:
        if r not in schema.fieldNames():
            raise ValueError(f"required column {r!r} not in schema")


def parse_jsonl_lines(
    text_df: DataFrame,
    schema: StructType,
    required: tuple[str, ...] = (),
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, Column]:
    """Shared parse/validate/split core for the batch and streaming
    readers (one definition — the contract cannot drift between them):
    ``text_df`` must have a string ``value`` column (plus anything a
    caller wants to carry); returns ``(raw, is_bad)`` where ``raw``
    projects the parsed struct (``__r``), the original line (``__raw``),
    and ``src_file``, and ``is_bad`` is the bad-row predicate applied
    nowhere — callers filter/split with it themselves (the tagged
    good+bad single-frame shape lives in ``stream_jsonl(split=False)``).

    Bad-row rule: the parse failed (corrupt field set), OR ``from_json``
    returned a NULL struct (input was valid JSON but not an object —
    e.g. a bare ``null`` or ``3`` — which PERMISSIVE reports as neither
    row nor corruption), OR a ``required`` column is null. Lines that
    are empty or whitespace-only are skipped entirely (not data, not
    quarantine-worthy), matching spark.read.json's blank-line rule.
    """
    _validate_contract(schema, required, corrupt_col)
    # fresh StructType: StructType.add would mutate the caller's schema
    full = StructType(list(schema.fields) + [StructField(corrupt_col, StringType())])
    raw = text_df.filter(F.col("value").rlike(r"\S")).select(
        F.from_json(
            F.col("value"),
            full,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col},
        ).alias("__r"),
        F.col("value").alias("__raw"),
        F.input_file_name().alias("src_file"),
    )
    null_required = F.lit(False)
    for r in required:
        null_required = null_required | F.col("__r")[r].isNull()
    is_bad = (
        F.col("__r").isNull()
        | F.col("__r")[corrupt_col].isNotNull()
        | null_required
    )
    return raw, is_bad


def split_parsed_jsonl(
    raw: DataFrame,
    is_bad,
    schema: StructType,
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """Project the shared parsed frame into ``(good, quarantine)``."""
    data_cols = [f.name for f in schema.fields]
    good = raw.filter(~is_bad).select(*[F.col("__r")[c].alias(c) for c in data_cols])
    quarantine = raw.filter(is_bad).select(
        *[F.col("__r")[c].alias(c) for c in data_cols],
        F.col("__raw").alias(corrupt_col),
        "src_file",
    )
    return good, quarantine


def read_jsonl(
    spark: SparkSession,
    path: str | list[str],
    schema: StructType = SEQUENCES_JSONL_SCHEMA,
    required: tuple[str, ...] = (),
    corrupt_col: str = "_corrupt_record",
) -> tuple[DataFrame, DataFrame]:
    """Read JSONL shard(s) under an explicit contract; return
    ``(good, quarantine)``.

    ``good`` has exactly ``schema``'s columns; ``quarantine`` has them
    too (all-null for unparseable lines) plus ``corrupt_col`` holding
    the raw offending line verbatim and ``src_file`` for triage.
    Compressed shards (``.gz``/``.bz2``) decompress natively in the
    text scan. Empty and whitespace-only lines are skipped (as
    spark.read.json does); valid-JSON-but-not-an-object lines (a bare
    ``null``/number/string) are quarantined, not leaked as null rows.

    Parse strategy: text scan + ``from_json``, NOT ``spark.read.json``
    — the json reader's internal corrupt column carries the SPARK-21610
    restriction (any plan whose pruned references are corrupt-col-only,
    e.g. ``quarantine.count()``, is rejected), while ``from_json``'s
    corrupt field is an ordinary column. Same Jackson parse, one scan
    feeding both frames.
    """
    _validate_contract(schema, required, corrupt_col)  # before the scan
    raw, is_bad = parse_jsonl_lines(
        spark.read.text(path), schema, required, corrupt_col
    )
    return split_parsed_jsonl(raw, is_bad, schema, corrupt_col)


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str | None = None,
    partitions: int | None = None,
) -> None:
    """Write ``df`` as JSONL shards (one JSON object per line, Spark's
    native ``json`` sink — whole-stage-codegen serialization, no Python).
    ``partitions`` coalesces for shard-count control (fewer, larger
    shards for archival; ``None`` keeps the upstream parallelism)."""
    if partitions is not None:
        df = df.coalesce(partitions)
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)

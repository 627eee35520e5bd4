"""htrc_feature_reader_spark — a from-scratch, PySpark-native feature-engineering
engine with the query/data-processing capabilities of htrc/htrc-feature-reader.

The reference (see /root/reference, SURVEY.md) is a single-process pandas
library: a data model (long-format token-count tables per volume) plus a small
family of reshaping/folding operators. This package re-expresses those
semantics as corpus-wide Spark DataFrame plans (Catalyst-optimized, no
per-row Python), and extends them — per BASELINE.json's north rule — with a
distributed point-in-time layer: as-of joins, backfill/forward-fill, lag/lead
windows, gap sessionization, and a windowed feature build over pre-tokenized
sequence tables, at cluster scale.

Layout
------
- ``session``    : tuned SparkSession builder (AQE, Arrow, shuffle sizing)
- ``schemas``    : explicit StructTypes for every table in the model
- ``synth``      : deterministic, seed-pure synthetic data (hash-arithmetic,
                   no driver-side RNG — generates distributed at any scale)
- ``sources``    : EF-JSON ingest (pure explode), parquet quad read/write,
                   id/path utilities, incremental dedup stores
- ``operators``  : tokenlist folds, line-chars/section folds, chunking,
                   as-of join, window ops, sessionization, feature build,
                   dedup (exact/minhash/simhash/jaccard), similarity search,
                   text analysis, training-data cleaning and sampling
- ``plans``      : checkpoint/lineage manifests + resumable writes
- ``streaming``  : Structured Streaming variants (sessionization)
"""

__version__ = "0.1.0"

from .errors import MissingDataError, MissingFieldError  # noqa: F401
from .session import get_spark  # noqa: F401
from .corpus import Corpus  # noqa: F401

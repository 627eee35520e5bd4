"""Physical layout for entity-timeline tables (north-rule requirement:
"explicit repartitionByRange + secondary sort ... rather than default
shuffles").

``layout_timeline`` range-partitions by (entity, ts) and sorts within
partitions by the same key. Why this matters at 10^12 rows:

- **co-location**: every row of an entity's timeline lands in one (or a few
  contiguous) partitions, so as-of joins and window scans over the written
  table read sequential, pre-sorted runs instead of shuffling;
- **pruning**: parquet min/max stats on (entity, ts) become tight after the
  range partition + sort, so time-sliced reads skip whole files;
- **compression**: sorted runs RLE/dict-encode far better (the reference
  measured ~20% size from ordering alone, dev/ParquetSizeComparisons.ipynb);
- **balance**: range boundaries come from sampling, so skewed entities
  spread across boundary-adjacent partitions instead of hashing into one
  (the hot-key half of the skew story; the other half is as-of salting).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def layout_timeline(
    df: DataFrame,
    entity_col: str = "doc_id",
    ts_col: str = "ts",
    n_partitions: int | None = None,
) -> DataFrame:
    """Range-partition by (entity, ts) with an in-partition secondary sort."""
    keys = [F.col(entity_col), F.col(ts_col)]
    out = (
        df.repartitionByRange(n_partitions, *keys)
        if n_partitions
        else df.repartitionByRange(*keys)
    )
    return out.sortWithinPartitions(*keys)


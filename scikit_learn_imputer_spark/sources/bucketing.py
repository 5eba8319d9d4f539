"""Bucketed tables for co-located (shuffle-free) joins.

At 100 TB the fact-fact join (lineitem ⋈ orders) is the dominant shuffle;
pre-bucketing both tables by the join key into the same bucket count lets
Spark plan a SortMergeJoin with NO Exchange on either side — the classic
write-once/join-many amortization. The helper writes through
``saveAsTable`` (bucket metadata lives in the catalog; plain
``.parquet()`` writes cannot carry it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort: bool = True,
) -> None:
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.format("parquet").saveAsTable(table)

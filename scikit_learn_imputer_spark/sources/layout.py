"""Sort-ordered parquet layout for min/max row-group skipping.

Partition pruning (hive dirs, handled in ``streaming/events`` ingest and
the IVF index) prunes at DIRECTORY granularity. The complementary trick
at FILE/ROW-GROUP granularity: write the table sorted by the hot filter
column, so each parquet row group covers a narrow value range and its
min/max statistics let the reader skip whole row groups for selective
predicates. On a 100 TB fact table sorted by date, a one-month query
reads ~1/36 of the bytes WITHOUT any partitioning scheme — and the two
tricks compose (partition by coarse key, sort within partitions by fine
key).

``repartitionByRange`` does the global sort shuffle (range-partitioned,
so files are non-overlapping value ranges — each FILE also prunes via
its footer before any row group is touched); ``sortWithinPartitions``
orders rows inside each file so row groups subdivide the file's range.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, TimestampNTZType, TimestampType


def write_sorted(
    df: DataFrame,
    path: str,
    sort_col: str,
    num_files: int | None = None,
) -> None:
    """Write ``df`` as parquet range-sorted by ``sort_col``:
    non-overlapping per-file ranges + ordered row groups within files."""
    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(parts, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def _as_double(df: DataFrame, col: str) -> Column:
    """Order-preserving numeric image of a column (dates/timestamps →
    days/seconds since epoch) for range normalization."""
    dtype = df.schema[col].dataType
    if isinstance(dtype, DateType):
        return F.datediff(F.col(col), F.lit("1970-01-01")).cast("double")
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        # session tz is UTC (session.py), so the ntz cast is stable
        return F.unix_micros(F.col(col).cast("timestamp")).cast("double")
    return F.col(col).cast("double")


def _interleave_bits(quantized: list[Column], bits: int) -> Column:
    """Morton/Z-value: bit i of column j lands at position
    i*ncols + j. Pure shift/mask expressions, whole-stage codegen."""
    n = len(quantized)
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        for j, q in enumerate(quantized):
            z = z + F.shiftleft(
                F.shiftright(q, i).bitwiseAND(F.lit(1)), i * n + j
            )
    return z


def write_zorder(
    df: DataFrame,
    path: str,
    cols: list[str],
    bits: int = 12,
    num_files: int | None = None,
) -> None:
    """Z-ORDER layout (Morton curve): the multi-column generalization of
    ``write_sorted``. A 1-D sort gives perfect skipping on ONE column
    and none on the others; interleaving the bits of k range-normalized
    columns clusters rows so every z-ordered file covers a narrow range
    in EVERY dimension — a selective predicate on ANY of the columns
    skips most files via footer min/max (Delta/Iceberg ``OPTIMIZE
    ZORDER BY`` re-expressed with plain DataFrame ops).

    Mechanics: min/max per column travel as a broadcast 1-row frame (no
    driver collect); each column maps to ``bits``-bit rank space by
    min-max normalization (document skew caveat: rank/quantile mapping
    balances better on heavy-tailed columns); the interleaved z-value
    drives ``repartitionByRange`` + ``sortWithinPartitions`` exactly
    like the 1-D layout. ``bits * len(cols)`` must fit a signed 64-bit
    value."""
    if not cols or bits < 1 or bits * len(cols) > 62:
        raise ValueError(
            f"need 1 <= bits*len(cols) <= 62, got bits={bits} cols={cols}"
        )
    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    stats = df.agg(
        *[F.min(_as_double(df, c)).alias(f"__mn_{i}") for i, c in enumerate(cols)],
        *[F.max(_as_double(df, c)).alias(f"__mx_{i}") for i, c in enumerate(cols)],
    )
    top = float(2**bits - 1)
    quantized = []
    for i, c in enumerate(cols):
        mn, mx = F.col(f"__mn_{i}"), F.col(f"__mx_{i}")
        span = F.when(mx > mn, mx - mn).otherwise(F.lit(1.0))
        q = F.floor((_as_double(df, c) - mn) / span * top).cast("bigint")
        quantized.append(F.coalesce(q, F.lit(0)))
    aux = [f"__mn_{i}" for i in range(len(cols))] + [
        f"__mx_{i}" for i in range(len(cols))
    ]
    (
        df.crossJoin(F.broadcast(stats))
        .withColumn("__z", _interleave_bits(quantized, bits))
        .repartitionByRange(parts, "__z")
        .sortWithinPartitions("__z")
        .drop("__z", *aux)
        .write.mode("overwrite")
        .parquet(path)
    )


def read_layout(spark: SparkSession, path: str) -> DataFrame:
    """Scan a sorted layout. Selective predicates on the sort column land
    in PushedFilters and skip files (footer min/max) and row groups
    (page-index stats) — verify with ``scan_files_matching``."""
    return spark.read.parquet(path)

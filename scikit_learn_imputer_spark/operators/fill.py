"""Order-dependent forward/backward fill (SURVEY.md §2 W1/W2).

Reference parity: ``df.fillna(method='ffill').fillna(method='bfill')``
(scikit_learn_imputer.py:157-158) — replace NULL with the last observed value
in row order, then fill any leading NULLs with the next observed value.

Scale design (SURVEY.md §7.3 hard part #1): a naive
``Window.orderBy(order_col)`` has no partition key, so Spark collapses the
whole table into ONE partition — correct at 19 rows, fatal at 100 TB. The
implementation here is the two-pass partitioned fill:

1. approx-quantile the order key once to fix DETERMINISTIC range boundaries
   (a literal expression — unlike ``repartitionByRange``, whose sampled
   boundaries can differ between re-executions of the same plan, which
   would misalign the boundary aggregate with the final pass);
2. one tiny aggregate — per (range-bucket, column) the earliest/latest
   observed value — one row per bucket, O(buckets), never O(rows);
3. carry-in (last observed in any earlier bucket) and carry-back (first
   observed in any later bucket) as running windows over that aggregate,
   broadcast-joined back on bucket id — all in the plan, so no value
   leaves the JVM and the call submits only the boundary jobs;
4. per-bucket windows (parallel across buckets) + coalesce:
   ffill-within-bucket, else carry-in, else bfill-within-bucket, else
   carry-back.

The result is byte-identical to the global-window plan (the DuckDB oracle
uses ``LAST_VALUE ... IGNORE NULLS`` over the global order) while every
window over data rows stays partition-local.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def ffill_bfill(
    df: DataFrame,
    order_col: str,
    cols: list[str] | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Forward- then backward-fill ``cols`` in the global order of
    ``order_col`` (which must be unique and non-null), without ever forming
    a single global partition of data rows."""
    cols = cols or [c for c in df.columns if c != order_col]
    original_cols = df.columns
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism

    # Order-column support: any numeric (including parameterized
    # decimal(p,s)), date, or timestamp. Bucketing needs a NUMERIC key for
    # approxQuantile, so non-numeric orderables get a monotone numeric
    # surrogate (unix_micros / days-since-epoch); the surrogate is used
    # ONLY for boundary estimation + bucket assignment — the windows and
    # first/last structs below order by the ORIGINAL column, so a
    # precision-collapsed surrogate tie merely co-locates rows in one
    # bucket (harmless), never reorders them.
    order_type = dict(df.dtypes)[order_col]
    numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
    if order_type in numeric or order_type.startswith("decimal"):
        surrogate = F.col(order_col).cast("double")
    elif order_type.startswith("timestamp"):
        surrogate = F.unix_micros(F.col(order_col)).cast("double")
    elif order_type == "date":
        surrogate = F.datediff(F.col(order_col), F.lit("1970-01-01")).cast("double")
    else:
        raise ValueError(
            f"ffill_bfill needs an orderable numeric/date/timestamp order "
            f"column (the reference's row id is numeric, "
            f"scikit_learn_imputer.py:38); got {order_col}: {order_type}"
        )

    # Deterministic range bucketing: boundaries are collected ONCE and baked
    # into the plan as literals, so every pass below sees the same buckets.
    probs = [i / n for i in range(1, n)]
    with_sur = df.withColumn("__osur", surrogate)
    boundaries = sorted(
        set(with_sur.stat.approxQuantile("__osur", probs, 0.001))
    ) if n > 1 else []
    bucket = F.lit(0)
    for b in boundaries:
        bucket = bucket + F.when(F.col("__osur") > F.lit(b), 1).otherwise(0)
    part = with_sur.withColumn("__pid", bucket.cast("int")).drop("__osur")

    # Pass 1: per-partition first/last observed value of every column.
    # max/min over (order, value) structs ignores NULL structs, i.e. rows
    # where the column itself is NULL.
    aggs = []
    for c in cols:
        observed = F.when(
            F.col(c).isNotNull(),
            F.struct(F.col(order_col).alias("o"), F.col(c).alias("v")),
        )
        aggs.append(F.max(observed).alias(f"__last_{c}"))
        aggs.append(F.min(observed).alias(f"__first_{c}"))

    # Carry-in is the last value observed in an earlier bucket, carry-back
    # the first observed in a later one: running windows over the
    # one-row-per-bucket aggregate (O(buckets) rows, never data). They stay
    # in the plan; a collect would cost a job per call and pass
    # timestamps through Python's local time, which is ambiguous in a DST fold.
    def carry(agg_col: str, pid: Column) -> Column:
        w = Window.orderBy(pid).rowsBetween(Window.unboundedPreceding, -1)
        return F.last(F.col(agg_col).getField("v"), ignorenulls=True).over(w)

    carry_df = part.groupBy("__pid").agg(*aggs).select(
        "__pid",
        *[carry(f"__last_{c}", F.asc("__pid")).alias(f"__ci_{c}") for c in cols],
        *[carry(f"__first_{c}", F.desc("__pid")).alias(f"__cb_{c}") for c in cols],
    )
    joined = part.join(F.broadcast(carry_df), on="__pid", how="left")

    # Pass 2: partition-local windows — parallel, bounded memory. Both are
    # RUNNING frames (unboundedPreceding → current), which Spark evaluates
    # incrementally in O(n); the natural "(current → unboundedFollowing)"
    # frame for bfill is O(n²) per partition (re-scanned per row), so bfill
    # is expressed as a running last() over the REVERSED order instead.
    wf = (
        Window.partitionBy("__pid")
        .orderBy(F.col(order_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wb = (
        Window.partitionBy("__pid")
        .orderBy(F.col(order_col).desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = joined.select(
        *[
            (
                F.coalesce(
                    F.last(F.col(c), ignorenulls=True).over(wf),
                    F.col(f"__ci_{c}"),
                    F.last(F.col(c), ignorenulls=True).over(wb),
                    F.col(f"__cb_{c}"),
                ).alias(c)
                if c in cols
                else F.col(c)
            )
            for c in original_cols
        ]
    )
    return out


def ffill_bfill_global(
    df: DataFrame, order_col: str, cols: list[str] | None = None
) -> DataFrame:
    """Single-global-window reference implementation (ONE partition — test
    oracle only, never for data-sized frames)."""
    cols = cols or [c for c in df.columns if c != order_col]
    wf = Window.orderBy(F.col(order_col).asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wb = Window.orderBy(F.col(order_col).desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.select(
        *[
            (
                F.coalesce(
                    F.last(F.col(c), ignorenulls=True).over(wf),
                    F.last(F.col(c), ignorenulls=True).over(wb),
                ).alias(c)
                if c in cols
                else F.col(c)
            )
            for c in df.columns
        ]
    )

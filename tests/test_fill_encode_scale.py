"""Unit tests for fill / encode / scale / split / update operators against
independently-computed expectations (pandas semantics where the reference
uses pandas)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from scikit_learn_imputer_spark.operators.encode import (
    label_decode,
    label_encode,
    one_hot,
)
from scikit_learn_imputer_spark.operators.fill import (
    ffill_bfill,
    ffill_bfill_global,
)
from scikit_learn_imputer_spark.operators.scale import minmax_scale
from scikit_learn_imputer_spark.operators.split import split_exact, split_modulo
from scikit_learn_imputer_spark.operators.update import scatter_update


def _fill_fixture(spark, n=200, seed=7):
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        v = None if rng.random() < 0.3 else float(rng.randint(0, 99))
        s = None if rng.random() < 0.3 else rng.choice(["x", "y", "z"])
        rows.append((i, v, s))
    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("v", DoubleType(), True),
            StructField("s", StringType(), True),
        ]
    )
    return spark.createDataFrame(rows, schema), rows


@pytest.mark.parametrize("num_partitions", [1, 4, 13])
def test_ffill_bfill_matches_pandas(spark, num_partitions):
    """The two-pass partitioned fill must equal pandas
    ffill().bfill() regardless of bucket count (incl. buckets ≫ data skew)."""
    df, rows = _fill_fixture(spark)
    pdf = pd.DataFrame(rows, columns=["id", "v", "s"]).set_index("id")
    expected = pdf.ffill().bfill()

    out = ffill_bfill(df, "id", ["v", "s"], num_partitions=num_partitions)
    got = {r["id"]: (r["v"], r["s"]) for r in out.collect()}
    for i in expected.index:
        exp_v = expected.loc[i, "v"]
        exp_s = expected.loc[i, "s"]
        exp_v = None if pd.isna(exp_v) else exp_v
        exp_s = None if pd.isna(exp_s) else exp_s
        assert got[i] == (exp_v, exp_s), f"row {i}: {got[i]} != {(exp_v, exp_s)}"


def test_ffill_bfill_matches_global_window(spark):
    df, _ = _fill_fixture(spark, n=120, seed=11)
    fast = ffill_bfill(df, "id", ["v", "s"], num_partitions=5)
    ref = ffill_bfill_global(df, "id", ["v", "s"])
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, ref.collect()))


def test_ffill_all_null_column_stays_null(spark):
    schema = StructType(
        [StructField("id", LongType(), False), StructField("v", DoubleType(), True)]
    )
    df = spark.createDataFrame([(0, None), (1, None)], schema)
    out = ffill_bfill(df, "id", ["v"], num_partitions=2)
    assert all(r["v"] is None for r in out.collect())


@pytest.mark.parametrize("num_partitions", [1, 2, 4])
def test_ffill_bfill_carries_timestamps_through_the_dst_fold(
    spark, monkeypatch, num_partitions
):
    """A timestamp carried across a bucket boundary keeps its instant.
    2024-11-03 06:30 UTC is 01:30 EST, inside New York's repeated hour; a
    round trip through Python's local-time datetimes turns it into 01:30
    EDT (05:30 UTC), so the fill must not depend on the bucket count."""
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        df = spark.range(10).select(
            "id",
            F.when(
                F.col("id") == 4, F.lit("2024-11-03 06:30:00").cast("timestamp")
            ).alias("v"),
        )

        def micros(out):
            return sorted(out.select("id", F.unix_micros("v")).collect())

        got = micros(ffill_bfill(df, "id", ["v"], num_partitions=num_partitions))
        assert got == micros(ffill_bfill_global(df, "id", ["v"]))
        assert {r[1] for r in got} == {1730615400000000}
    finally:
        monkeypatch.undo()
        time.tzset()


def _job_count(sc, group, action):
    sc.setJobGroup(group, group)
    try:
        action()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_ffill_bfill_submits_only_the_boundary_jobs(spark):
    """The carries are part of the returned plan: building the fill runs
    the boundary approxQuantile and nothing else."""
    sc = spark.sparkContext
    df = spark.range(10000).select(
        "id", F.when(F.col("id") % 3 > 0, F.col("id") * 0.5).alias("v")
    ).localCheckpoint(eager=True)
    n = sc.defaultParallelism
    probs = [i / n for i in range(1, n)]
    quantile = _job_count(
        sc, "fill_quantile", lambda: df.stat.approxQuantile("id", probs, 0.001)
    )
    fill = _job_count(sc, "fill_build", lambda: ffill_bfill(df, "id", ["v"]))
    assert 0 < fill == quantile <= 2


def test_one_hot_get_dummies_shape(spark):
    """Column naming and value-sorted order match pd.get_dummies
    (reference tests.py:192-196 expects Location_* in sorted order)."""
    schema = StructType(
        [StructField("id", LongType(), False), StructField("c", StringType(), True)]
    )
    df = spark.createDataFrame([(0, "b"), (1, "a"), (2, None), (3, "b")], schema)
    out = one_hot(df, ["c"])
    assert out.columns == ["id", "c_a", "c_b"]
    rows = {r["id"]: (r["c_a"], r["c_b"]) for r in out.collect()}
    assert rows == {0: (0, 1), 1: (1, 0), 2: (0, 0), 3: (0, 1)}


def test_label_encode_decode_roundtrip(spark):
    """Lexicographic class order = sklearn LabelEncoder; decode inverts."""
    schema = StructType(
        [StructField("id", LongType(), False), StructField("c", StringType(), True)]
    )
    df = spark.createDataFrame(
        [(0, "zebra"), (1, "apple"), (2, None), (3, "mango")], schema
    )
    enc, labels = label_encode(df, "c", out_col="code")
    assert labels == ["apple", "mango", "zebra"]
    codes = {r["id"]: r["code"] for r in enc.collect()}
    assert codes == {0: 2.0, 1: 0.0, 2: None, 3: 1.0}
    dec = label_decode(enc.select("id", F.col("code").alias("c")), "c", labels)
    back = {r["id"]: r["c"] for r in dec.collect()}
    assert back == {0: "zebra", 1: "apple", 2: None, 3: "mango"}


def test_minmax_scale_sklearn_semantics(spark):
    """x'=(x-min)/(max-min); constant column → 0.0 (sklearn zero-range)."""
    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("a", DoubleType(), True),
            StructField("k", DoubleType(), True),
        ]
    )
    df = spark.createDataFrame(
        [(0, 10.0, 5.0), (1, 20.0, 5.0), (2, 30.0, 5.0)], schema
    )
    out = minmax_scale(df, ["a", "k"])
    rows = {r["id"]: (r["a"], r["k"]) for r in out.collect()}
    assert rows == {0: (0.0, 0.0), 1: (0.5, 0.0), 2: (1.0, 0.0)}


def test_scatter_update_only_fills_nulls(spark):
    schema = StructType(
        [StructField("id", LongType(), False)]
        + [StructField(c, DoubleType(), True) for c in ("v", "w")]
    )
    base = spark.createDataFrame(
        [(0, 1.0, None), (1, None, 5.0), (2, 3.0, None)], schema
    )
    updates = spark.createDataFrame([(1, 99.0, 11.0), (2, 777.0, 12.0)], schema)
    out = scatter_update(base, updates, "id", ["v", "w"])
    assert out.columns == ["id", "v", "w"]
    rows = {r["id"]: (r["v"], r["w"]) for r in out.collect()}
    # observed values win over the updates (coalesce order), per column;
    # row 0 has no update, so it survives unchanged with its NULL cell
    assert rows == {0: (1.0, None), 1: (99.0, 5.0), 2: (3.0, 12.0)}


def test_split_exact_fraction_and_determinism(spark):
    df = spark.range(100).withColumnRenamed("id", "id")
    train, test = split_exact(df, 0.1, seed=42, id_col="id")
    assert test.count() == 10 and train.count() == 90
    train2, test2 = split_exact(df, 0.1, seed=42, id_col="id")
    assert sorted(r["id"] for r in test.collect()) == sorted(
        r["id"] for r in test2.collect()
    )
    # disjoint and complete
    ids = {r["id"] for r in train.collect()} | {r["id"] for r in test.collect()}
    assert len(ids) == 100


def test_split_exact_membership_is_partitioning_invariant(spark):
    # F.rand(seed)-based splits change membership when the upstream
    # partitioning changes (ADVICE r1); the hash-based split must not.
    df = spark.range(200)
    _, test1 = split_exact(df, 0.25, seed=7, id_col="id")
    _, test2 = split_exact(df.repartition(7), 0.25, seed=7, id_col="id")
    assert sorted(r["id"] for r in test1.collect()) == sorted(
        r["id"] for r in test2.collect()
    )
    # train and test are separate actions; membership must be consistent
    # between them (disjoint + complete) even on a repartitioned frame.
    train3, test3 = split_exact(df.repartition(13), 0.1, seed=3, id_col="id")
    tr = {r["id"] for r in train3.collect()}
    te = {r["id"] for r in test3.collect()}
    assert not (tr & te) and len(tr | te) == 200 and len(te) == 20


def test_split_exact_bucket_count_keeps_exactness(spark):
    df = spark.range(101)
    for b in (1, 4, 64, 256):
        train, test = split_exact(df, 0.1, seed=42, id_col="id", num_buckets=b)
        assert test.count() == 11 and train.count() == 90, b


def test_split_exact_plan_has_no_single_partition_exchange(spark):
    # The rank window must be partitioned by hash bucket — a global
    # orderBy window would show up as an Exchange SinglePartition.
    df = spark.range(1000)
    train, test = split_exact(df, 0.1, seed=42, id_col="id")
    for side in (train, test):
        plan = side._jdf.queryExecution().executedPlan().toString()
        assert "Exchange SinglePartition" not in plan
        assert "hashpartitioning" in plan


def test_split_modulo_portable(spark):
    df = spark.range(100)
    train, test = split_modulo(df, "id", 10, (0,))
    assert test.count() == 10
    assert all(r["id"] % 10 == 0 for r in test.collect())


def test_ffill_bfill_timestamp_and_decimal_order_keys(spark):
    """ADVICE r1: decimal(p,s) order columns were rejected by the dtype
    string gate; timestamps are the common real-world fill order. Both now
    go through the same two-pass partitioned plan."""
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (t0 + datetime.timedelta(hours=i), None if i % 3 == 1 else float(i))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["ts", "v"])
    out = {r["ts"]: r["v"] for r in ffill_bfill(df, "ts", ["v"], num_partitions=4).collect()}
    expect = {}
    last = None
    for ts, v in rows:
        if v is not None:
            last = v
        expect[ts] = last
    # leading nulls bfill: none here since i=0 observed
    assert out == expect

    dec = spark.createDataFrame(rows, ["ts", "v"]).select(
        F.col("ts"),
        F.row_number().over(__import__("pyspark").sql.Window.orderBy("ts")).cast("decimal(10,2)").alias("k"),
        F.col("v"),
    ).drop("ts")
    got = {float(r["k"]): r["v"] for r in ffill_bfill(dec, "k", ["v"], num_partitions=3).collect()}
    exp = {float(i + 1): expect[rows[i][0]] for i in range(30)}
    assert got == exp


def test_zscore_scale_semantics(spark):
    from scikit_learn_imputer_spark.operators.scale import zscore_scale

    schema = StructType(
        [
            StructField("id", LongType(), False),
            StructField("a", DoubleType(), True),
            StructField("k", DoubleType(), True),
        ]
    )
    df = spark.createDataFrame(
        [(0, 10.0, 5.0), (1, 20.0, 5.0), (2, 30.0, 5.0)], schema
    )
    out = {r["id"]: (r["a"], r["k"]) for r in zscore_scale(df, ["a", "k"]).collect()}
    # sd of (10,20,30) = 10 → z = (-1, 0, 1); constant col → 0.0
    assert out == {0: (-1.0, 0.0), 1: (0.0, 0.0), 2: (1.0, 0.0)}


def test_distinct_values_cardinality_cap(spark):
    """ADVICE r5: standalone one_hot/label_encode on a high-cardinality
    column must fail fast, not collect unboundedly."""
    from scikit_learn_imputer_spark.operators.encode import distinct_values

    df = spark.range(100).select(F.concat(F.lit("v"), F.col("id")).alias("c"))
    with pytest.raises(ValueError, match="more than 10 distinct"):
        distinct_values(df, "c", max_values=10)
    # Within the cap the collect is exact.
    assert len(distinct_values(df, "c", max_values=100)) == 100


def test_one_hot_cap_passthrough(spark):
    from scikit_learn_imputer_spark.operators import encode

    old = encode.DEFAULT_MAX_VALUES
    df = spark.range(40).select(F.concat(F.lit("v"), F.col("id")).alias("c"))
    try:
        encode.DEFAULT_MAX_VALUES = 10
        with pytest.raises(ValueError, match="more than 10"):
            encode.label_encode(df, "c")
    finally:
        encode.DEFAULT_MAX_VALUES = old

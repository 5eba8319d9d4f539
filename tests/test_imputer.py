"""SparkImputer end-to-end tests mirroring the reference suite
(reference tests.py — constructor validation, golden feature columns, and
the no-nulls end-to-end invariant matrix)."""

import math
import os

import pytest
from pyspark.sql import functions as F

from scikit_learn_imputer_spark import SparkImputer, find_imputation_variance
from scikit_learn_imputer_spark.sources.territories import (
    TERRITORIES_CATEGORICAL,
    territories_df,
)


@pytest.fixture()
def territories(spark):
    return territories_df(spark)


def _imputer(df, tmp_path, **kw):
    defaults = dict(
        categorical=list(TERRITORIES_CATEGORICAL),
        save_models_to=str(tmp_path / "models"),
        round_column=["population"],
        class_threshold=14,
        id_col="id",
    )
    defaults.update(kw)
    return SparkImputer(df, **defaults)


# ------------------------------------------------------------ constructor
def test_constructor_type_errors(territories, tmp_path):
    """Reference tests.py:56-113: exact TypeError message per mistyped
    parameter."""
    cases = [
        (dict(categorical="x"), "categorical must be list not str"),
        (dict(save_models_to=1), "save_models_to must be str not int"),
        (dict(round_column="x"), "round_column must be list not str"),
        (dict(class_threshold="x"), "class_threshold must be int not str"),
        (dict(features="x"), "features must be list not str"),
        (
            dict(include_missing_flags="x"),
            "include_missing_flags must be bool not str",
        ),
    ]
    for kwargs, msg in cases:
        with pytest.raises(TypeError, match=msg):
            _imputer(territories, tmp_path, **kwargs)


def test_constructor_key_and_os_errors(territories, tmp_path):
    with pytest.raises(KeyError, match="not in data frame"):
        _imputer(territories, tmp_path, categorical=["missing_col"])
    with pytest.raises(OSError, match="does not exist"):
        _imputer(territories, tmp_path, save_models_to="/no/such/dir/m")


def test_input_data_type_error(tmp_path):
    with pytest.raises(TypeError, match="input_data must be"):
        SparkImputer("not a frame", save_models_to=str(tmp_path / "m"))


# ------------------------------------------------------------ features
def test_create_features_golden_columns(territories, tmp_path):
    """Reference tests.py:171-203 with class_threshold=14: Name (19
    classes) pruned, Location one-hot into 7 columns, continuous cols pass
    through."""
    imp = _imputer(territories, tmp_path)
    feats = imp.create_features()
    assert feats.columns == [
        "id",
        "km2",
        "gdp_per_capita",
        "population",
        "Location_Antartica",
        "Location_Caribbean",
        "Location_Europe",
        "Location_Indian_Ocean",
        "Location_Mid_Atlantic",
        "Location_Oceania",
        "Location_South_Atlantic",
    ]
    # no-missing column passes through unchanged (tests.py:198-203)
    pop = {r["id"]: r["population"] for r in feats.collect()}
    orig = {r["id"]: float(r["population"]) for r in territories.collect()}
    assert pop == orig
    # filled frame has no nulls anywhere
    n_null = feats.select(
        [F.sum(F.col(c).isNull().cast("int")).alias(c) for c in feats.columns]
    ).collect()[0]
    assert all(v == 0 for v in n_null)


def test_create_features_missing_flags(territories, tmp_path):
    imp = _imputer(territories, tmp_path, include_missing_flags=True)
    feats = imp.create_features()
    assert "km2_flag" in feats.columns and "Location_flag" in feats.columns


def test_create_features_subset(territories, tmp_path):
    imp = _imputer(territories, tmp_path, features=["km2", "population"])
    assert imp.create_features().columns == ["id", "km2", "population"]


# ------------------------------------------------------------ end-to-end
def _make_pair(name):
    """Estimators must be constructed lazily — the JVM only exists once the
    session fixture has started."""
    from pyspark.ml.classification import (
        DecisionTreeClassifier,
        LogisticRegression,
        RandomForestClassifier,
    )
    from pyspark.ml.regression import (
        DecisionTreeRegressor,
        LinearRegression,
        RandomForestRegressor,
    )

    from pyspark.ml.classification import (
        GBTClassifier,
        MultilayerPerceptronClassifier,
        OneVsRest,
    )
    from pyspark.ml.regression import GBTRegressor

    from scikit_learn_imputer_spark.estimators import (
        DummyClassifier,
        DummyRegressor,
        MLPRegressor,
    )

    return {
        # Reference tests.py:218-234 — all eight pairs, via the mapping in
        # estimators.REFERENCE_ESTIMATOR_MAP (the KNN pair is exercised by
        # its own e2e test below).
        "dummy_most_frequent": lambda: (
            DummyClassifier(strategy="most_frequent"),
            DummyRegressor(strategy="mean"),
        ),
        "dummy_stratified": lambda: (
            DummyClassifier(strategy="stratified", seed=42),
            DummyRegressor(strategy="median"),
        ),
        "logistic_linear": lambda: (
            LogisticRegression(maxIter=25),
            LinearRegression(maxIter=25),
        ),
        "decision_tree": lambda: (
            DecisionTreeClassifier(maxDepth=4),
            DecisionTreeRegressor(maxDepth=4),
        ),
        "random_forest": lambda: (
            RandomForestClassifier(numTrees=5),
            RandomForestRegressor(numTrees=5),
        ),
        "extra_trees_gbt": lambda: (
            OneVsRest(classifier=GBTClassifier(maxIter=5, maxDepth=3)),
            GBTRegressor(maxIter=5, maxDepth=3),
        ),
        "mlp": lambda: (
            MultilayerPerceptronClassifier(maxIter=40),  # layers auto-set
            # MLlib has no MLP regressor — the engine's own seeded-numpy
            # MLP closes the reference matrix's 8th pair (tests.py:234).
            MLPRegressor(hidden_layer_sizes=(16,), max_iter=200),
        ),
    }[name]()


@pytest.mark.parametrize(
    "pair_name",
    [
        "dummy_most_frequent",
        "dummy_stratified",
        "logistic_linear",
        "decision_tree",
        "random_forest",
        "extra_trees_gbt",
        "mlp",
    ],
)
def test_fit_transform_no_nulls_invariant(territories, tmp_path, pair_name):
    """Reference tests.py:206-283: for every estimator pair, the imputed
    output contains NO nulls."""
    clf, reg = _make_pair(pair_name)
    imp = _imputer(territories, tmp_path)
    result = imp.fit(classification=clf, regression=reg, transform=True)
    out = result["imputed_data"]
    nulls = out.filter(
        " OR ".join(f"{c} IS NULL" for c in out.columns)
    ).count()
    assert nulls == 0
    assert out.count() == 19
    for c in ["Location", "km2", "gdp_per_capita"]:
        assert "model_performance" in result[c]


def test_fit_save_then_transform_and_validate(territories, tmp_path):
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    imp = _imputer(territories, tmp_path)
    fitted = imp.fit(
        classification=DecisionTreeClassifier(maxDepth=4),
        regression=DecisionTreeRegressor(maxDepth=4),
        transform=False,
    )
    assert os.path.exists(os.path.join(str(tmp_path / "models"), "manifest.json"))
    assert "imputed_data" not in fitted

    out = imp.transform()
    nulls = out["imputed_data"].filter(
        "Location IS NULL OR km2 IS NULL OR gdp_per_capita IS NULL"
    ).count()
    assert nulls == 0

    # fit(transform=True) and fit() + transform() share one impute path:
    # with a deterministic tree pair they give the same rows.
    in_one = imp.fit(
        classification=DecisionTreeClassifier(maxDepth=4),
        regression=DecisionTreeRegressor(maxDepth=4),
        transform=True,
    )["imputed_data"]
    assert sorted(in_one.collect()) == sorted(out["imputed_data"].collect())

    # Scores on the training table, pinned exactly: the tree pair is
    # deterministic, so a change in validate's feature pass, predict or
    # scorer shows here.
    val = imp.validate(territories)
    assert {c: t["model_performance"] for c, t in val["tests"].items()} == {
        "Location": {"accuracy": 16 / 17},
        "km2": {"mse": 10061.408854166666},
        "gdp_per_capita": {"mse": 508931451.85185176},
    }


def test_nan_counts_as_missing(spark, tmp_path):
    """NaN and NULL are one missing marker from the constructor on."""
    df = spark.createDataFrame(
        [(0, 1.0), (1, float("nan")), (2, None)], "id long, a double"
    )
    imp = SparkImputer(df, save_models_to=str(tmp_path / "m"), id_col="id")
    row = imp.missing_metrics().collect()[0]
    assert (row["observed"], row["missing"]) == (1, 2)


def test_nan_cells_are_imputed(spark, tmp_path):
    """NaN, pandas' missing marker, in a double column is read as NULL:
    its cells are imputed, observed cells are kept, and no NaN or NULL is
    left (MLlib rejects a NaN feature vector outright)."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    rows = [
        (i, float(i % 10), float("nan") if i % 7 == 3 else 2.0 * i,
         None if i % 9 == 4 else f"c{i % 3}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "id long, a double, b double, k string")
    imp = SparkImputer(
        df, categorical=["k"], save_models_to=str(tmp_path / "m"), id_col="id"
    )
    out = imp.fit(
        classification=DecisionTreeClassifier(maxDepth=3),
        regression=DecisionTreeRegressor(maxDepth=3),
        transform=True,
    )["imputed_data"]
    got = {r["id"]: r for r in out.collect()}
    assert sorted(got) == list(range(40))
    assert all(
        r["b"] is not None and not math.isnan(r["b"]) and r["k"] is not None
        for r in got.values()
    )
    assert all(got[i]["b"] == 2.0 * i for i in range(40) if i % 7 != 3)


@pytest.mark.parametrize("n_observed", [0, 1])
def test_target_with_under_two_observed_cells_raises(
    spark, tmp_path, n_observed
):
    """A target needs one observed cell to train on and one to score on;
    with fewer, fit raises a ValueError naming it before any model trains."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    rows = [(i, float(i), 1.0 if i < n_observed else None) for i in range(10)]
    df = spark.createDataFrame(rows, "id long, a double, b double")
    imp = SparkImputer(df, save_models_to=str(tmp_path / "m"), id_col="id")
    with pytest.raises(ValueError, match=f"column 'b' has {n_observed} observed"):
        imp.fit(DecisionTreeClassifier(), DecisionTreeRegressor())


def test_round_column_integrality(territories, tmp_path):
    """round_column values must come back integral (np.round parity)."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    # Null out some population values to force imputation of the round col.
    with_nulls = territories.withColumn(
        "population",
        F.when(F.col("id") % 5 == 0, None).otherwise(
            F.col("population").cast("double")
        ),
    )
    imp = _imputer(with_nulls, tmp_path)
    result = imp.fit(
        classification=DecisionTreeClassifier(maxDepth=4),
        regression=DecisionTreeRegressor(maxDepth=4),
        transform=True,
    )
    vals = [
        r["population"]
        for r in result["imputed_data"].collect()
        if r["population"] is not None
    ]
    assert all(float(v) == int(v) for v in vals)


def test_select_model_ranks(territories, tmp_path):
    from pyspark.ml.classification import (
        DecisionTreeClassifier,
        RandomForestClassifier,
    )
    from pyspark.ml.regression import (
        DecisionTreeRegressor,
        RandomForestRegressor,
    )

    imp = _imputer(territories, tmp_path)
    summary = imp.select_model(
        [
            {
                "classification": DecisionTreeClassifier(maxDepth=3),
                "regression": DecisionTreeRegressor(maxDepth=3),
                "check_separate_fit_transform_time": False,
            },
            {
                "classification": RandomForestClassifier(numTrees=5),
                "regression": RandomForestRegressor(numTrees=5),
                "check_separate_fit_transform_time": False,
            },
        ]
    )
    rows = summary.collect()
    assert len(rows) == 2
    cols = summary.columns
    assert "sum_of_performance_ranks" in cols
    assert "km2_mse_rank" in cols and "Location_accuracy_rank" in cols
    ranks = sorted(r["km2_mse_rank"] for r in rows)
    assert ranks == [1.0, 2.0]


def test_readme_simple_all_continuous(spark, tmp_path):
    """FIXTURES.md F2 (readme.md:37): all-continuous frame imputes with no
    nulls left and observed values untouched."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import LinearRegression
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType(
        [StructField("id", LongType(), False)]
        + [StructField(c, DoubleType(), True) for c in ("A", "B", "C")]
    )
    df = spark.createDataFrame(
        [
            (0, 1.0, 2.0, None),
            (1, 2.0, 3.0, 4.0),
            (2, None, 4.0, 5.0),
            (3, 4.0, 5.0, None),
            (4, 5.0, 6.0, 7.0),
        ],
        schema,
    )
    imp = SparkImputer(df, save_models_to=str(tmp_path / "m2"), id_col="id")
    out = imp.fit(
        classification=DecisionTreeClassifier(),
        regression=LinearRegression(maxIter=25),
        transform=True,
    )["imputed_data"]
    assert out.filter("A IS NULL OR B IS NULL OR C IS NULL").count() == 0
    observed = {r["id"]: r["A"] for r in out.collect() if r["id"] != 2}
    assert observed == {0: 1.0, 1: 2.0, 3: 4.0, 4: 5.0}


def test_readme_mixed_numeric_categoricals(spark, tmp_path):
    """FIXTURES.md F3 (readme.md:54-57): DOUBLE-typed 0/1 categorical
    columns — label encoding must handle numeric categoricals and imputed
    values must stay in the class domain."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType(
        [StructField("id", LongType(), False)]
        + [StructField(c, DoubleType(), True) for c in ("A", "B", "C", "D", "E", "F")]
    )
    df = spark.createDataFrame(
        [
            (0, 1.0, 2.0, None, 1.0, 0.0, None),
            (1, 2.0, 3.0, 4.0, 0.0, None, 1.0),
            (2, None, 4.0, 5.0, 1.0, 1.0, 0.0),
            (3, 4.0, 5.0, None, 0.0, None, None),
            (4, 5.0, 6.0, 7.0, 1.0, 0.0, 1.0),
        ],
        schema,
    )
    imp = SparkImputer(
        df,
        categorical=["D", "E", "F"],
        save_models_to=str(tmp_path / "m3"),
        id_col="id",
    )
    out = imp.fit(
        classification=DecisionTreeClassifier(maxDepth=3),
        regression=DecisionTreeRegressor(maxDepth=3),
        transform=True,
    )["imputed_data"]
    nulls = out.filter(
        " OR ".join(f"{c} IS NULL" for c in ["A", "C", "D", "E", "F"])
    ).count()
    assert nulls == 0
    for c in ("D", "E", "F"):
        vals = {r[c] for r in out.collect()}
        assert vals <= {0.0, 1.0}, f"{c} left the class domain: {vals}"


def test_select_model_separate_timing(territories, tmp_path):
    """check_separate_fit_transform_time=True exercises the save→transform
    rollout path, the model-size probe (S5), and the CSV checkpoint sink
    (S2)."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    imp = _imputer(territories, tmp_path)
    csv_path = str(tmp_path / "summary.csv")
    summary = imp.select_model(
        [
            {
                "classification": DecisionTreeClassifier(maxDepth=3),
                "regression": DecisionTreeRegressor(maxDepth=3),
                "check_separate_fit_transform_time": True,
            }
        ],
        path=csv_path,
    )
    row = summary.collect()[0]
    assert row["fit_function_time"] > 0
    assert row["user_rollout_time_transform"] > 0
    assert row["model_size"] > 0
    assert row["time_saved_by_saved_model"] is not None
    assert os.path.exists(csv_path)


def test_csv_report_sink(spark, territories, tmp_path):
    """S2: small report tables round-trip through the CSV sink."""
    from scikit_learn_imputer_spark.sources.tables import write_csv_report

    imp = _imputer(territories, tmp_path)
    metrics = imp.missing_metrics()
    out = str(tmp_path / "metrics_csv")
    write_csv_report(metrics, out)
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == metrics.count()
    assert set(back.columns) == set(metrics.columns)


def test_find_imputation_variance(spark, territories, tmp_path):
    """m identical datasets → zero between-imputation variance; differing
    datasets → positive variance for the differing variable."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    imp = _imputer(territories, tmp_path)
    r1 = imp.fit(
        classification=DecisionTreeClassifier(maxDepth=4),
        regression=DecisionTreeRegressor(maxDepth=4),
        transform=True,
    )["imputed_data"]
    var = find_imputation_variance(
        {"m1": r1, "m2": r1}, list(TERRITORIES_CATEGORICAL), id_col="id"
    )
    out = {r["variable"]: r["imputation_variance"] for r in var.collect()}
    assert set(out) == {"Name", "Location", "km2", "gdp_per_capita", "population"}
    assert abs(out["km2"]) < 1e-9  # identical datasets → B = 0


def test_multiple_impute_rubins_variance(spark):
    """m independent imputations feed find_imputation_variance; the B-term
    frame covers every imputed variable with finite nonnegative variance."""
    import os
    import tempfile

    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    from scikit_learn_imputer_spark.imputer import (
        SparkImputer,
        find_imputation_variance,
    )
    from scikit_learn_imputer_spark.sources.territories import territories_df

    imp = SparkImputer(
        territories_df(spark),
        categorical=["Name", "Location"],
        save_models_to=os.path.join(tempfile.mkdtemp(), "m"),
        round_column=["population"],
        class_threshold=14,
        id_col="id",
    )
    frames = imp.multiple_impute(
        DecisionTreeClassifier(maxDepth=4),
        DecisionTreeRegressor(maxDepth=4),
        m=3,
        parallelism=1,
    )
    assert sorted(frames) == ["imp_0", "imp_1", "imp_2"]
    for df in frames.values():
        assert df.filter(
            "Location IS NULL OR km2 IS NULL OR gdp_per_capita IS NULL"
        ).count() == 0
    var = find_imputation_variance(
        frames, categorical=["Name", "Location"], id_col="id"
    )
    rows = {r["variable"]: r["imputation_variance"] for r in var.collect()}
    for c in ("km2", "gdp_per_capita", "Location"):
        assert c in rows and rows[c] is not None and rows[c] >= 0.0

"""Per-column estimator maps: {column: estimator, "*": default} wherever a
single estimator was accepted (fit / select_model)."""

from __future__ import annotations

import os
import tempfile

import pytest

from scikit_learn_imputer_spark.imputer import SparkImputer, _resolve_estimator
from scikit_learn_imputer_spark.sources.territories import territories_df


def _imputer(spark):
    return SparkImputer(
        territories_df(spark),
        categorical=["Name", "Location"],
        save_models_to=os.path.join(tempfile.mkdtemp(), "m"),
        round_column=["population"],
        class_threshold=14,
        id_col="id",
    )


def test_resolve_estimator_map_and_errors():
    assert _resolve_estimator("plain", "c") == "plain"
    assert _resolve_estimator({"c": 1, "*": 2}, "c") == 1
    assert _resolve_estimator({"c": 1, "*": 2}, "other") == 2
    with pytest.raises(KeyError, match="no '\\*' default"):
        _resolve_estimator({"c": 1}, "other")


def test_fit_with_per_column_regressor_map(spark):
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.regression import DecisionTreeRegressor, LinearRegression

    imp = _imputer(spark)
    res = imp.fit(
        classification=LogisticRegression(maxIter=5),
        regression={
            "km2": DecisionTreeRegressor(maxDepth=3),
            "*": LinearRegression(maxIter=5),
        },
        transform=True,
        parallelism=1,
    )
    model = lambda c: type(res[c]["trained_model"]).__name__
    assert model("km2") == "DecisionTreeRegressionModel"
    assert model("gdp_per_capita") == "LinearRegressionModel"
    assert model("Location") == "LogisticRegressionModel"
    nulls = res["imputed_data"].filter(
        "Location IS NULL OR km2 IS NULL OR gdp_per_capita IS NULL"
    ).count()
    assert nulls == 0


# ------------------------------------------------------- dummy estimators
def test_dummy_estimator_fit_constants_and_persistence(spark, tmp_path):
    from scikit_learn_imputer_spark.estimators import (
        DummyClassifier,
        DummyClassifierModel,
        DummyRegressor,
    )

    df = spark.createDataFrame([(0.0,), (1.0,), (1.0,), (2.0,)], ["label"])

    clf = DummyClassifier(strategy="most_frequent").setLabelCol("label")
    model = clf.fit(df)
    assert {r["prediction"] for r in model.transform(df).collect()} == {1.0}

    strat = DummyClassifier(strategy="stratified", seed=7).setLabelCol("label")
    preds = {r["prediction"] for r in strat.fit(df).transform(df).collect()}
    assert preds <= {0.0, 1.0, 2.0} and preds

    mean_m = DummyRegressor(strategy="mean").setLabelCol("label").fit(df)
    assert mean_m.transform(df).first()["prediction"] == 1.0
    med_m = DummyRegressor(strategy="median").setLabelCol("label").fit(df)
    assert med_m.transform(df).first()["prediction"] == 1.0

    # Params-only persistence round-trip (model state lives in Params).
    path = str(tmp_path / "dummy_clf")
    model.write().overwrite().save(path)
    loaded = DummyClassifierModel.load(path)
    assert loaded.transform(df).first()["prediction"] == 1.0


def test_reference_estimator_map_documents_all_eight_pairs():
    from scikit_learn_imputer_spark.estimators import REFERENCE_ESTIMATOR_MAP

    assert len(REFERENCE_ESTIMATOR_MAP) == 8
    for pair, mapping in REFERENCE_ESTIMATOR_MAP.items():
        assert mapping["classifier"] is not None, pair
        assert mapping["regressor"] is not None, pair


# ----------------------------------------------------------- KNN estimators
def test_knn_classifier_vote_and_regressor_mean(spark):
    from pyspark.ml.feature import VectorAssembler
    from scikit_learn_imputer_spark.estimators import KNNClassifier, KNNRegressor

    train = spark.createDataFrame(
        [(0.0, 0.0, 0.0), (0.1, 0.0, 0.0), (0.0, 0.1, 0.0),
         (5.0, 5.0, 1.0), (5.1, 5.0, 1.0), (5.0, 5.1, 1.0)],
        ["x", "y", "label"],
    )
    asm = VectorAssembler(inputCols=["x", "y"], outputCol="features")
    tr = asm.transform(train)
    test = asm.transform(
        spark.createDataFrame([(0.05, 0.05), (5.05, 5.05)], ["x", "y"])
    )

    clf = KNNClassifier(k=3).fit(tr)
    got = [r["prediction"] for r in clf.transform(test).orderBy("x").collect()]
    assert got == [0.0, 1.0]

    reg = KNNRegressor(k=3).fit(tr)
    got = [r["prediction"] for r in reg.transform(test).orderBy("x").collect()]
    assert got == [0.0, 1.0]  # all 3 neighbors share the label → exact mean


def test_knn_classifier_tie_breaks_to_smallest_label(spark):
    from pyspark.ml.feature import VectorAssembler
    from scikit_learn_imputer_spark.estimators import KNNClassifier

    # k=2 with one neighbor of each class at equal distance → tie → 0.0.
    train = spark.createDataFrame(
        [(-1.0, 0.0, 2.0), (1.0, 0.0, 0.0)], ["x", "y", "label"]
    )
    asm = VectorAssembler(inputCols=["x", "y"], outputCol="features")
    model = KNNClassifier(k=2).fit(asm.transform(train))
    test = asm.transform(spark.createDataFrame([(0.0, 0.0)], ["x", "y"]))
    assert model.transform(test).first()["prediction"] == 0.0


def test_knn_max_fit_rows_guard(spark):
    from pyspark.ml.feature import VectorAssembler
    from scikit_learn_imputer_spark.estimators import KNNRegressor

    df = VectorAssembler(inputCols=["x"], outputCol="features").transform(
        spark.range(10).selectExpr("cast(id as double) x",
                                   "cast(id as double) label")
    )
    with pytest.raises(ValueError, match="maxFitRows"):
        KNNRegressor(k=1, max_fit_rows=5).fit(df)


def test_knn_model_persistence_roundtrip(spark, tmp_path):
    from pyspark.ml.feature import VectorAssembler
    from scikit_learn_imputer_spark.estimators import (
        KNNClassifier,
        KNNClassifierModel,
    )

    train = spark.createDataFrame(
        [(0.0, 0.0), (1.0, 1.0), (10.0, 1.0)], ["x", "label"]
    )
    asm = VectorAssembler(inputCols=["x"], outputCol="features")
    model = KNNClassifier(k=1).fit(asm.transform(train))
    path = str(tmp_path / "knn")
    model.write().overwrite().save(path)
    loaded = KNNClassifierModel.load(path)
    test = asm.transform(spark.createDataFrame([(9.5,)], ["x"]))
    assert loaded.transform(test).first()["prediction"] == 1.0


def test_imputer_save_load_transform_with_knn_pair(spark):
    """fit(transform=False) saves the CUSTOM Python models (KNN*Model)
    themselves; transform() must reload them through
    DefaultParamsReader.loadParamsInstance and impute to zero nulls."""
    from scikit_learn_imputer_spark.estimators import KNNClassifier, KNNRegressor

    imp = _imputer(spark)
    imp.fit(
        classification=KNNClassifier(k=3),
        regression=KNNRegressor(k=3),
        transform=False,
        parallelism=1,
    )
    res = imp.transform()
    nulls = res["imputed_data"].filter(
        "Location IS NULL OR km2 IS NULL OR gdp_per_capita IS NULL"
    ).count()
    assert nulls == 0


def test_imputer_save_load_transform_with_one_vs_rest(spark):
    """A saved OneVsRestModel forgets its rawPredictionCol. Reloaded by
    transform(), it still reads its sub-models' reserved output column and
    imputes the rows fit(transform=True) does."""
    from pyspark.ml.classification import LogisticRegression, OneVsRest
    from pyspark.ml.regression import DecisionTreeRegressor

    imp = _imputer(spark)
    clf = OneVsRest(classifier=LogisticRegression(maxIter=5))
    reg = DecisionTreeRegressor(maxDepth=3)
    fitted = imp.fit(clf, reg, transform=True)["imputed_data"].collect()
    imp.fit(clf, reg)
    assert sorted(imp.transform()["imputed_data"].collect()) == sorted(fitted)


def test_imputer_e2e_with_knn_pair(spark):
    """The reference matrix's knn pair (reference tests.py:223) end-to-end
    through SparkImputer with the no-nulls invariant."""
    from scikit_learn_imputer_spark.estimators import KNNClassifier, KNNRegressor

    imp = _imputer(spark)
    res = imp.fit(
        classification=KNNClassifier(k=3),
        regression=KNNRegressor(k=3),
        transform=True,
        parallelism=1,
    )
    nulls = res["imputed_data"].filter(
        "Location IS NULL OR km2 IS NULL OR gdp_per_capita IS NULL"
    ).count()
    assert nulls == 0


# ----------------------------------------------------------- MLP regressor
def test_mlp_regressor_learns_linear_function(spark):
    from pyspark.ml.feature import VectorAssembler
    from scikit_learn_imputer_spark.estimators import MLPRegressor

    rows = [(float(i), float(j), 2.0 * i - 3.0 * j + 1.0)
            for i in range(6) for j in range(6)]
    asm = VectorAssembler(inputCols=["x", "y"], outputCol="features")
    tr = asm.transform(spark.createDataFrame(rows, ["x", "y", "label"]))
    model = MLPRegressor(hidden_layer_sizes=(16,), max_iter=500, seed=7).fit(tr)
    preds = model.transform(tr).select("label", "prediction").collect()
    mse = sum((r["label"] - r["prediction"]) ** 2 for r in preds) / len(preds)
    var = sum((r["label"] - 1.0 * 0) ** 2 for r in preds) / len(preds)
    assert mse < 0.05 * var, f"MLP failed to fit a linear target: mse={mse}"


def test_mlp_regressor_deterministic_given_seed(spark):
    from pyspark.ml.feature import VectorAssembler
    from scikit_learn_imputer_spark.estimators import MLPRegressor

    rows = [(float(i), float(i % 3), float(i * i % 7)) for i in range(20)]
    asm = VectorAssembler(inputCols=["x", "y"], outputCol="features")
    tr = asm.transform(spark.createDataFrame(rows, ["x", "y", "label"]))
    m1 = MLPRegressor(max_iter=50, seed=3).fit(tr)
    m2 = MLPRegressor(max_iter=50, seed=3).fit(tr)
    assert m1.getOrDefault(m1.weightsFlat) == m2.getOrDefault(m2.weightsFlat)


def test_mlp_regressor_max_fit_rows_guard_and_persistence(spark, tmp_path):
    from pyspark.ml.feature import VectorAssembler
    from scikit_learn_imputer_spark.estimators import (
        MLPRegressor,
        MLPRegressorModel,
    )

    df = VectorAssembler(inputCols=["x"], outputCol="features").transform(
        spark.range(10).selectExpr("cast(id as double) x",
                                   "cast(id as double) label")
    )
    with pytest.raises(ValueError, match="maxFitRows"):
        MLPRegressor(max_fit_rows=5).fit(df)

    model = MLPRegressor(hidden_layer_sizes=(8,), max_iter=300, seed=1).fit(df)
    path = str(tmp_path / "mlp")
    model.write().overwrite().save(path)
    loaded = MLPRegressorModel.load(path)
    a = model.transform(df).select("prediction").collect()
    b = loaded.transform(df).select("prediction").collect()
    assert [r["prediction"] for r in a] == [r["prediction"] for r in b]

"""SparkImputer end-to-end tests mirroring the reference suite
(reference tests.py — constructor validation, golden feature columns, and
the no-nulls end-to-end invariant matrix)."""

import math
import os
import struct

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from scikit_learn_imputer_spark import SparkImputer, find_imputation_variance
from scikit_learn_imputer_spark.sources.territories import (
    TERRITORIES_CATEGORICAL,
    territories_df,
)


@pytest.fixture()
def territories(spark):
    return territories_df(spark)


@pytest.fixture(scope="module")
def dt4_imputed(spark, tmp_path_factory):
    """One DecisionTree(maxDepth=4) ``fit(transform=True)`` on territories,
    shared by the tests that read its imputed frame."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    imp = _imputer(territories_df(spark), tmp_path_factory.mktemp("dt4"))
    return imp.fit(
        classification=DecisionTreeClassifier(maxDepth=4),
        regression=DecisionTreeRegressor(maxDepth=4),
        transform=True,
    )["imputed_data"]


@pytest.fixture(scope="module")
def select_model_run(spark, tmp_path_factory):
    """One ``select_model`` on territories over a DecisionTree(maxDepth=3)
    pair, timed separately, and a RandomForest(numTrees=5) pair, with its
    CSV report; returns ``(summary, csv_path)``."""
    from pyspark.ml.classification import (
        DecisionTreeClassifier,
        RandomForestClassifier,
    )
    from pyspark.ml.regression import (
        DecisionTreeRegressor,
        RandomForestRegressor,
    )

    tmp_path = tmp_path_factory.mktemp("select_model")
    csv_path = str(tmp_path / "summary.csv")
    imp = _imputer(territories_df(spark), tmp_path)
    summary = imp.select_model(
        [
            {
                "classification": DecisionTreeClassifier(maxDepth=3),
                "regression": DecisionTreeRegressor(maxDepth=3),
                "check_separate_fit_transform_time": True,
            },
            {
                "classification": RandomForestClassifier(numTrees=5),
                "regression": RandomForestRegressor(numTrees=5),
                "check_separate_fit_transform_time": False,
            },
        ],
        path=csv_path,
    )
    return summary, csv_path


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


def test_create_features_collects_each_domain_once(spark, territories, tmp_path):
    """One bounded collect per categorical (Name, pruned, and Location)
    decides the pruning and gives one_hot its domain, so one_hot collects
    nothing, and ffill_bfill runs only its boundary quantile: at most 6
    jobs in all."""
    sc = spark.sparkContext
    imp = _imputer(territories, tmp_path)
    sc.setJobGroup("create_features_jobs", "jobs of one create_features")
    try:
        imp.create_features()
        jobs = sc.statusTracker().getJobIdsForGroup("create_features_jobs")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(jobs) <= 6


def test_create_features_missing_flags(territories, tmp_path):
    """The flags are missing_indicator's, taken in the feature projection:
    the same columns in the same order and values, with no join added."""
    imp = _imputer(territories, tmp_path, include_missing_flags=True)
    feats = imp.create_features()
    indicator = imp.missing_indicator()
    flags = indicator.columns[1:]
    assert feats.columns[-len(flags):] == flags
    want = {r["id"]: [float(r[f]) for f in flags] for r in indicator.collect()}
    assert {r["id"]: [r[f] for f in flags] for r in feats.collect()} == want

    def joins(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return sum("Join " in line for line in plan.splitlines())

    unflagged = _imputer(territories, tmp_path).create_features()
    assert joins(feats) == joins(unflagged)


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
    # Each of the k=3 imputed columns is predicted on a filter of the one
    # feature frame, and all of them are written back by ONE scatter join.
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert sum("Join " in line for line in plan.splitlines()) == 1


def test_fit_save_then_transform_and_validate(territories, tmp_path, dt4_imputed):
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
    assert sorted(dt4_imputed.collect()) == sorted(out["imputed_data"].collect())

    # Scores on the training table, pinned exactly: the tree pair is
    # deterministic, so a change in validate's feature pass, predict or
    # scorer shows here.
    val = imp.validate(territories)
    assert {c: t["model_performance"] for c, t in val["tests"].items()} == {
        "Location": {"accuracy": 16 / 17},
        "km2": {"mse": 10061.408854166666},
        "gdp_per_capita": {"mse": 508931451.85185176},
    }


@pytest.mark.parametrize("pair_name", ["logistic_linear", "decision_tree"])
def test_imputations_hold_across_input_layouts(territories, tmp_path, pair_name):
    """The documented layout contract of ``fit``: the same table in another
    partition layout imputes the same categorical cells, and the same
    continuous cells up to float summation order (exactly for trees)."""
    imputed = []
    for i, df in enumerate([territories, territories.repartition(3)]):
        (tmp_path / str(i)).mkdir()
        clf, reg = _make_pair(pair_name)
        out = _imputer(df, tmp_path / str(i)).fit(clf, reg, transform=True)
        imputed.append({r["id"]: r for r in out["imputed_data"].collect()})
    first, second = imputed
    assert first.keys() == second.keys()
    rel = 0.0 if pair_name == "decision_tree" else 1e-8
    for i, row in first.items():
        assert row["Location"] == second[i]["Location"], i
        for c in ("km2", "gdp_per_capita"):
            assert math.isclose(row[c], second[i][c], rel_tol=rel, abs_tol=0.0), (i, c)


def test_pooled_fits_keep_the_callers_job_group(spark, territories, tmp_path):
    """The fit pool's threads carry the caller's job group: fit submits the
    same jobs, all in the group, whether it trains its 3 targets one by
    one or from 4 threads."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    sc = spark.sparkContext
    imp = _imputer(territories, tmp_path)
    counts = {}
    for parallelism in (1, 4):
        group = f"fit_parallelism_{parallelism}"
        sc.setJobGroup(group, f"fit(parallelism={parallelism})")
        try:
            imp.fit(
                DecisionTreeClassifier(maxDepth=3),
                DecisionTreeRegressor(maxDepth=3),
                transform=True,
                parallelism=parallelism,
            )
            counts[parallelism] = len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    assert counts[1] > 0
    assert counts[4] == counts[1]


def test_parallelism_below_one_raises(spark, territories, tmp_path):
    """``parallelism`` sizes the fit pool; below 1 it raises a ValueError
    naming it before any job runs."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    sc = spark.sparkContext
    imp = _imputer(territories, tmp_path)
    sc.setJobGroup("fit_parallelism_0", "fit(parallelism=0)")
    try:
        with pytest.raises(ValueError, match="parallelism"):
            imp.fit(
                DecisionTreeClassifier(maxDepth=3),
                DecisionTreeRegressor(maxDepth=3),
                parallelism=0,
            )
        assert sc.statusTracker().getJobIdsForGroup("fit_parallelism_0") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_persistence_job_budget(spark, territories, tmp_path):
    """A target's directory holds only its estimator's model, and its
    feature list lives once, in the manifest: saving the 3 Logistic/Linear
    targets submits at most 6 jobs and loading them back at most 12."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.regression import LinearRegression

    sc = spark.sparkContext
    imp = _imputer(territories, tmp_path)
    fitted = imp.fit(
        LogisticRegression(maxIter=25), LinearRegression(maxIter=25),
        transform=True,
    )
    targets = ["Location", "km2", "gdp_per_capita"]

    def jobs_of(group, run):
        sc.setJobGroup(group, group)
        try:
            result = run()
            return result, len(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    _, save_jobs = jobs_of("persistence_save", lambda: imp._save_models(fitted, targets))
    loaded, load_jobs = jobs_of("persistence_load", lambda: imp._load_models(territories))
    assert 0 < save_jobs <= 6
    assert 0 < load_jobs <= 12
    for c in targets:
        assert sorted(os.listdir(loaded[c]["model_dir"])) == ["data", "metadata"]
        assert type(loaded[c]["trained_model"]) is type(fitted[c]["trained_model"])
        assert loaded[c]["model_features"] == fitted[c]["model_features"]


@pytest.fixture(scope="module")
def dt_saved(spark, tmp_path_factory):
    """The save directory of one DecisionTree(maxDepth=3) ``fit()`` on
    territories."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    tmp_path = tmp_path_factory.mktemp("dt_saved")
    _imputer(territories_df(spark), tmp_path).fit(
        DecisionTreeClassifier(maxDepth=3), DecisionTreeRegressor(maxDepth=3)
    )
    return tmp_path


@pytest.mark.parametrize("step", ["validate", "transform"])
def test_saved_feature_missing_from_the_data_raises(territories, dt_saved, step):
    """The rows with id < 12 have no 'Antartica' or 'Oceania' Location, so
    their feature pass lacks those one-hot columns. A saved model that reads
    them raises a ValueError naming its target and the missing columns, as
    the reference's ``X[model_features]`` raises a KeyError."""
    subset = territories.filter("id < 12")
    missing = r"\['Location_Antartica', 'Location_Oceania'\]"
    with pytest.raises(ValueError, match=f"'km2'.*{missing}"):
        if step == "validate":
            _imputer(territories, dt_saved).validate(subset)
        else:
            _imputer(subset, dt_saved).transform()


@pytest.mark.parametrize(
    "name",
    ["prediction", "rawPrediction", "probability", "__vec", "__label", "__raw__a"],
)
def test_reserved_column_names(spark, tmp_path, name):
    """A data column may share a name with an MLlib output column: the
    imputer's model columns are ``__``-prefixed. Names starting with
    ``__`` are the imputer's own, so the constructor rejects them with a
    ValueError naming the column."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    rows = [
        (i, None if i % 5 == 0 else "xy"[i % 2], float(i), float(i % 3))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, f"id long, a string, b double, `{name}` double")

    def fit():
        imp = SparkImputer(
            df, categorical=["a"], save_models_to=str(tmp_path / "m"), id_col="id"
        )
        return imp.fit(
            DecisionTreeClassifier(maxDepth=2), DecisionTreeRegressor(maxDepth=2),
            transform=True,
        )["imputed_data"]

    if name.startswith("__"):
        with pytest.raises(ValueError, match=f"reserved.*'{name}'"):
            fit()
        return
    out = {r["id"]: r for r in fit().collect()}
    assert len(out) == 20
    assert all(r["a"] in ("x", "y") for r in out.values())
    assert {i: r[name] for i, r in out.items()} == {i: float(i % 3) for i in range(20)}


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


@pytest.mark.parametrize("test_size", [0.0, 0.99])
def test_test_size_leaving_an_empty_split_raises(
    territories, tmp_path, test_size
):
    """0.0 leaves no test rows and 0.99 of 17 observed Location cells no
    training rows; fit raises a ValueError naming the column before any
    model trains."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    imp = _imputer(territories, tmp_path)
    with pytest.raises(
        ValueError, match=f"column 'Location' has 17 .*test_size={test_size}"
    ):
        imp.fit(
            DecisionTreeClassifier(), DecisionTreeRegressor(),
            test_size=test_size,
        )


@pytest.mark.parametrize("defect", ["duplicate", "null"])
def test_duplicate_or_null_ids_raise(territories, tmp_path, defect):
    """The write-back is an id equi-join, so a duplicated id would fan it
    out; fit raises a ValueError naming id_col instead."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    if defect == "duplicate":
        df = territories.unionByName(territories.filter(F.col("id") < 3))
    else:
        df = territories.withColumn("id", F.when(F.col("id") > 0, F.col("id")))
    imp = _imputer(df, tmp_path)
    with pytest.raises(ValueError, match="id_col 'id' must be unique"):
        imp.fit(DecisionTreeClassifier(), DecisionTreeRegressor())


def test_fit_collects_each_domain_once_and_records_row_counts(
    territories, tmp_path, monkeypatch
):
    """One territories fit collects each categorical's domain once: the
    feature pass's Location domain is also its label list. Each fit record
    and the manifest hold the target's train, test and imputed row counts
    (17 observed Location cells → ⌈1.7⌉ = 2 test rows)."""
    import json

    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    from scikit_learn_imputer_spark import imputer

    calls = []
    collect = imputer.distinct_values

    def counted(df, col, *args):
        calls.append(col)
        return collect(df, col, *args)

    monkeypatch.setattr(imputer, "distinct_values", counted)
    imp = _imputer(territories, tmp_path)
    fitted = imp.fit(DecisionTreeClassifier(maxDepth=4), DecisionTreeRegressor(maxDepth=4))
    assert sorted(calls) == ["Location", "Name"]

    want = {
        "Location": (15, 2, 2),
        "km2": (14, 2, 3),
        "gdp_per_capita": (8, 1, 10),
    }
    keys = ("n_train", "n_test", "n_imputed")
    with open(tmp_path / "models" / "manifest.json") as f:
        manifest = json.load(f)
    for column, sizes in want.items():
        assert tuple(fitted[column][k] for k in keys) == sizes
        assert tuple(manifest[column][k] for k in keys) == sizes


def test_data_column_named_label_stays_a_feature(spark, tmp_path):
    """A data column named ``label`` is a feature, not overwritten by the
    target's training label: the tree splits on its parity, so ids 0 and 5
    (label 0 and 1) get different imputations. Trained on the target
    instead, both would fall below its smallest split and match."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    rows = [(i, float(i % 2), None if i % 5 == 0 else float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, label double, y double")
    imp = SparkImputer(df, save_models_to=str(tmp_path / "m"), id_col="id")
    out = imp.fit(
        DecisionTreeClassifier(), DecisionTreeRegressor(maxDepth=2),
        transform=True,
    )["imputed_data"]
    y = {r["id"]: r["y"] for r in out.collect()}
    assert y[0] != y[5]


def test_target_with_no_feature_left_raises(spark, tmp_path):
    """When every other column is a pruned categorical, a target has no
    feature to train on; fit raises a ValueError naming it."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    rows = [(i, "abcd"[i % 4], None if i % 3 == 0 else float(i)) for i in range(12)]
    df = spark.createDataFrame(rows, "id long, k string, y double")
    imp = SparkImputer(
        df, categorical=["k"], class_threshold=3,
        save_models_to=str(tmp_path / "m"), id_col="id",
    )
    with pytest.raises(ValueError, match="column 'y' has no feature column"):
        imp.fit(DecisionTreeClassifier(), DecisionTreeRegressor())


def test_categorical_target_over_class_threshold_raises(territories, tmp_path):
    """A categorical over class_threshold is pruned from the features, but
    as a target it cannot be: fit raises a ValueError naming it."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    # Name has 19 distinct values against class_threshold=14.
    df = territories.withColumn("Name", F.when(F.col("id") > 0, F.col("Name")))
    imp = _imputer(df, tmp_path, features=["km2"])
    with pytest.raises(
        ValueError, match="categorical target 'Name' has more than 14"
    ):
        imp.fit(
            DecisionTreeClassifier(), DecisionTreeRegressor(), parallelism=1
        )


@st.composite
def _mixed_tables(draw):
    """(n, categorical, continuous, rows): 1-3 string categoricals over 2-4
    values (class_threshold 3 prunes the 4-value ones) and 1-3 double
    columns; about a quarter of the cells are missing, as NULL or, in a
    double column, NaN."""
    n = draw(st.integers(6, 16))
    categorical = [f"cat{i}" for i in range(draw(st.integers(1, 3)))]
    continuous = [f"num{i}" for i in range(draw(st.integers(1, 3)))]

    def column(value, missing):
        cell = st.one_of(missing, value, value, value)
        return draw(st.lists(cell, min_size=n, max_size=n))

    cells = {
        c: column(st.sampled_from("abcd"[: draw(st.integers(2, 4))]), st.none())
        for c in categorical
    }
    cells.update({
        c: column(
            st.floats(-100, 100).map(lambda x: round(x, 2)),
            st.sampled_from([None, float("nan")]),
        )
        for c in continuous
    })
    rows = [(i, *[cells[c][i] for c in cells]) for i in range(n)]
    return n, categorical, continuous, rows


def _is_missing(v):
    return v is None or (isinstance(v, float) and math.isnan(v))


def _bits(v):
    """A cell as a comparable key that tells -0.0 from 0.0."""
    return struct.pack(">d", v) if isinstance(v, float) else v


@given(table=_mixed_tables(), seed=st.integers(0, 2**31 - 1))
@settings(
    # Each example fits twice (the seed check); three keep the test under
    # a minute on a 4-core box. derandomize fixes the examples run.
    max_examples=3,
    derandomize=True,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_fit_transform_property_on_mixed_tables(spark, tmp_path, table, seed):
    """On generated mixed tables, fit(transform=True) with a deterministic
    tree pair either raises a ValueError/KeyError naming a column, or
    keeps every id and observed cell, leaves no missing cell in an imputed
    column, and returns the same rows for the same seed."""
    from pyspark.ml.classification import DecisionTreeClassifier
    from pyspark.ml.regression import DecisionTreeRegressor

    n, categorical, continuous, rows = table
    columns = categorical + continuous
    schema = "id long, " + ", ".join(
        f"{c} {'string' if c in categorical else 'double'}" for c in columns
    )
    df = spark.createDataFrame(rows, schema)
    imp = SparkImputer(
        df, categorical=categorical, save_models_to=str(tmp_path / "m"),
        class_threshold=3, id_col="id",
    )

    def imputed():
        out = imp.fit(
            DecisionTreeClassifier(maxDepth=3), DecisionTreeRegressor(maxDepth=3),
            transform=True, random_seed=seed,
        )["imputed_data"]
        return sorted(out.collect(), key=lambda r: r["id"])

    try:
        got = imputed()
    except (ValueError, KeyError) as e:
        assert any(f"'{c}'" in str(e) for c in columns), str(e)
        return
    assert [r["id"] for r in got] == list(range(n))
    for row, out in zip(rows, got):
        for c, v in zip(columns, row[1:]):
            if _is_missing(v):
                assert not _is_missing(out[c])
            else:
                assert _bits(out[c]) == _bits(v)
    assert [list(map(_bits, r)) for r in imputed()] == [
        list(map(_bits, r)) for r in got
    ]


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


def test_select_model_ranks(select_model_run):
    summary, _ = select_model_run
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


def test_select_model_separate_timing(select_model_run):
    """check_separate_fit_transform_time=True exercises the save→transform
    rollout path, the model-size probe (S5), and the CSV checkpoint sink
    (S2)."""
    summary, csv_path = select_model_run
    [row] = [r for r in summary.collect() if "DecisionTree" in r["model"]]
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


def test_find_imputation_variance(dt4_imputed):
    """m identical datasets → zero between-imputation variance; differing
    datasets → positive variance for the differing variable."""
    r1 = dt4_imputed
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

"""SparkImputer — the PySpark-native re-expression of the reference engine's
API surface (SURVEY.md §2.9 C1-C9).

Reference: /root/reference/scikit_learn_imputer/scikit_learn_imputer.py
(SklearnImputer, 584 LoC). For each column with missing values it trains a
supervised model (classifier for categorical, regressor for continuous) to
predict that column from all other columns (ffill/bfill-filled,
cardinality-pruned, one-hot-encoded, min-max-scaled), scores it on a held-out
split of the observed rows, and writes predictions into the missing cells.

Spark-first design decisions (NOT a port):
- Tables are lazy DataFrames with an explicit ``id`` key column — the pandas
  index (reference :38) has no distributed equivalent; all row addressing is
  key equi-joins, and the scatter write-back (reference :272) is
  join+coalesce (operators/update.py).
- Missing values are native SQL NULLs — the reference's ``-1234`` sentinel
  (reference :223) is an implementation artifact that would corrupt data and
  is deliberately NOT replicated (SURVEY.md §7.3 #4).
- The feature matrix is built once per call (``fit``, ``transform`` or
  ``validate``), min-max scaled, and materialized with an eager
  ``localCheckpoint`` — every imputed column reads that one copy (the
  reference copies it per column, :235).
- NaN in a float/double column (pandas' missing marker, so the reference's)
  is read as NULL wherever data enters: the constructor and ``validate``.
- Models are MLlib Pipelines (VectorAssembler + user estimator), persisted
  with MLlib writers + a JSON manifest instead of a joblib pickle
  (reference :297).

Documented divergences from reference behavior:
- ``validate()`` scores against the validation_set's observed values — the
  *intended* semantics. The reference scores against ``self.input_data``
  (reference :389), so its validation_set only contributes a column list.
- ``fit`` uses an exact-fraction deterministic split (operators/split.py)
  seeded like sklearn's but with Spark's rand stream; per-row membership
  differs from sklearn's permutation for the same seed.
- Rounding uses ``F.bround`` (half-to-even) to match ``np.round``
  (reference :251), not Spark's default HALF_UP.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scikit_learn_imputer_spark.functions.stats import (
    avg_rank,
    entropy_by_column,
    imputation_variance_long,
)
from scikit_learn_imputer_spark.operators.encode import (
    label_decode,
    label_encode,
    one_hot,
)
from scikit_learn_imputer_spark.operators.fill import ffill_bfill
from scikit_learn_imputer_spark.operators.missing import (
    missing_indicator,
    missing_metrics,
)
from scikit_learn_imputer_spark.operators.scale import minmax_scale
from scikit_learn_imputer_spark.operators.split import split_exact
from scikit_learn_imputer_spark.operators.update import scatter_update


class SparkImputer:
    """Impute missing values in a DataFrame with mixed types using any MLlib
    classifier and regressor. ``id_col`` is the row key and must be numeric
    and unique (the reference's "index used as the ID", reference :38).

    Parameters mirror the reference constructor (reference :67-107):
    input_data, categorical, save_models_to, round_column, class_threshold,
    features, include_missing_flags — with ``save_models_to`` now a
    directory (MLlib writers), plus the Spark-required ``id_col``.
    """

    def __init__(
        self,
        input_data,
        categorical=None,
        save_models_to="./saved_model_spark",
        round_column=None,
        class_threshold=30,
        features=None,
        include_missing_flags=False,
        id_col="id",
    ):
        round_column = [] if round_column is None else round_column
        features = [] if features is None else features
        categorical = [] if categorical is None else categorical

        # Same parameter validation contract as reference :75-92 (formatted
        # TypeError per mistyped argument).
        checks = [
            ("input_data", input_data, DataFrame),
            ("categorical", categorical, list),
            ("save_models_to", save_models_to, str),
            ("round_column", round_column, list),
            ("class_threshold", class_threshold, int),
            ("features", features, list),
            ("include_missing_flags", include_missing_flags, bool),
        ]
        for parameter, value, expected in checks:
            if not isinstance(value, expected):
                input_type = str(type(value))
                expected_type = str(expected)
                for s in ["class", "<", ">", " ", "'"]:
                    input_type = input_type.replace(s, "")
                    expected_type = expected_type.replace(s, "")
                raise TypeError(
                    f"{parameter} must be {expected_type} not {input_type}"
                )

        not_in_df = [x for x in categorical if x not in input_data.columns]
        if len(not_in_df) != 0:
            raise KeyError(
                f"The following columns are not in data frame: {not_in_df}"
            )

        parent = os.path.dirname(os.path.abspath(save_models_to))
        if not os.path.exists(parent):
            raise OSError(
                "The directory specified in save_models_to does not exist"
            )

        self.input_data = _checked_input(input_data, id_col)
        self.categorical = categorical
        self.save_models_to = save_models_to
        self.round_column = round_column
        self.class_threshold = class_threshold
        self.features = features
        self.include_missing_flags = include_missing_flags
        self.id_col = id_col

    # ------------------------------------------------------------------ C2
    def missing_indicator(self) -> DataFrame:
        """One boolean ``<col>_flag`` per data column (reference :109-115),
        keyed by id instead of positional index."""
        return missing_indicator(self.input_data, keep=[self.id_col])

    # ------------------------------------------------------------------ C3
    def missing_metrics(self) -> DataFrame:
        """(variable, observed, missing, total, imputation_rate) per column
        (reference :117-138) — ONE distributed aggregate pass."""
        return missing_metrics(
            self.input_data, self._data_cols(self.input_data)
        )

    # ------------------------------------------------------------------ C4
    def create_features(self, data: DataFrame | None = None) -> DataFrame:
        """ffill/bfill → cardinality prune → one-hot → optional missing
        flags (reference :140-176) of ``data`` (default: ``input_data``).
        Returns a flat numeric frame keyed by id — flat named columns keep
        it oracle-checkable."""
        data = self.input_data if data is None else data
        cols = [c for c in self.features or data.columns if c != self.id_col]
        categorical = [c for c in self.categorical if c in cols]
        df = data.select(self.id_col, *cols)

        filled = ffill_bfill(df, self.id_col, cols)

        if categorical:
            cards = filled.agg(
                *[F.countDistinct(F.col(c)).alias(c) for c in categorical]
            ).collect()[0]
            too_many = [c for c in categorical if cards[c] > self.class_threshold]
        else:
            too_many = []
        keep_cats = [c for c in categorical if c not in too_many]
        filled = filled.drop(*too_many)

        encoded = one_hot(filled, keep_cats)

        if self.include_missing_flags:
            flags = missing_indicator(data, keep=[self.id_col])
            encoded = encoded.join(flags, on=self.id_col, how="inner")

        # Cast everything (flags included) to double so the assembled vector
        # is homogeneous and the scaler is a plain projection.
        return encoded.select(
            F.col(self.id_col),
            *[F.col(c).cast("double").alias(c) for c in self._data_cols(encoded)],
        )

    def _features(self, data: DataFrame) -> DataFrame:
        """``create_features(data)``, min-max scaled, materialized once."""
        features = self.create_features(data)
        feat_cols = self._data_cols(features)
        # Eager materialization, not a lazy cache(): the per-column fits
        # run CONCURRENTLY from fit's thread pool, and a lazy cache
        # fills per-partition with no cross-thread synchronization — all
        # columns' first jobs recompute the whole ffill/one-hot/scale
        # pipeline before any cache entry lands (the _loader_funnel_base
        # race, measured here as ~3x the feature-pass cost at bench SF).
        # At 100 TB this is the feature-matrix materialization every
        # production imputation run makes anyway; the checkpointed RDD is
        # released by ContextCleaner when the frame goes out of scope.
        return minmax_scale(features, feat_cols).localCheckpoint(eager=True)

    # ------------------------------------------------------------------ C5
    def fit(
        self,
        classification,
        regression,
        transform: bool = False,
        test_size: float = 0.1,
        random_seed: int = 42,
        parallelism: int = 4,
    ) -> dict:
        """Train one model per column with missing values; optionally impute
        in the same pass (reference :178-304).

        ``classification``/``regression`` are MLlib estimators (anything
        with .fit returning a .transform-able model — the same duck-typed
        plug-in surface the reference exposes for sklearn estimators), or
        per-column maps ``{column_name: estimator, "*": default}`` when
        different targets warrant different models (extends the
        reference's one-estimator-for-all-columns surface, :241-245).
        Features are always min-max scaled, the one scaling ``transform``
        and ``validate`` re-apply.

        Per-column models are INDEPENDENT (reference runs them in a
        sequential loop, :216); ``parallelism`` > 1 trains them from a
        driver thread pool so the many small Spark jobs overlap instead of
        serializing on scheduling latency. Results are deterministic:
        imputation updates still apply in column order.
        """
        start_overall = time.time()

        to_impute = self._columns_with_missing()
        features = self._features(self.input_data)
        feat_cols = self._data_cols(features)

        def train(column: str) -> dict:
            start_time = time.time()
            record = self._fit_one(
                column, features, classification, regression, test_size,
                random_seed,
            )
            record["train_time"] = time.time() - start_time
            return record

        if parallelism > 1 and len(to_impute) > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(
                max_workers=min(parallelism, len(to_impute))
            ) as pool:
                futures = {c: pool.submit(train, c) for c in to_impute}
                trained_models = {c: f.result() for c, f in futures.items()}
        else:
            trained_models = {c: train(c) for c in to_impute}

        trained_models["global_scaler"] = {"type": "minmax", "columns": feat_cols}
        if transform:
            trained_models["imputed_data"] = self._impute(
                features, trained_models, to_impute
            )
        else:
            self._save_models(trained_models, to_impute)

        trained_models["overall_time"] = time.time() - start_overall
        return trained_models

    def _fit_one(
        self, column, features, classification, regression, test_size,
        random_seed,
    ) -> dict:
        """Train + hold-out-score the model for one target column."""
        from pyspark.ml import Pipeline
        from pyspark.ml.feature import VectorAssembler

        is_cat = column in self.categorical
        # Leakage prune replicates the reference's SUBSTRING semantics
        # (reference :236 — drops the target, its one-hot/flag derivatives,
        # and any accidental substring match; SURVEY.md P8).
        model_features = [c for c in self._data_cols(features) if column not in c]

        if is_cat:
            # Bounded label collect: features are gated by class_threshold
            # at construction, but the TARGET's label domain is collected
            # here — cap it the same way so a high-cardinality categorical
            # target fails fast instead of OOMing the driver. limit(T+1)
            # bounds both the job output and driver memory; when the
            # distinct count is within the gate, the limit is not reached
            # and the collect is exact.
            cap = self.class_threshold
            distinct = (
                self.input_data.select(column).dropna().distinct()
                .limit(cap + 1).collect()
            )
            if len(distinct) > cap:
                raise ValueError(
                    f"categorical target '{column}' has more than "
                    f"{cap} distinct values (class_threshold); raise "
                    f"class_threshold or drop the column"
                )
            labels = sorted(r[0] for r in distinct)
        else:
            labels = None
        observed = self._labels(self.input_data, column, labels)

        train_keys, test_keys = split_exact(
            observed, test_size, random_seed, self.id_col
        )
        assembler = VectorAssembler(
            inputCols=model_features, outputCol="__vec", handleInvalid="keep"
        )
        spec = classification if is_cat else regression
        est = _resolve_estimator(spec, column).copy()
        est = est.setFeaturesCol("__vec").setLabelCol("label")
        if est.hasParam("seed"):
            est = est.setSeed(random_seed)
        # MLP usability: layers depend on the per-column feature count and
        # label arity, which only exist here — derive them when the caller
        # left ``layers`` unset (reference pair 'mlp', tests.py:225).
        if (
            is_cat
            and type(est).__name__ == "MultilayerPerceptronClassifier"
            and not est.isSet(est.layers)
        ):
            est.setLayers(
                [len(model_features), max(4, 2 * len(labels)), len(labels)]
            )

        train = train_keys.join(features, on=self.id_col, how="inner")
        pipeline_model = Pipeline(stages=[assembler, est]).fit(train)

        start_test = time.time()
        preds = self._predict(
            column, pipeline_model, model_features, test_keys, features
        )
        model_performance = _score(preds, is_cat)
        test_time = time.time() - start_test

        return {
            "trained_model": pipeline_model,
            "model_features": model_features,
            "label_encoder": labels,
            "test_time": test_time,
            "model_performance": model_performance,
        }

    def _labels(self, data: DataFrame, column: str, labels) -> DataFrame:
        """(id, label) for the observed cells of ``column``: the code in
        ``labels`` for a categorical target, else the value as a double."""
        observed = data.select(
            F.col(self.id_col), F.col(column).alias("__target")
        ).filter(F.col("__target").isNotNull())
        if labels is None:
            return observed.select(
                self.id_col, F.col("__target").cast("double").alias("label")
            )
        encoded, _ = label_encode(
            observed, "__target", labels=labels, out_col="label"
        )
        return encoded.select(self.id_col, "label")

    def _predict(
        self, column, model, model_features, keys: DataFrame,
        features: DataFrame,
    ) -> DataFrame:
        """``keys`` plus the model's ``prediction`` for each key, rounded
        half-to-even (np.round, reference :251) for round columns. The
        features are re-projected to exactly the model's saved feature list
        (reference :339-340, SURVEY.md P10)."""
        rows = keys.join(
            features.select(self.id_col, *model_features),
            on=self.id_col, how="inner",
        )
        pred = F.col("prediction")
        if column in self.round_column:
            pred = F.bround(pred)
        return model.transform(rows).select(
            *keys.columns, pred.alias("prediction")
        )

    def _impute(self, features: DataFrame, records: dict, columns) -> DataFrame:
        """Predict the NULL cells of each column and scatter-update them
        into the input, in column order (reference :261-272); sets each
        record's ``impute_time``."""
        dtypes = dict(self.input_data.dtypes)
        imputed = self.input_data
        for column in columns:
            start = time.time()
            record = records[column]
            missing_keys = self.input_data.filter(
                F.col(column).isNull()
            ).select(self.id_col)
            preds = self._predict(
                column, record["trained_model"], record["model_features"],
                missing_keys, features,
            )
            if record["label_encoder"] is not None:
                preds = label_decode(
                    preds, "prediction", record["label_encoder"]
                )
            updates = preds.select(
                F.col(self.id_col),
                F.col("prediction").cast(dtypes[column]).alias(column),
            )
            imputed = scatter_update(imputed, updates, self.id_col, column)
            record["impute_time"] = time.time() - start
        return imputed

    def _save_models(self, trained_models: dict, columns: list[str]) -> None:
        """MLlib writers + JSON manifest replace the joblib pickle
        (reference :297 / SURVEY.md S3)."""
        os.makedirs(self.save_models_to, exist_ok=True)
        manifest: dict = {
            "columns": columns,
            "global_scaler": trained_models["global_scaler"],
        }
        for column in columns:
            record = trained_models[column]
            model_dir = os.path.join(self.save_models_to, f"model_{column}")
            record["trained_model"].write().overwrite().save(model_dir)
            manifest[column] = {
                "model_features": record["model_features"],
                "label_encoder": record["label_encoder"],
                "model_performance": record["model_performance"],
                "train_time": record.get("train_time"),
                "test_time": record.get("test_time"),
                "model_dir": model_dir,
            }
        with open(os.path.join(self.save_models_to, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2)

    def _load_models(self, data: DataFrame) -> dict:
        """The saved records of the columns ``data`` has, in saved order."""
        from pyspark.ml import PipelineModel

        with open(os.path.join(self.save_models_to, "manifest.json")) as f:
            manifest = json.load(f)
        out = {}
        for column in manifest["columns"]:
            if column in data.columns:
                rec = dict(manifest[column])
                rec["trained_model"] = PipelineModel.load(rec["model_dir"])
                out[column] = rec
        return out

    # ------------------------------------------------------------------ C6
    def transform(self) -> dict:
        """Impute using saved models (reference :306-360). Replicates the
        reference's observable quirk of RE-FITTING the scaler on the current
        data (reference :323 — the persisted scaler's ranges are never
        reused), which here is simply scaling against current min/max."""
        start_overall = time.time()
        records = self._load_models(self.input_data)
        features = self._features(self.input_data)
        imputed = self._impute(features, records, list(records))
        return {
            "imputed_data": imputed,
            "impute_times": {c: r["impute_time"] for c, r in records.items()},
            "overall_time": time.time() - start_overall,
        }

    # ------------------------------------------------------------------ C7
    def multiple_impute(
        self,
        classification,
        regression,
        m: int = 5,
        base_seed: int = 42,
        **fit_kwargs,
    ) -> dict[str, DataFrame]:
        """The readme's multiple-imputation workflow (readme.md:18-23) as
        one call: m independent imputations with varied seeds (split and
        estimator randomness both derive from the seed), returned keyed
        ``imp_0..imp_{m-1}`` — feed directly to find_imputation_variance
        for the Rubin's-rule B term."""
        out: dict[str, DataFrame] = {}
        for i in range(m):
            res = self.fit(
                classification,
                regression,
                transform=True,
                random_seed=base_seed + i,
                **fit_kwargs,
            )
            out[f"imp_{i}"] = res["imputed_data"]
        return out

    def validate(self, validation_set: DataFrame) -> dict:
        """Score saved models against a validation set's OBSERVED values.

        Intended semantics of reference :362-425. Divergence (documented in
        the module docstring): the reference takes targets from
        self.input_data (:389), making validation_set decorative; here the
        validation_set provides both features and targets.
        """
        start_overall = time.time()
        validation_set = _checked_input(validation_set, self.id_col)
        records = self._load_models(validation_set)
        features = self._features(validation_set)

        output = {}
        for column, record in records.items():
            start = time.time()
            labels = self._labels(
                validation_set, column, record["label_encoder"]
            )
            preds = self._predict(
                column, record["trained_model"], record["model_features"],
                labels, features,
            )
            output[column] = {
                "model_performance": _score(preds, column in self.categorical),
                "test_time": time.time() - start,
            }
        return {"overall_time": time.time() - start_overall, "tests": output}

    # ------------------------------------------------------------------ C8
    def select_model(self, options: list[dict], path: str | None = None) -> DataFrame:
        """Simulation-study harness over candidate model pairs
        (reference :427-553): measure fit/transform/fit_transform wall time,
        model size, per-column mse/accuracy; rank every metric
        (pandas-average-rank semantics) and sum the performance ranks."""
        spark = self.input_data.sparkSession
        to_impute = self._columns_with_missing()
        mse_cols = [f"{c}_mse" for c in to_impute if c not in self.categorical]
        acc_cols = [f"{c}_accuracy" for c in to_impute if c in self.categorical]

        rows = []
        for option in options:
            model_name = str(
                {
                    "classification": _est_name(option["classification"]),
                    "regression": _est_name(option["regression"]),
                }
            )
            fit_time = transform_time = model_size = None
            if option.get("check_separate_fit_transform_time"):
                fitted = self.fit(
                    classification=option["classification"],
                    regression=option["regression"],
                )
                fit_time = fitted["overall_time"]
                transformed = self.transform()
                transform_time = transformed["overall_time"]
                model_size = _dir_size(self.save_models_to)

            ft = self.fit(
                classification=option["classification"],
                regression=option["regression"],
                transform=True,
            )
            row = {
                "model": model_name,
                "fit_function_time": fit_time,
                "user_rollout_time_transform": transform_time,
                "user_rollout_time_fit_transform": ft["overall_time"],
                "model_size": float(model_size) if model_size else None,
            }
            for c in to_impute:
                perf = ft[c]["model_performance"]
                if c in self.categorical:
                    row[f"{c}_accuracy"] = perf["accuracy"]
                else:
                    row[f"{c}_mse"] = perf["mse"]
            rows.append(row)

            if path is not None:
                _rows_to_df(spark, rows, mse_cols, acc_cols).toPandas().to_csv(
                    path, index=False
                )

        summary = _rows_to_df(spark, rows, mse_cols, acc_cols)
        summary = summary.withColumn(
            "time_saved_by_saved_model",
            F.col("user_rollout_time_fit_transform")
            - F.col("user_rollout_time_transform"),
        )
        for c in [
            "fit_function_time",
            "user_rollout_time_transform",
            "user_rollout_time_fit_transform",
        ] + mse_cols + ["model_size"]:
            summary = avg_rank(summary, c, ascending=True)
        for c in acc_cols:
            summary = avg_rank(summary, c, ascending=False)
        rank_cols = [f"{c}_rank" for c in mse_cols + acc_cols]
        total = None
        for c in rank_cols:
            term = F.coalesce(F.col(c), F.lit(0.0))
            total = term if total is None else total + term
        summary = summary.withColumn(
            "sum_of_performance_ranks", total if total is not None else F.lit(0.0)
        )
        if path is not None:
            summary.toPandas().to_csv(path, index=False)
        return summary

    # ------------------------------------------------------------------ util
    def _data_cols(self, data: DataFrame) -> list[str]:
        return [c for c in data.columns if c != self.id_col]

    def _columns_with_missing(self) -> list[str]:
        """The columns to impute, in data order. Each needs two observed
        cells, one to train on and one to score on; the counts come from
        the same collect that lists the columns."""
        info = self.missing_metrics().filter(F.col("missing") > 0).collect()
        for r in info:
            if r["observed"] < 2:
                raise ValueError(
                    f"column '{r['variable']}' has {r['observed']} observed "
                    f"value(s); imputing it needs at least 2"
                )
        return [r["variable"] for r in info]


def _checked_input(data: DataFrame, id_col: str) -> DataFrame:
    """``data`` with NaN read as NULL in its float/double columns — NaN is
    pandas' missing marker, and MLlib rejects it in a feature vector. A
    lazy projection; frames without such columns pass through."""
    if id_col not in data.columns:
        raise KeyError(f"id_col '{id_col}' is not in data frame")
    floats = [c for c, t in data.dtypes if t in ("float", "double")]
    return data.withColumns({c: F.when(~F.isnan(c), F.col(c)) for c in floats})


def _score(preds: DataFrame, is_cat: bool) -> dict:
    """Accuracy (categorical) or mse of ``prediction`` against ``label``."""
    if is_cat:
        hit = (F.col("prediction") == F.col("label")).cast("double")
        return {"accuracy": preds.agg(F.avg(hit)).collect()[0][0]}
    err = F.pow(F.col("prediction") - F.col("label"), 2)
    return {"mse": preds.agg(F.avg(err)).collect()[0][0]}


def _resolve_estimator(spec, column: str):
    """An estimator, or a per-column map ``{column: est, "*": default}``.

    The map form generalizes the reference's single classifier/regressor
    pair (reference :241-245) without changing the plug-in duck typing."""
    if isinstance(spec, dict):
        if column in spec:
            return spec[column]
        if "*" in spec:
            return spec["*"]
        raise KeyError(
            f"no estimator mapped for column '{column}' and no '*' default"
        )
    return spec


def _est_name(spec) -> str:
    if isinstance(spec, dict):
        return str({k: type(v).__name__ for k, v in spec.items()})
    return type(spec).__name__


def _dir_size(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _rows_to_df(spark, rows: list[dict], mse_cols, acc_cols) -> DataFrame:
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    fields = [StructField("model", StringType(), True)] + [
        StructField(name, DoubleType(), True)
        for name in [
            "fit_function_time",
            "user_rollout_time_transform",
            "user_rollout_time_fit_transform",
        ]
        + mse_cols
        + acc_cols
        + ["model_size"]
    ]
    schema = StructType(fields)
    data = [
        tuple(r.get(f.name) for f in fields) for r in rows
    ]
    return spark.createDataFrame(data, schema)


# ---------------------------------------------------------------------- C9
def find_imputation_variance(
    dictionary_of_data_frames: dict[str, DataFrame],
    categorical: list[str],
    id_col: str = "id",
) -> DataFrame:
    """Between-imputation variance across m imputed datasets — the B term of
    Rubin's rule T = U + (1 + 1/m)B (reference :556-583, readme.md:18-23).

    Continuous variables contribute their per-dataset MEAN, categoricals
    their per-dataset Shannon ENTROPY; the output is the SAMPLE variance of
    those statistics per variable: (variable, imputation_variance).

    Spark shape: per-dataset stats are tiny one-row/short aggregates unioned
    long-form, then one groupBy — the reference's side-by-side concat (J4)
    is unnecessary.
    """
    from functools import reduce

    parts = []
    for name, df in dictionary_of_data_frames.items():
        cols = [c for c in df.columns if c != id_col]
        continuous = [c for c in cols if c not in categorical]
        if continuous:
            agg = df.agg(
                *[F.avg(F.col(c).cast("double")).alias(c) for c in continuous]
            )
            structs = [
                F.struct(F.lit(c).alias("variable"), F.col(c).alias("value"))
                for c in continuous
            ]
            parts.append(
                agg.select(F.explode(F.array(*structs)).alias("s")).select(
                    F.lit(name).alias("dataset"), "s.variable", "s.value"
                )
            )
        cats = [c for c in cols if c in categorical]
        if cats:
            ent = entropy_by_column(df, cats)
            parts.append(
                ent.select(
                    F.lit(name).alias("dataset"),
                    "variable",
                    F.col("entropy").alias("value"),
                )
            )
    long = reduce(DataFrame.unionByName, parts)
    return imputation_variance_long(long)

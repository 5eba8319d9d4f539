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
  index (reference :38) has no distributed equivalent, so ids must be unique
  and non-NULL. The only join is the scatter write-back (reference :272):
  ONE join+coalesce on the id for all imputed columns (operators/update.py).
- Missing values are native SQL NULLs — the reference's ``-1234`` sentinel
  (reference :223) is an implementation artifact that would corrupt data and
  is deliberately NOT replicated (SURVEY.md §7.3 #4).
- A categorical's domain is one bounded collect (``distinct_values``,
  capped at class_threshold) from the raw frame per feature pass: it gates
  the column, gives ``one_hot`` its values and is the label list ``fit``
  encodes it with as a target. Filling only copies observed values, so the
  one-hot (:165) and LabelEncoder (:227-228) domains are the same.
- The feature matrix is built once per call (``fit``, ``transform`` or
  ``validate``), min-max scaled, and materialized with an eager
  ``localCheckpoint`` — every imputed column reads that one copy (the
  reference copies it per column, :235). It carries each target's raw
  column, so a target's train, test and impute rows are filters of it.
- NaN in a float/double column (pandas' missing marker, so the reference's)
  is read as NULL wherever data enters: the constructor and ``validate``.
- A target's record holds the estimator's own fitted model and its
  ``model_features`` (reference :297, :339-340); the feature vector is
  assembled from that one list whenever the model is trained or applied.
  The model is saved with its own MLlib writer and the records as a JSON
  manifest instead of a joblib pickle.

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
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from scikit_learn_imputer_spark.functions.stats import (
    avg_rank,
    entropy_by_column,
    imputation_variance_long,
)
from scikit_learn_imputer_spark.operators.encode import (
    distinct_values,
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
from scikit_learn_imputer_spark.operators.split import holdout_size, split_exact
from scikit_learn_imputer_spark.operators.update import scatter_update

_RAW = "__raw__"  # prefix of the raw target columns the feature frame carries
# The model's output columns. User columns may not start with "__" (see
# _checked_input), so no data column can collide with these.
_PRED, _RAW_PRED, _PROB = "__prediction", "__rawPrediction", "__probability"


class SparkImputer:
    """Impute missing values in a DataFrame with mixed types using any MLlib
    classifier and regressor. ``id_col`` is the row key and must be numeric,
    unique and non-NULL (the reference's "index used as the ID", :38).

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
        it oracle-checkable. Raw target columns (``_features``) pass
        through unfilled and uncast."""
        data = self.input_data if data is None else data
        raw = [c for c in data.columns if c.startswith(_RAW)]
        cols = [c for c in self.features or self._data_cols(data) if c != self.id_col]
        categorical = [c for c in self.categorical if c in cols]
        keep = [self.id_col, *cols, *raw]
        df = data.select(*keep)
        if self.include_missing_flags:  # taken before the fill, never filled
            df = missing_indicator(data, self._data_cols(data), keep=keep)
        flags = df.columns[len(keep):]

        # One bounded collect per categorical feature or carried target,
        # None when over class_threshold; fit reads its label lists here.
        self._domains = {}
        for c in self.categorical:
            if c in cols or _RAW + c in raw:
                try:
                    self._domains[c] = distinct_values(data, c, self.class_threshold)
                except ValueError:
                    self._domains[c] = None
        kept = {c: self._domains[c] for c in categorical if self._domains[c]}
        filled = ffill_bfill(df, self.id_col, cols).drop(
            *[c for c in categorical if c not in kept]
        )
        encoded = one_hot(filled, list(kept), values=kept)

        # Cast everything (flags included) to double so the assembled vector
        # is homogeneous and the scaler is a plain projection.
        feats = [c for c in self._data_cols(encoded) if c not in flags] + flags
        return encoded.select(
            F.col(self.id_col),
            *[F.col(c).cast("double").alias(c) for c in feats],
            *raw,
        )

    def _features(self, data: DataFrame, targets: list[str]) -> DataFrame:
        """``create_features(data)`` carrying each target's raw column
        (``__raw__<col>``), min-max scaled, materialized once; first, one
        aggregate checks that the ids are unique and non-NULL."""
        ids = F.col(self.id_col)
        rows, n_ids, distinct = data.agg(
            F.count("*"), F.count(ids), F.count_distinct(ids)
        ).first()
        if not rows == n_ids == distinct:
            raise ValueError(
                f"id_col '{self.id_col}' must be unique and non-NULL: {rows} "
                f"rows, {rows - n_ids} NULL and {n_ids - distinct} duplicate ids"
            )
        features = self.create_features(
            data.withColumns({_RAW + c: F.col(c) for c in targets})
        )
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
        sequential loop, :216); they train from a driver thread pool of up
        to ``parallelism`` (≥ 1) threads so the many small Spark jobs
        overlap instead of serializing on scheduling latency. Results are
        deterministic: imputation updates still apply in column order.

        Results depend on the input's partition layout only up to float
        summation order. MLlib's Logistic and Linear fits sum over the
        training rows in partition order, so the same table in another
        layout can move their continuous cells by about 1e-8 relative, and
        a categorical cell only where two classes tie within that;
        DecisionTree models give the same imputations.
        """
        if parallelism < 1:
            raise ValueError(f"parallelism must be at least 1, got {parallelism}")
        start_overall = time.time()

        observed = self._columns_with_missing()
        for column, (n, _) in observed.items():
            # split_exact takes ⌈n·test_size⌉ test rows; both sides need one.
            if not (0 < test_size < 1 and 0 < holdout_size(n, test_size) < n):
                raise ValueError(
                    f"column '{column}' has {n} observed value(s); "
                    f"test_size={test_size} must leave at least 1 of them to "
                    f"train on and 1 to score on"
                )
        to_impute = list(observed)
        features = self._features(self.input_data, to_impute)
        feat_cols = self._data_cols(features)
        domains = self._domains

        def train(column: str) -> dict:
            start_time = time.time()
            record = self._fit_one(
                column, features, domains, classification, regression,
                test_size, random_seed,
            )
            record["train_time"] = time.time() - start_time
            n, missing = observed[column]
            k = holdout_size(n, test_size)
            record.update(n_train=n - k, n_test=k, n_imputed=missing)
            return record

        # The pool threads carry the caller's local properties (job group,
        # description, scheduler pool), so cancelling the caller's group
        # cancels the fits too.
        target = inheritable_thread_target(features.sparkSession)(train)
        with ThreadPoolExecutor(
            max_workers=max(1, min(parallelism, len(to_impute)))
        ) as pool:
            futures = {c: pool.submit(target, c) for c in to_impute}
            trained_models = {c: f.result() for c, f in futures.items()}

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
        self, column, features, domains, classification, regression,
        test_size, random_seed,
    ) -> dict:
        """Train + hold-out-score the model for one target column; a
        categorical target's labels are its feature-pass domain."""
        is_cat = column in self.categorical
        # Leakage prune replicates the reference's SUBSTRING semantics
        # (reference :236 — drops the target, its one-hot/flag derivatives,
        # and any accidental substring match; SURVEY.md P8).
        model_features = [c for c in self._data_cols(features) if column not in c]
        if not model_features:
            raise ValueError(
                f"column '{column}' has no feature column left to predict it from"
            )

        labels = domains.get(column)
        if is_cat and labels is None:  # over class_threshold: not prunable
            raise ValueError(
                f"categorical target '{column}' has more than "
                f"{self.class_threshold} distinct values (class_threshold); "
                f"raise class_threshold or drop the column"
            )
        train, test = split_exact(
            self._labels(features, column, labels), test_size, random_seed,
            self.id_col,
        )
        spec = classification if is_cat else regression
        est = _resolve_estimator(spec, column).copy()
        est = _reserve_outputs(est.setFeaturesCol("__vec").setLabelCol("__label"))
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

        model = est.fit(_assemble(train, model_features))

        start_test = time.time()
        model_performance = _score(
            self._predict(column, model, model_features, test), is_cat
        )
        test_time = time.time() - start_test

        return {
            "trained_model": model,
            "model_features": model_features,
            "label_encoder": labels,
            "test_time": test_time,
            "model_performance": model_performance,
        }

    def _labels(self, features: DataFrame, column: str, labels) -> DataFrame:
        """The rows of ``features`` where ``column`` is observed, with its
        ``__label``: the code in ``labels`` for a categorical target, else the
        value as a double."""
        raw = _RAW + column
        rows = features.filter(F.col(raw).isNotNull())
        if labels is None:
            return rows.withColumn("__label", F.col(raw).cast("double"))
        return label_encode(rows, raw, labels=labels, out_col="__label")[0]

    def _predict(self, column, model, features, rows: DataFrame) -> DataFrame:
        """``rows`` with the model's prediction (``__prediction``) from
        exactly its ``features`` (reference :339-340, SURVEY.md P10),
        rounded half-to-even (np.round, reference :251) for round columns.
        A feature ``rows`` lacks raises a ``ValueError`` naming it (the
        reference's ``X[model_features]`` raises a KeyError)."""
        missing = [c for c in features if c not in rows.columns]
        if missing:
            raise ValueError(
                f"the model for column '{column}' needs feature columns the "
                f"data does not have: {missing}"
            )
        pred = F.col(_PRED)
        if column in self.round_column:
            pred = F.bround(pred)
        return model.transform(_assemble(rows, features)).withColumn(_PRED, pred)

    def _impute(self, features: DataFrame, records: dict, columns) -> DataFrame:
        """Predict each column on its own NULL rows (reference :261-272),
        then scatter-update all of them with ONE join; sets each record's
        ``impute_time``."""
        dtypes = dict(self.input_data.dtypes)
        preds = []
        for column in columns:
            start = time.time()
            record = records[column]
            pred = self._predict(
                column, record["trained_model"], record["model_features"],
                features.filter(F.col(_RAW + column).isNull()),
            )
            if record["label_encoder"] is not None:
                pred = label_decode(pred, _PRED, record["label_encoder"])
            preds.append(pred.select(
                self.id_col, F.col(_PRED).cast(dtypes[column]).alias(column)
            ))
            record["impute_time"] = time.time() - start
        if not preds:
            return self.input_data
        # One row per id, holding the predictions of the columns it misses.
        updates = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), preds
        ).groupBy(self.id_col).agg(
            *[F.first(c, ignorenulls=True).alias(c) for c in columns]
        )
        return scatter_update(self.input_data, updates, self.id_col, columns)

    def _save_models(self, trained_models: dict, columns: list[str]) -> None:
        """Each model's own MLlib writer + a JSON manifest of the records
        replace the joblib pickle (reference :297 / SURVEY.md S3)."""
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
                **{k: record.get(k) for k in ("n_train", "n_test", "n_imputed")},
                "model_dir": model_dir,
            }
        with open(os.path.join(self.save_models_to, "manifest.json"), "w") as f:
            json.dump(manifest, f, indent=2)

    def _load_models(self, data: DataFrame) -> dict:
        """The saved records of the columns ``data`` has, in saved order.
        ``loadParamsInstance`` reads each model's class from its saved
        metadata, so MLlib and this package's Python models load alike.
        The outputs are pointed at the reserved columns again, because a
        saved OneVsRestModel forgets its ``rawPredictionCol``."""
        from pyspark.ml.util import DefaultParamsReader

        spark = data.sparkSession
        with open(os.path.join(self.save_models_to, "manifest.json")) as f:
            manifest = json.load(f)
        out = {}
        for column in manifest["columns"]:
            if column in data.columns:
                rec = dict(manifest[column])
                rec["trained_model"] = _reserve_outputs(
                    DefaultParamsReader.loadParamsInstance(rec["model_dir"], spark)
                )
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
        features = self._features(self.input_data, list(records))
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
        features = self._features(validation_set, list(records))

        output = {}
        for column, record in records.items():
            start = time.time()
            preds = self._predict(
                column, record["trained_model"], record["model_features"],
                self._labels(features, column, record["label_encoder"]),
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
        return [
            c for c in data.columns if c != self.id_col and not c.startswith(_RAW)
        ]

    def _columns_with_missing(self) -> dict[str, tuple[int, int]]:
        """The columns to impute, in data order, each with its numbers of
        observed and missing cells (``fit`` sizes its split from these)."""
        info = self.missing_metrics().filter(F.col("missing") > 0).collect()
        return {r["variable"]: (r["observed"], r["missing"]) for r in info}


def _checked_input(data: DataFrame, id_col: str) -> DataFrame:
    """``data`` with NaN read as NULL in its float/double columns — NaN is
    pandas' missing marker, and MLlib rejects it in a feature vector. A
    lazy projection; frames without such columns pass through. Names
    starting with ``__`` are reserved for the imputer's own columns."""
    if id_col not in data.columns:
        raise KeyError(f"id_col '{id_col}' is not in data frame")
    reserved = [c for c in data.columns if c.startswith("__")]
    if reserved:
        raise ValueError(
            f"column names starting with '__' are reserved for the imputer: "
            f"{reserved}"
        )
    floats = [c for c, t in data.dtypes if t in ("float", "double")]
    return data.withColumns({c: F.when(~F.isnan(c), F.col(c)) for c in floats})


def _assemble(rows: DataFrame, features: list[str]) -> DataFrame:
    """``rows`` with ``features`` assembled into the models' input vector
    ``__vec``; a NULL cell becomes NaN (``handleInvalid="keep"``)."""
    from pyspark.ml.feature import VectorAssembler

    return VectorAssembler(
        inputCols=features, outputCol="__vec", handleInvalid="keep"
    ).transform(rows)


def _score(preds: DataFrame, is_cat: bool) -> dict:
    """Accuracy (categorical) or mse of ``__prediction`` against ``__label``."""
    if is_cat:
        hit = (F.col(_PRED) == F.col("__label")).cast("double")
        return {"accuracy": preds.agg(F.avg(hit)).collect()[0][0]}
    err = F.pow(F.col(_PRED) - F.col("__label"), 2)
    return {"mse": preds.agg(F.avg(err)).collect()[0][0]}


def _reserve_outputs(est):
    """``est`` writing its model's outputs to the reserved ``__`` columns,
    so no data column can collide with them. A OneVsRest's classifier is
    pointed there too: OneVsRest reads its sub-models' raw column under its
    own ``rawPredictionCol``."""
    for param, name in (
        ("predictionCol", _PRED),
        ("rawPredictionCol", _RAW_PRED),
        ("probabilityCol", _PROB),
    ):
        if est.hasParam(param):
            est.set(est.getParam(param), name)
    if est.hasParam("classifier") and est.isDefined("classifier"):
        _reserve_outputs(est.getOrDefault("classifier"))
    return est


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

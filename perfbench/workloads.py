"""Workload definitions: the inputs, one timed op each, and the output
checks.

A workload is a class with three methods the worker calls:

- ``load(spark)`` generates the inputs from the seed, or reads the fixed
  corpus, and materialises them (the repeatable half of set-up);
- ``op(spark, i, tracer=None, keep=False)`` runs one op and returns its
  observation (row count, NULL count, digest), collected in the sink pass
  itself, so the per-op check costs no extra Spark job. With ``keep`` the
  sink collects the output rows instead of writing them to the noop sink;
  the worker does this for the first, untimed op of a run;
- ``check()`` compares the kept output with the generated truth (``impute_tall``) or with the DuckDB oracle (registry slice) and returns
  ``(ok, quality, problems)``. Every timed op's digest must equal the kept
  op's, so the check covers the timed outputs too.

Missing cells are SQL NULLs, the engine's documented marker. NaN cells and
duplicate ids are known defects of the imputer and are not generated here.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- impute


class ImputeWorkload:
    """A generated mixed table imputed by ``SparkImputer``.

    Every column is a noisy view of a 3-dimensional latent vector, so each
    target is predictable from the others. Continuous columns are linear in
    the latent plus noise; categorical columns are the arg-max of a random
    linear score plus Gumbel noise over ``levels`` labels. ``missing`` of
    the cells of each target column are NULL; the other columns are
    complete.
    """

    levels = 4
    missing = 0.10

    def __init__(self, seed, work_dir, rows, n_cat, n_cont, cat_targets,
                 cont_targets):
        self.seed = seed
        self.work_dir = work_dir
        self.rows = rows
        self.cats = [f"k{j}" for j in range(n_cat)]
        self.conts = [f"x{j}" for j in range(n_cont)]
        self.targets = self.cats[:cat_targets] + self.conts[:cont_targets]
        self.truth = None
        self.mask = None
        self.df = None
        self.loads = 0

    # The generator is pure numpy: same seed, same table.
    def _generate(self):
        rng = np.random.default_rng(self.seed)
        n = self.rows
        z = rng.standard_normal((n, 3))
        cols = {"id": np.arange(n, dtype=np.int64)}
        for c in self.cats:
            w = rng.standard_normal((3, self.levels)) * 2.0
            g = rng.gumbel(size=(n, self.levels))
            code = np.argmax(z @ w + g, axis=1)
            cols[c] = np.array([f"{c}_{v}" for v in range(self.levels)])[code]
        for c in self.conts:
            a = rng.standard_normal(3)
            cols[c] = z @ a + 0.3 * rng.standard_normal(n) + rng.normal(0, 5)
        truth = cols
        mask = {t: rng.random(n) < self.missing for t in self.targets}
        return truth, mask

    def load(self, spark):
        truth, mask = self._generate()
        self.truth, self.mask = truth, mask
        arrays, names = [], []
        for c, v in truth.items():
            m = mask.get(c)
            arrays.append(pa.array(v, mask=m))
            names.append(c)
        # A fresh file per load: a repeated load must not hit the cache
        # entry of the previous one, whose plan reads the same path.
        self.loads += 1
        path = os.path.join(self.work_dir, f"input_{self.loads}.parquet")
        pq.write_table(pa.Table.from_arrays(arrays, names=names), path)
        if self.df is not None:
            self.df.unpersist()
        self.df = spark.read.parquet(path).cache()
        self.df.count()

    def op(self, spark, i, tracer=None, keep=False):
        from pyspark.ml.classification import LogisticRegression
        from pyspark.ml.regression import LinearRegression

        from scikit_learn_imputer_spark import SparkImputer

        models = os.path.join(self.work_dir, f"models_{i}")
        imp = SparkImputer(self.df, categorical=list(self.cats),
                           save_models_to=models, id_col="id")
        imp.fit(LogisticRegression(maxIter=20), LinearRegression(maxIter=20))
        out = imp.transform()["imputed_data"]
        with _span(tracer, "sink"):
            obs, rows = sink(out, self.targets, keep)
        shutil.rmtree(models, ignore_errors=True)
        if keep:
            self.kept = pd.DataFrame(rows, columns=out.columns)
        return obs

    def check(self):
        """The kept op's output against the generated truth: row count
        kept, observed cells unchanged, no NULL left; and the imputation
        quality on the masked cells."""
        pdf = self.kept.sort_values("id").reset_index(drop=True)
        problems = []
        if len(pdf) != self.rows:
            problems.append(f"rows {len(pdf)} != {self.rows}")
            return False, {}, problems
        if not np.array_equal(pdf["id"].to_numpy(), self.truth["id"]):
            problems.append("ids changed")
            return False, {}, problems
        accs, nrmses = [], []
        for c, true in self.truth.items():
            got = pdf[c].to_numpy()
            m = self.mask.get(c, np.zeros(self.rows, bool))
            if pdf[c].isna().any():
                problems.append(f"{c}: NULL left")
                continue
            if c in self.cats or c == "id":
                if not np.array_equal(got[~m], true[~m]):
                    problems.append(f"{c}: observed cells changed")
                if m.any():
                    accs.append(float(np.mean(got[m] == true[m])))
            else:
                got = got.astype(float)
                if not np.array_equal(got[~m], true[~m]):
                    problems.append(f"{c}: observed cells changed")
                if m.any():
                    rmse = math.sqrt(float(np.mean((got[m] - true[m]) ** 2)))
                    nrmses.append(rmse / float(np.std(true[m])))
        # Floors that only a broken imputer misses: better than guessing
        # uniformly among the labels, better than imputing the mean.
        quality = {}
        if accs:
            acc = quality["quality.impute_acc"] = float(np.mean(accs))
            if acc <= 1.0 / self.levels:
                problems.append(f"accuracy {acc:.3f}")
        if nrmses:
            nrmse = quality["quality.impute_nrmse"] = float(np.mean(nrmses))
            if nrmse >= 1.0:
                problems.append(f"nrmse {nrmse:.3f}")
        return not problems, quality, problems


def sink(df, null_cols, keep=False):
    """Force ``df`` and collect, in the same pass, its row count, the NULL
    count over ``null_cols`` and an order-free digest of every row.

    The write goes to Spark's noop sink; with ``keep`` the rows are
    collected instead, for the output check. Returns ``(observation,
    rows or None)``."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    nulls = sum(
        (F.col(c).isNull().cast("long") for c in null_cols), F.lit(0)
    )
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(nulls).alias("nulls"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("digest"),
    )
    rows = None
    if keep:
        rows = observed.collect()
    else:
        observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    return {"rows": got["rows"], "nulls": got["nulls"] or 0,
            "digest": got["digest"]}, rows


# ---------------------------------------------------------------- registry

# A fixed order. Between them the entries run functions/{lm,text,pii,stats,
# retrieval,bpe,skew}, dedup/{exact,ngram,minhash,embedding}, streaming
# ingest (operators/tokenized with streaming/sinks). README.md says which
# entries of the first plan are left out, and why.
SLICE = [
    "corpus_preprocess_pipeline",
    "bm25_topk",
    "decontam_method_agreement",
    "minhash_calibration",
    "stream_tokenized_ingest",
    "semdedup_exact",
]

# The engine's documents/embeddings test tables at sf0.01 (500 documents,
# 500 vectors), copied unchanged: the entries' thresholds were tuned on them.
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                    "sf0.01")
TABLES = ("documents", "embeddings")


class RegistryWorkload:
    """Registered, oracled registry entries over the engine's test corpus,
    each forced through a noop sink exactly as registered. The corpus is
    fixed, so the seed does not change it."""

    def __init__(self, seed, work_dir):
        self.seed = seed
        self.work_dir = work_dir
        self.sf_dir = DATA
        self.kept = {}

    def load(self, spark):
        # Materialise: the first read of each table lists, opens and
        # decodes the files once, as every later op will.
        for t in TABLES:
            spark.read.parquet(os.path.join(self.sf_dir, f"{t}.parquet")).count()

    def op(self, spark, i, tracer=None, keep=False):
        from scikit_learn_imputer_spark.plans.queries import QUERIES

        obs = {}
        for name in SLICE:
            with _span(tracer, f"q.{name}"):
                df = QUERIES[name](spark, self.sf_dir)
                with _span(tracer, "sink"):
                    obs[name], rows = sink(df, [], keep)
            if keep:
                self.kept[name] = (rows, df.columns)
        rows = sum(o["rows"] for o in obs.values())
        digest = 0
        for o in obs.values():
            digest ^= o["digest"] or 0
        return {"rows": rows, "nulls": 0, "digest": digest}

    def check(self):
        """Each entry's kept output against its DuckDB oracle: the same
        order-free, column-sorted, 9-place float compare as the engine's
        oracle gate."""
        import duckdb

        from scikit_learn_imputer_spark.plans.queries import ORACLE

        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        problems = []
        for name in SLICE:
            rows, columns = self.kept[name]
            got = _norm([tuple(r) for r in rows], columns)
            res = con.execute(ORACLE[name])
            want = _norm(res.fetchall(), [d[0] for d in res.description])
            if not _same(got, want):
                problems.append(f"{name}: {len(got)} rows vs oracle {len(want)}")
        con.close()
        return not problems, {}, problems


def _span(tracer, name):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def f(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else round(v, 9)
        return v

    return sorted(
        (tuple(f(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


def _same(a, b):
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif x != y:
                return False
    return True


# ---------------------------------------------------------------- catalogue

def make(name, seed, work_dir):
    """The workload named ``name``, with its inputs drawn from ``seed``."""
    if name == "impute_tall":
        return ImputeWorkload(seed, work_dir, rows=10_000, n_cat=2, n_cont=4,
                              cat_targets=1, cont_targets=1)
    if name == "registry_slice":
        return RegistryWorkload(seed, work_dir)
    raise KeyError(name)


WORKLOADS = ("impute_tall", "registry_slice")

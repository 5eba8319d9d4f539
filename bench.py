#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Protocol: one unrecorded warm-up, then every entry in sorted name order,
run twice back to back; the faster reading is the entry's seconds. A run
builds the entry and forces it end to end with a noop-format write under
a job group of its own (no driver collect of data-sized results).
BENCH_FULL.json holds every run's seconds and jobs
($SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the suite and writes
$SPARK_GRAFT_BENCH_OUT instead). ``tools/qtime.py`` times single entries
through the same ``bench_session``, ``ENTRIES`` and ``run_entry``.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import tempfile
import time

from pyspark.sql import functions as F

from scikit_learn_imputer_spark.dedup.cluster import (
    cluster_survivors,
    connected_components,
)
from scikit_learn_imputer_spark.dedup.embedding import embedding_near_pairs
from scikit_learn_imputer_spark.dedup.ngram import ngram_jaccard_pairs
from scikit_learn_imputer_spark.graph import pagerank, pagerank_snapped
from scikit_learn_imputer_spark.plans.queries import ANCHORS, ORACLE, QUERIES
from scikit_learn_imputer_spark.similarity.ivf import (
    build_ivf_index,
    cosine_topk_ivf,
    load_ivf_index,
    save_ivf_index,
)
from scikit_learn_imputer_spark.sources.tables import load_table

REPS = 2
# The driver captures only the last ~2000 bytes of stdout and parses the
# JSON line out of that window; a line longer than the window parses as
# null (this bit round 2: 106 queries ~= 3.1 KB).
BUDGET = 1900
# One job group per run, so its job count is its own.
_RUN_IDS = itertools.count()

# ann_ivf_topk: the KMeans index BUILD is a once-per-corpus cost that
# at scale is amortized across every query; timing it inside the search
# query masks search-path regressions. The bench reports the phases as
# separate entries: ann_ivf_build (index construction, materialized),
# ann_ivf_index_save (persistence) and the two probes. Sorted name order
# runs them in that dependency order; the probes read the built index
# from this module's state.
_IVF: dict[str, object] = {}


def _ivf_state(key: str, entry: str, *steps: str):
    if key not in _IVF:
        raise RuntimeError(
            f"{entry} needs {' and '.join(steps)} to run first in this session"
        )
    return _IVF[key]


def _ivf_build(s, d):
    # PURE index construction (KMeans fit + assignment); the on-disk
    # persistence is its own ann_ivf_index_save entry so build-vs-save
    # accounting stays comparable round over round.
    emb = load_table(s, d, "embeddings")
    assigned, centroids = build_ivf_index(
        emb, nlist=8, max_iter=3, init_mode="random", build_partitions=4
    )
    _IVF["assigned"], _IVF["centroids"] = assigned, centroids
    return assigned


def _ivf_index_save(s, d):
    # Persist for the ann_ivf_persisted_topk entry: save timed here
    # (once-per-corpus cost), probe-from-disk timed there. A per-run dir:
    # two concurrent bench invocations must not share an index path.
    assigned = _ivf_state("assigned", "ann_ivf_index_save", "ann_ivf_build")
    path = _IVF.get("path") or tempfile.mkdtemp(prefix="sli_bench_ivf_") + "/index"
    save_ivf_index(assigned, _IVF["centroids"], path)
    _IVF["path"] = path
    return load_table(s, d, "nation").select("n_nationkey").limit(1)


def _ivf_probe(assigned, centroids, s, d):
    emb = load_table(s, d, "embeddings")
    out = cosine_topk_ivf(
        assigned, centroids, emb.filter(F.col("vec_id") < 5), k=10, nprobe=8
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round(F.col("cosine"), 6).alias("cosine"),
        "rank",
    )


def _ivf_persisted_probe(s, d):
    path = _ivf_state(
        "path", "ann_ivf_persisted_topk", "ann_ivf_build", "ann_ivf_index_save"
    )
    return _ivf_probe(*load_ivf_index(s, path), s, d)


def _ivf_search(s, d):
    assigned = _ivf_state("assigned", "ann_ivf_topk", "ann_ivf_build")
    return _ivf_probe(assigned, _IVF["centroids"], s, d)


# ngram_jaccard at bench SF uses the documented stop-gram guard: the
# exact config is for the sf0.01 oracle gate; the pair join over a
# shared-vocabulary corpus is quadratic without it (see dedup/ngram.py).
def _guarded_edges(s, d):
    return ngram_jaccard_pairs(
        load_table(s, d, "documents"), n=3, threshold=0.82, max_df=200
    ).select("id_a", "id_b")


def _clusters_guarded(s, d):
    labels = connected_components(_guarded_edges(s, d), src="id_a", dst="id_b")
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").cast("bigint").alias("cluster_id"),
    )


def _survivors_guarded(s, d):
    labels = connected_components(_guarded_edges(s, d), src="id_a", dst="id_b")
    losers = labels.filter(F.col("label") != F.col("id")).select(
        F.col("id").alias("doc_id")
    )
    return (
        load_table(s, d, "documents")
        .join(F.broadcast(losers), on="doc_id", how="left_anti")
        .select("doc_id")
    )


def _best_survivors_guarded(s, d):
    labels = connected_components(_guarded_edges(s, d), src="id_a", dst="id_b")
    return (
        cluster_survivors(load_table(s, d, "documents"), labels, keep="quality")
        .select("doc_id")
    )


def _pagerank_guarded(s, d):
    pairs = _guarded_edges(s, d)
    edges = pairs.unionAll(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    ranks = pagerank(edges, src="id_a", dst="id_b", iters=8)
    return ranks.select(
        F.col("id").alias("doc_id"), F.round("rank", 9).alias("rank")
    )


def _method_agreement_guarded(s, d):
    # lexical side carries the same documented stop-gram guard as the
    # other gram-family entries; the semantic exact join is bench-sized
    lex = _guarded_edges(s, d).select(
        "id_a", "id_b", F.lit(1).alias("l"), F.lit(0).alias("s")
    )
    sem = embedding_near_pairs(
        load_table(s, d, "embeddings"), threshold=0.42
    ).select("id_a", "id_b", F.lit(0).alias("l"), F.lit(1).alias("s"))
    u = (
        lex.unionAll(sem)
        .groupBy("id_a", "id_b")
        .agg(F.max("l").alias("l"), F.max("s").alias("s"))
    )
    both = F.sum(F.col("l") * F.col("s"))
    denom = F.sum("l") + F.sum("s") - both
    return u.agg(
        F.sum("l").cast("bigint").alias("n_lexical"),
        F.sum("s").cast("bigint").alias("n_semantic"),
        both.cast("bigint").alias("n_both"),
        (F.sum("l") - both).cast("bigint").alias("n_lexical_only"),
        (F.sum("s") - both).cast("bigint").alias("n_semantic_only"),
        F.round(
            both.cast("double") / F.when(denom > 0, denom.cast("double")), 6
        ).alias("pair_jaccard"),
    )


def _pagerank_snapped_guarded(s, d):
    pairs = _guarded_edges(s, d)
    edges = pairs.unionAll(
        pairs.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    ranks = pagerank_snapped(edges, src="id_a", dst="id_b", iters=8)
    return ranks.select(F.col("id").alias("doc_id"), "rank_micro")


overrides = {
    "near_dup_pagerank": _pagerank_guarded,
    "near_dup_pagerank_snapped": _pagerank_snapped_guarded,
    "dedup_method_agreement": _method_agreement_guarded,
    "ngram_jaccard_pairs": lambda s, d: ngram_jaccard_pairs(
        load_table(s, d, "documents"), n=3, threshold=0.82, max_df=200
    ).select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")),
    "near_dup_clusters": _clusters_guarded,
    "near_dup_survivors": _survivors_guarded,
    "near_dup_best_survivors": _best_survivors_guarded,
    "ann_ivf_build": _ivf_build,
    "ann_ivf_index_save": _ivf_index_save,
    "ann_ivf_topk": _ivf_search,
    "ann_ivf_persisted_topk": _ivf_persisted_probe,
}

#: Every bench entry, in the order the suite runs them: the registry
#: plus the bench-only overrides (a stale override key shows up here as
#: an entry the registry does not have).
ENTRIES = dict(sorted({**QUERIES, **overrides}.items()))


def warm_up(spark, sf_dir: str) -> None:
    """Unrecorded warm-up: JVM/codegen/parquet-footer/noop-writer spin-up
    would otherwise land on the first entry timed. One throwaway
    scan+agg+write absorbs it, and a tiny MLlib fit and dynamic
    partitioned write compile those paths; it measures nothing."""
    try:
        warm = (
            load_table(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag")
            .agg(F.sum("l_quantity").alias("s"))
        )
        t0 = time.time()
        warm.write.format("noop").mode("overwrite").save()
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        tiny = (
            load_table(spark, sf_dir, "embeddings")
            .limit(64)
            .select("vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("__vec"))
        )
        KMeans(k=2, seed=1, featuresCol="__vec", maxIter=1, initMode="random").fit(tiny)
        (
            load_table(spark, sf_dir, "nation")
            .withColumn("cell", F.col("n_regionkey"))
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet("/tmp/sli_bench_warm_pwrite")
        )
        print(f"bench: warmup {round(time.time() - t0, 3)}s (unrecorded)", file=sys.stderr)
    except Exception as exc:
        print(f"bench: warmup FAILED: {exc}", file=sys.stderr)


def run_entry(spark, fn, sf_dir: str, group: str) -> tuple[float, int]:
    """Build ``fn(spark, sf_dir)`` and run it through the noop sink under
    job group ``group``, which must be new to the session. Returns
    (seconds, jobs in the group). Output rows are not counted: a
    ``DataFrame.observe`` with an ``Observation`` makes the session
    unserializable, and later entries whose closures capture it fail."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        seconds = time.time() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return seconds, len(sc.statusTracker().getJobIdsForGroup(group))


def time_entry(spark, name: str, sf_dir: str, reps: int = REPS) -> dict:
    """Run entry ``name`` ``reps`` times back to back; its record holds
    the fastest reading and every run's seconds and jobs."""
    runs = [
        run_entry(spark, ENTRIES[name], sf_dir, f"bench:{name}:{next(_RUN_IDS)}")
        for _ in range(reps)
    ]
    samples = [round(r[0], 3) for r in runs]
    return {
        "min": min(samples),
        "samples": samples,
        "jobs": [r[1] for r in runs],
    }


def stdout_line(full: dict) -> str:
    """The one-line result: ``full`` (the BENCH_FULL.json record) without
    its per-run detail. If the registry has grown past BUDGET bytes, drop
    the fastest entries and mark how many were dropped (the file always
    has everything). Failed entries carry -1.0 and are never dropped, so
    trimming cannot hide a failure."""
    timings = full["queries"]
    shown = {k: round(v, 2) for k, v in timings.items()}
    payload = {k: full[k] for k in ("metric", "value", "unit", "sf")}
    payload["queries"] = shown
    fastest_last = sorted(
        (k for k in shown if shown[k] >= 0), key=lambda k: (-shown[k], k)
    )
    while True:
        out = json.dumps(payload, separators=(",", ":"), sort_keys=True)
        if len(out) <= BUDGET or not fastest_last:
            return out
        shown.pop(fastest_last.pop())
        payload.update(queries_omitted=len(timings) - len(shown), full="BENCH_FULL.json")


def bench_session(app: str):
    """The session every bench run times in, built from the environment
    and warmed up. Returns (spark, sf_dir)."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # The 2026-08-14 testdata regeneration made the documents corpus far
    # denser in shared character 3-grams (377 distinct grams, mean df
    # ~1.9k at sf0.1), so the EXACT gram-join baselines now stream ~2.2B
    # intermediate rows through one aggregate. At 1g driver heap the 32
    # concurrent partial-agg spills OOM the JVM mid-suite; 4g fits with
    # headroom. Correctness/test sessions keep session.py's 1g default.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    from scikit_learn_imputer_spark.session import get_spark

    # Shuffle partition count defaults to the core count — right for the
    # sf0.1 suite — but must scale with DATA for scale-proof runs: at
    # sf10 a 32-way shuffle makes ~600 MB reduce partitions that spill,
    # reading as a fake super-linear exponent (a config artifact, not a
    # plan property; on a real cluster partitions are sized to the data,
    # which is exactly what this knob does).
    shuffle = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
    spark = get_spark(app, master=f"local[{cpus}]", shuffle_partitions=shuffle)
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)
    return spark, sf_dir


def main() -> None:
    # Every registered query must be driver-visible (oracled) or carry a
    # named in-repo anchor test — a query can't land unchecked by accident.
    unanchored = set(QUERIES) - set(ORACLE) - set(ANCHORS)
    assert not unanchored, f"queries with no oracle and no anchor: {sorted(unanchored)}"
    spark, sf_dir = bench_session("sli-spark-bench")

    names = list(ENTRIES)
    # SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the suite (scale-proof runs
    # bench a 20-query subset at sf1); unknown names fail loudly.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        want = {n.strip() for n in only.split(",") if n.strip()}
        unknown = sorted(want - set(names))
        assert not unknown, f"SPARK_GRAFT_BENCH_ONLY unknown: {unknown}"
        names = [n for n in names if n in want]

    timings: dict[str, float] = {}
    runs: dict[str, dict] = {}
    for name in names:
        try:
            rec = time_entry(spark, name, sf_dir)
        except Exception as exc:  # record failures, keep benching
            timings[name] = -1.0
            runs[name] = {"error": repr(exc)[:300]}
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            continue
        timings[name] = rec.pop("min")
        runs[name] = rec
        print(f"bench: {name} {timings[name]}s", file=sys.stderr)

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    out_name = "BENCH_FULL.json" if not only else (
        os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_SUBSET.json")
    )
    full = {
        "metric": "suite_seconds",
        "value": round(sum(v for v in timings.values() if v >= 0), 3),
        "unit": "sec",
        "queries": timings,
        "runs": runs,
        "sf": sf_val,
    }
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, out_name), "w") as fh:
            json.dump(full, fh, indent=1, sort_keys=True)
    except OSError:
        pass
    print(stdout_line(full))


if __name__ == "__main__":
    main()

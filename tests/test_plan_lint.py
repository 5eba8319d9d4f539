"""Plan lint: scale-hazard operators must not appear in any registered
query's physical plan unless the query intentionally uses them.

Guards against regressions that pass the value-correctness oracle but
would fall over at 100 TB: an accidental cartesian product, or a
nested-loop join materializing where an equi join was intended.
"""

from __future__ import annotations

import pytest

from scikit_learn_imputer_spark.plans.queries import QUERIES

# Queries where a broadcast nested-loop/cross join is the DESIGN, with the
# non-broadcast side bounded: a handful of ANN query vectors, a one-row
# scalar-threshold frame, or the documented exact pair-join baselines whose
# sub-quadratic scale paths exist separately.
INTENDED_NON_EQUI = {
    "cosine_topk",            # broadcast |Q|=5 query vectors
    "cosine_topk_int8",       # same broadcast |Q|=5, quantized codes
    "q22_idle_rich_customers",  # broadcast 1-row scalar threshold
    "minmax_scale",           # broadcast 1-row global min/max frame
    "create_features",        # ditto (scaling stage)
    "scatter_update_mean",    # broadcast 1-row mean-fill frame
    "embedding_near_pairs",   # exact baseline; BRP-LSH is the scale path
    "semdedup_exact",         # same exact all-pairs baseline (semdedup_clustered
                              # is the per-cell equi-join scale path)
    "ngram_jaccard_pairs",    # exact baseline; MinHash-LSH is the scale path
    "imputation_variance",    # broadcast 1-row fill-scalar frame
    "tfidf_top_terms",        # broadcast 1-row corpus-size frame
    "q11_important_parts",    # broadcast 1-row total-value threshold
    "ewma_daily_revenue",     # broadcast 120-row lag-offset table
    "zscore_scale",           # broadcast 1-row mean/sd frame
    "fuzzy_name_pairs",       # broadcast 25-row dim self-pair join
    "winsorize_acctbal",      # broadcast 1-row percentile frame
    "corpus_preprocess_pipeline",  # broadcast 1-row lm-score threshold
    "decontaminate_bloom_corpus",  # broadcast 1-row bloom-bitmap frame
    "temperature_mixture_sample",  # broadcast 1-row normalizer frame
    "vocab_coverage",              # broadcast 1-row corpus-total frame
    "mixture_epoch_plan",          # broadcast 1-row budget/normalizer frame
    "mixture_epoch_plan_bpe",      # same 1-row budget broadcast, BPE-counted
    "lm_score_deciles",            # broadcast 1-row decile-threshold frame
    "dsir_importance_weights",     # broadcast 1-row gram-totals frame
    "dsir_resample",               # same 1-row totals broadcast (scoring stage)
    "dsir_selection_drift",        # same, plus a 1-row corpus-total broadcast
    "doremi_domain_weights",       # two 1-row broadcast normalizer frames
                                   # over the O(#domains) per-source table
    "doremi_epoch_plan",           # same LM pass + a 1-row budget broadcast
    "training_epoch_ledger",       # 1-row budget broadcast + 20-row
                                   # partial-threshold broadcast join
    "vocab_drift",                 # 1-row stats x 1-row divergence frame
    "gram_df_spectrum",            # 1-row pair-work total broadcast
    "dedup_method_agreement",      # inherits embedding_near_pairs' exact
                                   # all-pairs baseline (LSH is the scale path)
    "semdedup_threshold_curve",    # exact pair-join baseline (same as
                                   # embedding_near_pairs/semdedup_exact)
    "semantic_decontam",           # cosine-threshold join IS the design:
                                   # bounded eval side broadcast, train
                                   # streams map-side (linear in corpus)
    "semantic_decontam_eval",      # same, with the bound structural —
                                   # an explicit 16-row benchmark frame
    "shuffle_dispersion",          # two 1-row aggregate scalars meet on a
                                   # constant-folded key (minmax_scale
                                   # precedent; 1 row x 1 row)
    "pack_shuffle_dispersion",     # same 1-row scalar meet, doc-level
                                   # dispersion over the shuffled pack
    "mixture_shuffled_pack_audit", # inherits temperature_mixture_sample's
                                   # 1-row normalizer broadcast (sample
                                   # stage reused verbatim)
    "bm25_topk",                   # broadcast 1-row (N, avgdl) corpus-stats
                                   # frame (tfidf_top_terms precedent)
    "bm25_source_relevance",       # same 1-row stats frame + a 1-row
                                   # top-decile threshold broadcast
                                   # (winsorize_acctbal precedent)
    "bm25_persisted_topk",         # same 1-row stats frame, read back
                                   # from the persisted index
    "bm25_incremental_topk",       # same 1-row stats frame, folded from
                                   # the index's summable delta files
    "bm25_takedown_topk",          # same 1-row stats frame, after the
                                   # negative takedown deltas fold in
    "bm25_compacted_topk",         # same 1-row stats frame, after the
                                   # physical purge
    "retrieval_weighted_mixture",  # same 1-row stats frame + a 1-row
                                   # weight-normalizer broadcast
                                   # (temperature_mixture_sample precedent)
    "stream_bm25_index_topk",      # same 1-row stats frame, folded from
                                   # the stream-appended delta files
    "bm25_multi_query",            # same 1-row stats frame, fanned per
                                   # broadcast (query_id, term) map
    "ann_ivf_balance",             # broadcast O(nlist)=8-row centroid
                                   # frame per Lloyd round (stable-codegen
                                   # join replacing per-round literals)
    "quality_model_holdout",       # broadcast 1-row best-stump frame
                                   # (engine-exact snapped twin, r13)
}

HEAVY_BUILD = {
    "spark_imputer_e2e",    # fit() executes ML jobs at build time
    "imputer_output_audit",  # wraps the e2e (same build-time fit; its own
                             # agg adds the e2e's intended 1-row broadcasts)
}


@pytest.mark.parametrize("name", sorted(set(QUERIES) - HEAVY_BUILD))
def test_no_unintended_cartesian_or_nested_loop(plan_of, name):
    plan = plan_of(name)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if name not in INTENDED_NON_EQUI:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: unintended nested-loop join"
        )


@pytest.mark.parametrize(
    "name,fragment",
    [
        # Selective predicates must reach the parquet scan, not sit above a
        # full-table read.
        ("q6_forecast_revenue", "PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_discount), LessThan(l_quantity"),
        ("q14_promo_revenue", "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
        ("q10_returned_items", "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)"),
        ("q12_late_shipment_priority", "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
    ],
)
def test_selective_predicates_reach_the_scan(plan_of, name, fragment):
    plan = plan_of(name)
    assert fragment in plan, f"{name}: predicate not pushed to scan"


def test_no_buildtime_collects_in_query_registry():
    """VERDICT r1 #6: query construction must not run Spark jobs — scalars
    stay in-plan (one-row broadcast frames). Static scan of the registry
    source for .collect()/.count() calls; operator LIBRARY modules may
    collect only under documented O(buckets)/O(labels) contracts (those
    live outside plans/queries.py and are covered by their own tests)."""
    import inspect

    import scikit_learn_imputer_spark.plans.queries as q

    src = inspect.getsource(q)
    offenders = [
        (i + 1, line.strip())
        for i, line in enumerate(src.splitlines())
        if (".collect()" in line or ".count()" in line)
        and not line.strip().startswith("#")
    ]
    assert offenders == [], f"build-time Spark actions in registry: {offenders}"


# Queries where a Window over an Exchange SinglePartition IS the design
# because the windowed frame is BOUNDED — bucket/band metadata (offsets
# frames of the banded two-pass: O(256) md5 buckets or O(#bands)), or
# O(domain) report frames (days, years, nations, columns, shards,
# sources, budgets) — never token- or document-sized data (VERDICT r11
# #3). Every entry documents its bound; a new query that ranks a
# data-sized frame through an unpartitioned window fails the lint until
# it is either banded (operators/fill.py:ffill_bfill / operators/shuffle.py:71 /
# functions/stats.py:avg_rank band_width) or justified here.
INTENDED_GLOBAL_WINDOW = {
    "avg_rank_suppliers",        # banded two-pass: offsets over O(#balance-bands)
    "corpus_training_manifest",  # shard manifest rank: O(#shards) metadata
    "daily_revenue_ma7",         # O(#days) time-bucket frame
    "dataloader_assignment",     # O(#shards) manifest + O(256) shuffle offsets
    "entropy_by_column",         # O(#columns x #values) report frame
    "epoch_seed_independence",   # O(256) seeded-shuffle bucket offsets x2 seeds
    "epoch_source_fairness",     # O(256) bucket offsets + O(#sources x #epochs)
    "funnel_budget_sweep",       # O(#sources) rate frame + 1-row stage aggs
    "loader_resume_state",       # O(256) bucket offsets + O(#shards) manifest
    "mixture_shuffled_pack_audit",  # O(256) offsets + O(#sources) mixture frame
    "pack_mixing_histogram",     # O(256) seeded-shuffle bucket offsets
    "pack_shuffle_dispersion",   # O(256) offsets + 1-row dispersion scalars
    "pack_shuffled_sequences",   # O(256) seeded-shuffle bucket offsets
    "revenue_share_by_nation",   # O(#nations) report frame
    "shard_source_mix",          # O(256) offsets + O(#shards x #sources)
    "shuffle_dispersion",        # O(256) offsets + 1-row scalars
    "shuffle_sequences",         # O(256) seeded-shuffle bucket offsets
    "shuffled_cu_seqlens",       # O(256) offsets; cu_seqlens per-sequence local
    "shuffled_loader_resume",    # O(256) offsets + O(#shards) manifest
    "shuffled_repack_delta",     # O(256) offsets x2 (before/after repack)
    "shuffled_sequence_doc_spans",  # O(256) seeded-shuffle bucket offsets
    "shuffled_tokenized_sequences",  # O(256) seeded-shuffle bucket offsets
    "training_loader_funnel",    # O(#sources) rate frame + 1-row stage aggs
    "training_shards",           # O(256) offsets + O(#shards) manifest
    "vocab_coverage",            # banded two-pass: offsets over O(#freq-bands)
    "yoy_revenue_growth",        # O(#years) time-bucket frame
    # exact_rank_quantiles (stats.py): band-offset windows over the
    # O(#bands) bucket-metadata frame of the distributed exact-rank
    # selection (VERDICT r12 #1 — replaced the single-task
    # sort_array(collect_list) buffer). The per-value cumulative window
    # is partitioned by band; only the O(#bands) offsets cumulate
    # globally (avg_rank_suppliers / vocab_coverage precedent).
    "winsorize_acctbal",         # offsets over O(110) acctbal bands
    "corpus_preprocess_pipeline",  # offsets over O(#lm-score-bands)
    "lm_score_deciles",          # offsets over O(#lm-score-bands)
    "bm25_source_relevance",     # offsets over O(#score-bands)
    "quality_model_holdout",     # offsets over O(#feature-bands) x6
    # ffill_bfill (fill.py): carry-in/carry-back windows over the
    # one-row-per-bucket first/last aggregate; the fill windows themselves
    # are partitioned by bucket.
    "ffill_bfill",       # carries over O(defaultParallelism) fill buckets
    "create_features",   # carries over O(defaultParallelism) fill buckets
}


def _unpartitioned_window_count(plan: str) -> int:
    """Window (or WindowGroupLimit) physical nodes whose input exchange
    is SinglePartition — the shape that serializes a data-sized frame
    through one task. Bounded-metadata windows match too; they are
    whitelisted above with their bound."""
    import re as _re

    lines = plan.splitlines()
    n = 0
    for i, ln in enumerate(lines):
        if _re.search(r"\bWindow(GroupLimit)? ", ln):
            for j in range(i + 1, min(i + 4, len(lines))):
                if "Exchange SinglePartition" in lines[j]:
                    n += 1
                    break
                if _re.search(r"\bExchange hashpartitioning", lines[j]):
                    break
    return n


# Queries where a GLOBAL (keys=[]) collect_list/collect_set aggregate IS
# the design because the collected frame is BOUNDED metadata — O(256)
# bloom words, O(#shards) manifests, O(#bands) offsets — never corpus
# rows. VERDICT r12 #1: a global collect over a data-sized input
# materializes the corpus in ONE task (the exact-quantile buffer this
# round removed); any new query that trips this lint must either reduce
# to a (value, count) / banded selection (stats.py:exact_rank_quantiles)
# or document its bound here.
INTENDED_GLOBAL_COLLECT = {
    "decontaminate_bloom_corpus",  # O(m/64)=O(256) bloom bitmap words
    "decontam_method_agreement",   # same bounded bloom-bitmap collect
    # exact_rank_quantiles small-domain fast path (stats.py, VERDICT
    # r13 #1): the collected frame is the (value, count) aggregate of a
    # DECLARED-bounded fixed-precision domain — never corpus rows — and
    # a raise_error guard fails the job loudly past the declared bound.
    "winsorize_acctbal",  # 2-dp balances on [-999.99, 9999.99] ≤ 1.1M
    "lm_score_deciles",   # 6-dp mean-log-prob lattice, guarded at 4M
}


@pytest.mark.parametrize("name", sorted(set(QUERIES) - HEAVY_BUILD))
def test_no_global_collect_over_unbounded_frame(plan_of, name):
    """No registered query may buffer its input through a global
    ``agg(collect_list/collect_set(...))`` (keys=[]) — the single-task
    OOM shape at 100 TB — unless the collected frame is whitelisted as
    bounded metadata."""
    import re as _re

    plan = plan_of(name)
    hits = [
        ln.strip()[:160]
        for ln in plan.splitlines()
        if _re.search(r"Aggregate.*keys=\[\],.*collect_(list|set)", ln)
    ]
    if name not in INTENDED_GLOBAL_COLLECT:
        assert hits == [], (
            f"{name}: global collect_list/set over a frame not whitelisted "
            f"as bounded — reduce to a (value,count)/banded selection "
            f"(stats.py:exact_rank_quantiles) or document the bound in "
            f"INTENDED_GLOBAL_COLLECT: {hits}"
        )


@pytest.mark.parametrize("name", sorted(set(QUERIES) - HEAVY_BUILD))
def test_no_unpartitioned_window_over_unbounded_frame(plan_of, name):
    plan = plan_of(name)
    k = _unpartitioned_window_count(plan)
    if name not in INTENDED_GLOBAL_WINDOW:
        assert k == 0, (
            f"{name}: {k} unpartitioned window(s) over a frame not "
            f"whitelisted as bounded — band it (fill.py:ffill_bfill / "
            f"shuffle.py:71 / stats.py:avg_rank band_width) or document "
            f"its bound in INTENDED_GLOBAL_WINDOW"
        )

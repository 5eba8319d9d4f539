"""The sf-sweep oracle scaffolds must be EXACT rewrites: the chunked
per-word-bucket BPE encode (tools/sf_oracle_sweep.py) has to reproduce
the in-query recursive encode bit-for-bit, else the sweep would compare
Spark against a different oracle than the driver does."""

from __future__ import annotations

import duckdb
import pytest


@pytest.mark.parametrize("name", ["training_loader_funnel",
                                  "funnel_budget_sweep"])
def test_chunked_bpe_oracle_equals_unchunked(sf_smoke, name):
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from sf_oracle_sweep import _build_ewids, _chunked_bpe_rewrite

    from scikit_learn_imputer_spark.plans.queries import ORACLE

    con = duckdb.connect()
    for t in ("documents",):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_smoke}/{t}.parquet')"
        )
    plain = con.execute(ORACLE[name]).fetchall()
    _build_ewids(con, sf_smoke, n_buckets=4)
    chunked = con.execute(_chunked_bpe_rewrite(ORACLE[name])).fetchall()
    assert chunked == plain


def test_chunked_rewrite_fails_loudly_on_drift():
    """If the registered oracle no longer embeds the exact
    _bpe_encode_ctes() expansion, the rewrite must refuse (silently
    running the un-rewritten OOM form would be worse)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from sf_oracle_sweep import _chunked_bpe_rewrite

    with pytest.raises(AssertionError, match="drifted"):
        _chunked_bpe_rewrite("SELECT 1")


def test_same_rejects_column_count_drift():
    """r13 review: a trailing extra column on one side must never
    compare as MATCH (zip truncates silently)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from sf_oracle_sweep import _same

    assert _same([(1, 2)], [(1, 2)])
    assert not _same([(1, 2)], [(1, 2, 3)])
    assert not _same([(1, 2, 3)], [(1, 2)])


def test_changed_since_closure_taints_through_helpers(tmp_path):
    """VERDICT r13 #4: the delta-sweep must follow the helper closure —
    a change to the exact-rank quantile selection (functions/stats.py)
    taints the stratified sampler (operators/split.py) and through it
    every funnel/sampler query, even though none of their plan
    functions changed directly. Probed on a clean clone of HEAD (empty
    diff -> no queries, whatever the checkout's uncommitted edits) and
    against a synthetic taint seeded at exact_rank_quantiles."""
    import sys
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    sys.path.insert(0, str(root / "tools"))
    import sf_oracle_sweep as S

    # Empty diff: nothing tainted. A fresh clone has no working-tree
    # edits, so its diff against HEAD is empty by construction.
    import subprocess

    clone = tmp_path / "clone"
    subprocess.run(
        ["git", "clone", "-q", str(root), str(clone)],
        check=True, capture_output=True, timeout=120,
    )
    assert S.changed_queries(str(clone), "HEAD") == set()

    # Seed the closure directly (monkeypatch-free: replicate the tail of
    # changed_queries over a forced seed) — the helper chain must reach
    # the sampler-derived queries.
    import ast
    import os
    import re

    pkg = os.path.join(str(root), "scikit_learn_imputer_spark")
    symbols = {}
    for dirpath, _dirs, files in os.walk(pkg):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            src = open(path).read()
            lines = src.splitlines()
            for node in ast.parse(src).body:
                if isinstance(
                    node,
                    (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
                ):
                    seg = "\n".join(lines[node.lineno - 1 : node.end_lineno])
                    symbols[node.name] = symbols.get(node.name, "") + seg
    tainted = {"exact_rank_quantiles"}
    changed = True
    while changed:
        changed = False
        for name, seg in symbols.items():
            if name in tainted:
                continue
            if any(re.search(rf"\b{re.escape(t)}\b", seg) for t in tainted):
                tainted.add(name)
                changed = True
    assert "stratified_quality_sample" in tainted
    import __spark_entry__ as entry

    hit = {
        q
        for q, fn in entry.queries().items()
        if any(
            re.search(rf"\b{re.escape(t)}\b", symbols.get(fn.__name__, ""))
            for t in tainted
        )
    }
    for q in (
        "winsorize_acctbal",
        "lm_score_deciles",
        "stratified_quality_sample",
        "training_loader_funnel",
        "funnel_budget_sweep",
        "quality_model_holdout",
    ):
        assert q in hit, q


def test_scale_bench_heap_rule_refuses_unscaled_superlinear():
    """VERDICT r13 #7: an exponent > 1.0 is only reportable when the
    upper row ran under a corpus-scaled heap (>= 1.6 GB x sf, the
    16g-at-sf10 control config); at default heap the tool must refuse
    the label (needs_heap_control, exponent None) — the r13 control
    proved such readings are single-JVM GC artifacts."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
    from scale_bench import add_exponents, exponent_status

    assert exponent_status(0.9, 10.0, "4g") == "ok"
    assert exponent_status(1.2, 10.0, "4g") == "needs_heap_control"
    assert (
        exponent_status(1.2, 10.0, "16g")
        == "superlinear_confirmed_scaled_heap"
    )
    assert exponent_status(None, 10.0, "16g") == "failed"
    doc = {"rows": [], "exponents": []}
    lo = {"sf": 1.0, "heap": "4g", "partitions": 32,
          "queries": {"q": 10.0}}
    hi = {"sf": 10.0, "heap": "4g", "partitions": 32,
          "queries": {"q": 152.0}}  # exponent ~1.18
    add_exponents(doc, lo, hi)
    row = doc["exponents"][0]["per_query"]["q"]
    assert row["exponent"] is None
    assert row["status"] == "needs_heap_control"
    assert row["unlabeled_raw"] > 1.0
    hi16 = dict(hi, heap="16g")
    add_exponents(doc, lo, hi16)
    row16 = [
        e for e in doc["exponents"] if e["heap"] == "16g"
    ][0]["per_query"]["q"]
    assert row16["exponent"] is not None
    assert row16["status"] == "superlinear_confirmed_scaled_heap"

"""Unit tests for dedup and similarity-search operators on constructed
corpora with known duplicate structure."""

import pytest
from pyspark.sql import functions as F

from scikit_learn_imputer_spark.dedup.exact import exact_dedup, exact_dup_groups
from scikit_learn_imputer_spark.dedup.minhash import minhash_candidate_pairs
from scikit_learn_imputer_spark.dedup.ngram import ngram_jaccard_pairs
from scikit_learn_imputer_spark.dedup.simhash import simhash_near_pairs
from scikit_learn_imputer_spark.dedup.embedding import embedding_near_pairs
from scikit_learn_imputer_spark.similarity.knn import cosine_topk, cosine_topk_lsh


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, "The  Quick brown fox jumps over the lazy dog again and again today"),  # normalized dup
        (4, base.replace("lazy", "sleepy")),  # near dup
        (5, "completely different content about spark query engines and shuffles"),
        (6, "yet another unrelated document mentioning parquet and catalyst"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(spark):
    df = _docs(spark)
    groups = exact_dup_groups(df)
    dup = {r["keep_id"]: r["dup_count"] for r in groups.collect()}
    assert dup[1] == 3  # docs 1, 2, 3 share a normalized fingerprint
    kept = sorted(r["doc_id"] for r in exact_dedup(df).collect())
    assert kept == [1, 4, 5, 6]


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 4) in pairs and 0.5 <= pairs[(1, 4)] < 1.0
    assert (1, 5) not in pairs


def test_ngram_max_df_prunes(spark):
    all_pairs = ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.5)
    pruned = ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.5, max_df=3)
    assert pruned.count() <= all_pairs.count()


def test_minhash_candidates_include_dups(spark):
    cands = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_candidate_pairs(
            _docs(spark), num_hashes=16, bands=8, shingle=5
        ).collect()
    }
    assert cands.get((1, 2)) == 1.0  # identical docs agree on all components
    assert (1, 4) in cands  # near dup lands in at least one band
    assert (5, 6) not in cands


def test_simhash_near_pairs(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_pairs(_docs(spark), max_hamming=10).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 5) not in pairs


def _vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.98, 0.15]),  # close to 2
        (4, [-1.0, 0.0, 0.0]),   # opposite of 0
    ]
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_embedding_near_pairs(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_pairs(_vectors(spark), threshold=0.95).collect()
    }
    assert (0, 1) in pairs and (2, 3) in pairs
    assert (0, 4) not in pairs and (0, 2) not in pairs


def test_embedding_near_pairs_lsh_finds_dups(spark):
    """The BRP-LSH scale path must recover the true near-dup pairs the
    exact join finds (unit-sphere euclidean ⟺ cosine mapping)."""
    from scikit_learn_imputer_spark.dedup.embedding import (
        embedding_near_pairs_lsh,
    )

    exact = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_pairs(_vectors(spark), threshold=0.95).collect()
    }
    lsh_pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_pairs_lsh(
            _vectors(spark), threshold=0.95, num_hash_tables=4, bucket_length=1.0
        ).collect()
    }
    assert exact <= set(lsh_pairs)  # every true pair recovered
    assert all(c >= 0.95 for c in lsh_pairs.values())


def test_cosine_topk_exact(spark):
    emb = _vectors(spark)
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(
        (r["rank"], r["neighbor_id"]) for r in out.collect()
    )
    assert rows[0] == (1, 1)  # nearest neighbor of 0 is 1
    assert len(rows) == 2


def test_cosine_topk_lsh_recovers_nearest(spark):
    emb = _vectors(spark)
    out = cosine_topk_lsh(
        emb, emb.filter(F.col("vec_id") == 0), k=2, dim=3, planes=2
    )
    got = {r["neighbor_id"] for r in out.collect()}
    assert 1 in got  # the true nearest neighbor shares the sign bucket


def test_cosine_topk_lsh_multiprobe_recall_monotone(spark, sf_smoke):
    """Multi-probe widens the candidate set monotonically: recall of the
    exact top-k never decreases with more probes, and full 1-bit probing
    beats single-bucket on the real embeddings table. No duplicate
    (query, neighbor) pairs — each corpus row lives in exactly one
    bucket."""
    from collections import Counter

    from scikit_learn_imputer_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    recalls = []
    for probes in (1, 5, 9):
        rows = [
            (r["query_id"], r["neighbor_id"])
            for r in cosine_topk_lsh(
                emb, queries, k=5, probes=probes
            ).collect()
        ]
        assert max(Counter(rows).values()) == 1  # no duplicate pairs
        recalls.append(len(exact & set(rows)) / len(exact))
    assert recalls == sorted(recalls)  # monotone non-decreasing
    assert recalls[-1] > recalls[0]  # full 1-bit probing actually helps


def test_embedding_pairs_blas_equals_expression_path(spark, sf_smoke):
    from scikit_learn_imputer_spark.dedup.embedding import (
        embedding_near_pairs,
        embedding_near_pairs_blas,
    )
    from scikit_learn_imputer_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    a = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_pairs(emb, threshold=0.3).collect()
    }
    b = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_pairs_blas(emb, threshold=0.3).collect()
    }
    assert set(a) == set(b) and len(a) > 0
    import math

    for k in a:
        assert math.isclose(a[k], b[k], rel_tol=1e-9, abs_tol=1e-9)


def test_embedding_pairs_blas_guard(spark, sf_smoke):
    import pytest as _pytest

    from scikit_learn_imputer_spark.dedup.embedding import (
        embedding_near_pairs_blas,
    )
    from scikit_learn_imputer_spark.sources.tables import load_table

    emb = load_table(spark, sf_smoke, "embeddings")
    with _pytest.raises(ValueError, match="max_broadcast_rows"):
        embedding_near_pairs_blas(emb, max_broadcast_rows=10)


def test_connected_components_chain_and_islands(spark):
    from scikit_learn_imputer_spark.dedup.cluster import connected_components

    # chain 1-2-3-4 (diameter 3, needs >1 round), island {10,11}, and an
    # edge listed in both directions (must not duplicate)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 10)], ["src", "dst"]
    )
    got = {
        r["id"]: r["label"] for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_decontaminate_removes_benchmark_matches(spark):
    from scikit_learn_imputer_spark.dedup.exact import decontaminate

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "THE  QUICK   BROWN FOX"),  # normalized match of doc 1
            (3, "something else entirely"),
            (4, "eval question one"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "the quick brown fox"), (101, "eval question one")],
        ["doc_id", "text"],
    )
    kept = sorted(r["doc_id"] for r in decontaminate(corpus, bench).collect())
    assert kept == [3]
    # No forced broadcast hint (a huge benchmark must be allowed to fall
    # back to a shuffle join — ADVICE r4); AQE promotes the anti join to
    # broadcast at RUNTIME when the digest side is actually small.  The
    # final adaptive plan for this tiny benchmark must show that.
    out = decontaminate(corpus, bench)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_decontaminate_ngram_catches_embedded_leakage(spark):
    """Partial overlap: a corpus doc EMBEDDING a benchmark 5-gram is
    dropped even though its full content differs (the case exact-digest
    decontamination misses); short and non-overlapping docs survive."""
    from scikit_learn_imputer_spark.dedup.exact import decontaminate_ngram

    corpus = spark.createDataFrame(
        [
            (1, "intro words then alpha beta gamma delta epsilon and more"),
            (2, "completely unrelated content with different words here"),
            (3, "tiny doc"),  # < 5 words -> no grams -> cannot match
            (4, "alpha beta gamma delta DIFFERENT tail words"),  # only 4 shared
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    kept = sorted(
        r["doc_id"] for r in decontaminate_ngram(corpus, bench, n=5).collect()
    )
    assert kept == [2, 3, 4]

    # Hint-free joins: AQE must still land broadcast for a tiny benchmark
    # (runtime size), while a huge one may legally shuffle (ADVICE r4).
    out = decontaminate_ngram(corpus, bench, n=5)
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_pagerank_triangle_and_star(spark):
    from scikit_learn_imputer_spark.graph import pagerank

    # symmetric triangle: uniform stationary distribution
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1), (3, 2), (1, 3)], ["src", "dst"]
    )
    ranks = {r["id"]: r["rank"] for r in pagerank(tri, iters=20).collect()}
    assert all(abs(v - 1 / 3) < 1e-9 for v in ranks.values()), ranks

    # star 1->2, 3->2: reference recurrence computed in plain python
    star = spark.createDataFrame([(1, 2), (3, 2)], ["src", "dst"])
    got = {r["id"]: r["rank"] for r in pagerank(star, iters=10).collect()}
    n, d = 3, 0.85
    py = {1: 1 / n, 2: 1 / n, 3: 1 / n}
    for _ in range(10):
        nxt = {}
        for v in (1, 2, 3):
            contrib = 0.0
            if v == 2:
                contrib = py[1] / 1 + py[3] / 1
            nxt[v] = (1 - d) / n + d * contrib
        py = nxt
    assert all(abs(got[v] - py[v]) < 1e-9 for v in (1, 2, 3)), (got, py)


def test_pagerank_snapped_matches_reference_recurrence(spark):
    from scikit_learn_imputer_spark.graph import pagerank_snapped

    # same star graph, same recurrence run in exact integer micro-units
    star = spark.createDataFrame([(1, 2), (3, 2)], ["src", "dst"])
    got = {
        r["id"]: r["rank_micro"]
        for r in pagerank_snapped(star, iters=10).collect()
    }
    import math

    n, d = 3, 0.85
    base = int(math.floor((1 - d) * 1e6 / n + 0.5))
    py = {v: int(math.floor(1e6 / n + 0.5)) for v in (1, 2, 3)}
    for _ in range(10):
        nxt = {}
        for v in (1, 2, 3):
            contrib = 0
            if v == 2:
                contrib = int(math.floor(d * py[1] / 1)) + int(
                    math.floor(d * py[3] / 1)
                )
            nxt[v] = base + contrib
        py = nxt
    assert got == py, (got, py)

    # snapped centrality ORDER agrees with the double-state pagerank
    from scikit_learn_imputer_spark.graph import pagerank

    chain = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 2), (2, 1), (4, 2)], ["src", "dst"]
    )
    dbl = {r["id"]: r["rank"] for r in pagerank(chain, iters=8).collect()}
    snp = {
        r["id"]: r["rank_micro"]
        for r in pagerank_snapped(chain, iters=8).collect()
    }
    order_dbl = sorted(dbl, key=lambda v: (-dbl[v], v))
    order_snp = sorted(snp, key=lambda v: (-snp[v], v))
    assert order_dbl == order_snp


def test_minhash_simhash_max_bucket_skew_guard(spark):
    """max_bucket drops every pair from oversized buckets (the LSH skew
    guard): identical docs share all band/chunk buckets, so a guard
    smaller than the group kills their pairs; an unbounded guard keeps
    them. The oracled *_md5 query variants pass max_bucket=2**31 because
    the brute-force oracles keep every in-bucket pair (ADVICE r4)."""
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(5)],
        ["doc_id", "text"],
    )
    guarded = minhash_candidate_pairs(
        docs, num_hashes=16, bands=8, shingle=5, max_bucket=2
    )
    assert guarded.count() == 0
    unbounded = minhash_candidate_pairs(
        docs, num_hashes=16, bands=8, shingle=5, max_bucket=2**31
    )
    assert unbounded.count() == 5 * 4 // 2

    s_guarded = simhash_near_pairs(docs, max_hamming=3, max_bucket=2)
    assert s_guarded.count() == 0
    s_unbounded = simhash_near_pairs(docs, max_hamming=3, max_bucket=2**31)
    assert s_unbounded.count() == 5 * 4 // 2


def test_unguarded_sentinel_equals_guarded_path(spark):
    """max_bucket >= 2**31 is the UNGUARDED sentinel: the bucket-size
    aggregate + semi-join are skipped outright (round-14 optimization).
    Its pair set must be row-identical to the guarded code path under a
    finite bound large enough to keep every bucket, and the sentinel
    plan must not contain the LeftSemi guard join."""
    docs = _docs(spark)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    mh_guarded = minhash_candidate_pairs(
        docs, num_hashes=16, bands=8, shingle=5, max_bucket=2**31 - 1
    )
    mh_sentinel = minhash_candidate_pairs(
        docs, num_hashes=16, bands=8, shingle=5, max_bucket=2**31
    )
    assert rows(mh_sentinel) == rows(mh_guarded)
    assert "LeftSemi" in mh_guarded._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in mh_sentinel._jdf.queryExecution().executedPlan().toString()

    sh_guarded = simhash_near_pairs(
        docs, max_hamming=3, max_bucket=2**31 - 1
    )
    sh_sentinel = simhash_near_pairs(docs, max_hamming=3, max_bucket=2**31)
    assert rows(sh_sentinel) == rows(sh_guarded)
    assert "LeftSemi" not in sh_sentinel._jdf.queryExecution().executedPlan().toString()


def test_incremental_dedup_commit_then_empty(spark, tmp_path):
    """Probe-commit-reprobe invariant: a committed batch probes to zero
    survivors, and a later batch dedups against BOTH the original store
    and earlier commits."""
    from scikit_learn_imputer_spark.dedup.incremental import (
        build_fingerprint_store,
        incremental_dedup,
        incremental_dedup_and_commit,
    )

    store = str(tmp_path / "fpstore")
    corpus = _docs(spark)  # docs 1-6 already ingested
    build_fingerprint_store(corpus, store)

    batch1 = spark.createDataFrame(
        [
            (7, "the quick brown fox jumps over the lazy dog again and again today"),  # dup of corpus doc 1
            (8, "fresh batch-one document about incremental stores"),
            (9, "fresh batch-one document about incremental stores"),  # in-batch dup of 8
            (10, "another genuinely new document in batch one"),
        ],
        ["doc_id", "text"],
    )
    s1 = incremental_dedup_and_commit(batch1, store)
    assert sorted(r["doc_id"] for r in s1.collect()) == [8, 10]

    # Re-probing the SAME batch after commit yields nothing new.
    again = incremental_dedup(batch1, store)
    assert again.count() == 0

    # A later batch is deduped against corpus AND batch1's commit.
    batch2 = spark.createDataFrame(
        [
            (11, "fresh batch-one document about incremental stores"),  # dup of committed 8
            (12, "a batch-two only document"),
        ],
        ["doc_id", "text"],
    )
    s2 = incremental_dedup(batch2, store)
    assert sorted(r["doc_id"] for r in s2.collect()) == [12]


def test_int8_pack_unpack_roundtrip(spark):
    """pack_int8/unpack_int8 are inverse, and the packed form really is
    one byte per component."""
    from scikit_learn_imputer_spark.similarity.quantize import (
        pack_int8,
        quantize_vec,
        unpack_int8,
    )

    dim = 16
    rows = [
        (1, [0.3, -1.2, 0.0, 2.5] * 4),
        (2, [-0.001, 127.0, -128.0, 1e-9] * 4),
        (3, [0.0] * dim),  # zero vector -> all-zero codes
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = (
        df.withColumn("codes", quantize_vec(F.col("embedding")))
        .withColumn("packed", pack_int8(F.col("codes")))
        .withColumn("unpacked", unpack_int8(F.col("packed"), dim))
        .select("vec_id", "codes", "packed", "unpacked")
        .collect()
    )
    for r in out:
        assert r["unpacked"] == r["codes"], r["vec_id"]
        assert len(r["packed"]) == dim  # 1 byte/dim, the storage claim
        assert all(-128 <= c <= 127 for c in r["codes"])
    zero = next(r for r in out if r["vec_id"] == 3)
    assert zero["codes"] == [0] * dim


def test_int8_topk_agrees_with_exact_on_separated_corpus(spark):
    """On a corpus with clearly separated neighbors, int8-quantized
    ranking reproduces the exact float top-k (quantization error ≪ the
    cosine gaps)."""
    import math

    from scikit_learn_imputer_spark.similarity.quantize import cosine_topk_int8

    dim = 32

    def planar(theta):
        # cosine(v0, v_theta) = cos(theta) exactly: gaps >= 0.03, far
        # above the <1% int8 quantization error.
        v = [0.0] * dim
        v[0], v[1] = math.cos(theta), math.sin(theta)
        return v

    rows = [(i, planar(0.15 * i)) for i in range(8)]  # 0 is the query
    # distractors orthogonal to the plane (cosine 0 to every planar vec)
    for i in range(8, 30):
        v = [0.0] * dim
        v[2 + (i % 29)] = 1.0
        rows.append((i, v))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 0)

    exact = [
        r["neighbor_id"]
        for r in cosine_topk(df, q, k=5).orderBy("rank").collect()
    ]
    quant = [
        r["neighbor_id"]
        for r in cosine_topk_int8(df, q, k=5).orderBy("rank").collect()
    ]
    assert exact == [1, 2, 3, 4, 5]
    assert quant == exact


def test_bloom_decontaminate_equals_exact(spark, sf_smoke):
    """The Bloom prefilter path must return EXACTLY the exact anti-join
    result (no false negatives by construction; false positives removed
    by the confirm join) — including with a deliberately tiny bitmap
    that forces heavy false-positive traffic through the confirm join."""
    from pyspark.sql import functions as F

    from scikit_learn_imputer_spark.dedup.bloom import decontaminate_bloom
    from scikit_learn_imputer_spark.dedup.exact import decontaminate

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 17 == 3)
    exact = sorted(
        r["doc_id"] for r in decontaminate(docs, bench).select("doc_id").collect()
    )
    via_bloom = sorted(
        r["doc_id"]
        for r in decontaminate_bloom(docs, bench).select("doc_id").collect()
    )
    assert via_bloom == exact
    # 64-bit bitmap with 2 probes: nearly every doc is a false positive;
    # the confirm join must still produce the identical set.
    saturated = sorted(
        r["doc_id"]
        for r in decontaminate_bloom(docs, bench, m_bits=64, k=2)
        .select("doc_id")
        .collect()
    )
    assert saturated == exact


def test_bloom_no_false_negatives_and_bitmap_shape(spark):
    """Every digest the bitmap was built from must probe positive, and
    the bitmap is a dense array of m/64 bigint words built in-plan."""
    from pyspark.sql import functions as F

    from scikit_learn_imputer_spark.dedup.bloom import (
        BLOOM_COL,
        bloom_bitmap,
        bloom_hit_col,
    )

    m, k = 1 << 12, 5
    digests = spark.range(200).select(F.md5(F.col("id").cast("string")).alias("fp"))
    bm = bloom_bitmap(digests, "fp", m_bits=m, k=k)
    [row] = bm.collect()
    words = row[BLOOM_COL]
    assert len(words) == m // 64 and all(isinstance(w, int) for w in words)
    assert any(w != 0 for w in words)
    probed = digests.crossJoin(F.broadcast(bm)).select(
        bloom_hit_col(F.col("fp"), F.col(BLOOM_COL), m, k).alias("hit")
    )
    assert probed.filter(~F.col("hit")).count() == 0


def test_bloom_bitmap_validates_params(spark):
    import pytest as _pytest

    from scikit_learn_imputer_spark.dedup.bloom import bloom_bitmap

    digests = spark.range(1).selectExpr("md5(string(id)) AS fp")
    with _pytest.raises(ValueError):
        bloom_bitmap(digests, "fp", m_bits=100)
    with _pytest.raises(ValueError):
        bloom_bitmap(digests, "fp", m_bits=64, k=0)


def test_remove_boilerplate_spans_semantics(spark):
    """A 3-gram shared by >= min_df docs is scrubbed EVERYWHERE it
    occurs (any position); unique content, short docs, and empty docs
    pass through; a doc that is pure boilerplate scrubs to empty."""
    from scikit_learn_imputer_spark.dedup.spans import remove_boilerplate_spans

    rows = [
        (1, "alpha beta gamma unique one two three"),
        (2, "alpha beta gamma different tail words here"),
        (3, "prefix bit alpha beta gamma suffix bit"),  # mid-doc occurrence
        (4, "totally fresh content nothing shared at all"),
        (5, "alpha beta gamma"),  # pure boilerplate
        (6, ""),
        (7, "short doc"),  # < n tokens
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in remove_boilerplate_spans(df, n=3, min_df=3).collect()
    }
    assert out[1]["scrubbed_text"] == "unique one two three"
    assert out[2]["scrubbed_text"] == "different tail words here"
    assert out[3]["scrubbed_text"] == "prefix bit suffix bit"
    assert out[4]["scrubbed_text"] == "totally fresh content nothing shared at all"
    assert (out[5]["n_tokens_before"], out[5]["n_tokens_after"]) == (3, 0)
    assert out[5]["scrubbed_text"] == ""
    assert (out[6]["n_tokens_before"], out[6]["scrubbed_text"]) == (0, "")
    assert out[7]["scrubbed_text"] == "short doc"
    # token accounting holds everywhere
    for r in out.values():
        assert r["n_tokens_after"] == (
            len(r["scrubbed_text"].split()) if r["scrubbed_text"] else 0
        )


def test_remove_boilerplate_overlapping_spans_union(spark):
    """Overlapping occurrences of different boilerplate grams scrub the
    UNION of their covered positions (no double-count, no gaps)."""
    from scikit_learn_imputer_spark.dedup.spans import remove_boilerplate_spans

    # "a b c" and "b c d" both hit min_df=2; doc 1 contains "a b c d"
    # whose positions 0-3 are covered by the union of the two spans.
    rows = [
        (1, "x a b c d y"),
        (2, "a b c tail"),
        (3, "head b c d"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["scrubbed_text"]
        for r in remove_boilerplate_spans(df, n=3, min_df=2).collect()
    }
    assert out[1] == "x y"
    assert out[2] == "tail"
    assert out[3] == "head"


def test_bloom_m_bits_sizing():
    """ADVICE r5: bitmap sized from benchmark cardinality — ~10 bits per
    digest, multiple of 64, floored at 64Ki."""
    from scikit_learn_imputer_spark.dedup.bloom import bloom_m_bits

    assert bloom_m_bits(0) == 1 << 16
    assert bloom_m_bits(1000) == 1 << 16  # under the floor
    m = bloom_m_bits(20_000)
    assert m == 200_000 and m % 64 == 0
    assert bloom_m_bits(6553) % 64 == 0
    import pytest

    with pytest.raises(ValueError):
        bloom_m_bits(-1)


def test_remove_exact_substrings_merges_overlapping_repeats(spark):
    """A repeated substring LONGER than min_len is removed in full: its
    overlapping repeated shingles' covered starts union into the maximal
    span (the suffix-array-equivalence claim)."""
    from scikit_learn_imputer_spark.dedup.spans import remove_exact_substrings

    rep = "r1 r2 r3 r4 r5"  # 5-token span repeated across two docs
    rows = [
        (0, f"a b {rep} c d"),
        (1, f"x {rep} y"),
        (2, "u v w p q s t"),  # unique — untouched
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in remove_exact_substrings(df, min_len=3, min_count=2).collect()
    }
    # the WHOLE 5-token span vanishes, not just one 3-gram of it
    assert out[0]["scrubbed_text"] == "a b c d"
    assert out[1]["scrubbed_text"] == "x y"
    assert out[2]["scrubbed_text"] == "u v w p q s t"
    assert out[0]["n_tokens_before"] == 9 and out[0]["n_tokens_after"] == 4


def test_remove_exact_substrings_counts_within_doc_repeats(spark):
    """Unlike boilerplate min_df (distinct docs), ExactSubstr counts
    TOTAL occurrences — a span repeated twice inside ONE document is
    removed even though its document frequency is 1."""
    from scikit_learn_imputer_spark.dedup.spans import (
        remove_boilerplate_spans,
        remove_exact_substrings,
    )

    rows = [(0, "p q r z p q r"), (1, "a b c d e f g")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    ex = {
        r["doc_id"]: r["scrubbed_text"]
        for r in remove_exact_substrings(df, min_len=3, min_count=2).collect()
    }
    assert ex[0] == "z"
    assert ex[1] == "a b c d e f g"
    bp = {
        r["doc_id"]: r["scrubbed_text"]
        for r in remove_boilerplate_spans(df, n=3, min_df=2).collect()
    }
    assert bp[0] == "p q r z p q r"  # df=1 < 2: boilerplate keeps it


def test_repeated_substring_spans_maximal_intervals(spark):
    """Span inventory: overlapping flagged starts merge into ONE maximal
    interval; disjoint repeats stay separate rows."""
    from scikit_learn_imputer_spark.dedup.spans import repeated_substring_spans

    rep1, rep2 = "r1 r2 r3 r4", "s1 s2 s3"
    rows = [
        (0, f"{rep1} gap1 gap2 gap3 {rep2}"),
        (1, f"h1 {rep1} h2 {rep2} h3"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["span_start"]): r["span_len"]
        for r in repeated_substring_spans(df, min_len=3, min_count=2).collect()
    }
    # doc0: rep1 at tokens [0,4), rep2 at [7,10)
    # doc1: rep1 at [1,5), rep2 at [6,9)
    assert got == {(0, 0): 4, (0, 7): 3, (1, 1): 4, (1, 6): 3}


def test_exact_substrings_param_validation(spark):
    import pytest

    from scikit_learn_imputer_spark.dedup.spans import (
        remove_exact_substrings,
        repeated_substring_spans,
    )

    df = spark.createDataFrame([(0, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        remove_exact_substrings(df, min_len=0)
    with pytest.raises(ValueError):
        remove_exact_substrings(df, min_count=1)
    with pytest.raises(ValueError):
        repeated_substring_spans(df, min_len=0)
    with pytest.raises(ValueError):
        repeated_substring_spans(df, min_count=1)


def test_minhash_salted_heavy_bucket_keeps_recall(spark):
    """VERDICT r5 #8: plant a heavy bucket (40 identical boilerplate
    docs -> one LSH bucket) with max_bucket=10. Drop mode loses every
    pair in it; salt mode returns EXACTLY the uncapped pair set while
    bounding per-task pair work."""
    from scikit_learn_imputer_spark.dedup.minhash import minhash_candidate_pairs

    boiler = "the same boilerplate banner text repeated verbatim everywhere"
    rows = [(i, boiler) for i in range(40)]
    rows += [(100, "a unique document body one"), (101, "a unique document body one"),
             (102, "another unique piece of text")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def pairs(heavy, max_bucket):
        out = minhash_candidate_pairs(
            df, num_hashes=8, bands=2, max_bucket=max_bucket, heavy=heavy
        )
        return {(r["id_a"], r["id_b"]) for r in out.collect()}

    truth = pairs("drop", 1 << 30)  # uncapped ground truth
    assert len(truth) >= 40 * 39 // 2  # the planted clique is in there
    dropped = pairs("drop", 10)
    salted = pairs("salt", 10)
    assert salted == truth
    assert not any(a < 40 and b < 40 for a, b in dropped)  # clique lost
    assert (100, 101) in salted  # small-bucket path still flows
    import pytest

    with pytest.raises(ValueError):
        minhash_candidate_pairs(df, heavy="nope")


def test_semdedup_exact_min_id_keep_rule(spark):
    """Planted duplicate groups: exactly the min-id member of each
    near-identical group survives; isolated vectors all survive."""
    import numpy as np

    from scikit_learn_imputer_spark.dedup.embedding import semdedup_survivors

    rng = np.random.RandomState(3)
    base1, base2 = rng.randn(16), rng.randn(16)
    rows = []
    for i in range(5):  # group A: ids 0..4, tiny jitter
        rows.append((i, [float(x) for x in base1 + rng.randn(16) * 1e-3]))
    for i in range(3):  # group B: ids 10..12
        rows.append((10 + i, [float(x) for x in base2 + rng.randn(16) * 1e-3]))
    for i in range(4):  # isolated: ids 20..23
        rows.append((20 + i, [float(x) for x in rng.randn(16)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = sorted(
        r["vec_id"] for r in semdedup_survivors(df, eps=0.95).collect()
    )
    assert kept == [0, 10, 20, 21, 22, 23]


def test_semdedup_clustered_consistency(spark):
    """ANCHOR for semdedup_clustered (rows-only: KMeans cells are not
    SQL-reproducible). Invariants: (1) survivors form a subset of ids
    whose dropped complement each has a smaller-id >= eps neighbor IN
    ITS CELL; (2) clustering can only RELAX dedup (pairs across cells
    are not seen), so clustered survivors are a superset of the exact
    variant's; (3) planted same-cluster duplicates still collapse."""
    import numpy as np

    from scikit_learn_imputer_spark.dedup.embedding import (
        cosine,
        semdedup_survivors,
    )
    from scikit_learn_imputer_spark.similarity.ivf import build_ivf_index

    rng = np.random.RandomState(4)
    base = rng.randn(64)
    rows = [(i, [float(x) for x in base + rng.randn(64) * 1e-3]) for i in range(6)]
    rows += [(50 + i, [float(x) for x in rng.randn(64)]) for i in range(20)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    assigned, _ = build_ivf_index(
        df, nlist=4, max_iter=3, init_mode="random", build_partitions=2
    )
    kept = sorted(
        r["vec_id"]
        for r in semdedup_survivors(df, eps=0.95, assigned=assigned).collect()
    )
    exact = sorted(
        r["vec_id"] for r in semdedup_survivors(df, eps=0.95).collect()
    )
    assigned.unpersist()
    # planted near-identical group lands in ONE cell -> collapses to id 0
    assert [k for k in kept if k < 50] == [0]
    assert set(exact).issubset(set(kept))
    assert set(kept).issubset({r[0] for r in rows})


def test_scrub_benchmark_spans_surgical(spark):
    """Only the leaked span is removed; clean docs and the rest of a
    leaking doc pass through; overlapping benchmark grams merge."""
    from scikit_learn_imputer_spark.dedup.spans import scrub_benchmark_spans

    bench = spark.createDataFrame(
        [(900, "e1 e2 e3 e4 e5 e6")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (0, "intro e1 e2 e3 e4 e5 e6 outro"),  # leaks the full 6-token quote
            (1, "totally clean document body here"),
            (2, "e1 e2 e3 e4 tail"),  # only a 4-gram prefix — below n=5, kept
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in scrub_benchmark_spans(corpus, bench, n=5).collect()
    }
    assert out[0]["scrubbed_text"] == "intro outro"
    assert out[0]["n_tokens_before"] == 8 and out[0]["n_tokens_after"] == 2
    assert out[1]["scrubbed_text"] == "totally clean document body here"
    assert out[2]["scrubbed_text"] == "e1 e2 e3 e4 tail"


def test_incremental_near_dedup_history_filter(spark, tmp_path):
    """Incremental NEAR-dedup: a new doc is dropped iff banded LSH would
    pair it with an already-accepted doc — asserted by deriving the
    expected drop set from band_buckets directly; commit + re-probe
    drops the whole batch; config mismatch fails fast."""
    import pytest as _pytest

    from scikit_learn_imputer_spark.dedup.incremental import (
        append_signatures,
        build_signature_store,
        incremental_near_dedup,
    )
    from scikit_learn_imputer_spark.dedup.minhash import (
        band_buckets,
        minhash_signatures,
    )

    t_a = "the quick brown fox jumps over the lazy dog near the river bank today"
    t_b = "completely different content about spark shuffles and parquet footers"
    t_c = "unrelated fresh words describing mixture sampling and token budgets"
    store = str(tmp_path / "sigstore")
    schema = "doc_id bigint, text string"
    b1 = spark.createDataFrame([(1, t_a), (2, t_b)], schema)
    build_signature_store(b1, store)

    b2 = spark.createDataFrame(
        [(10, t_a), (11, t_a + " with a small appended tail"), (12, t_c)],
        schema,
    )
    surv = incremental_near_dedup(b2, store)
    got = sorted(r["doc_id"] for r in surv.collect())

    bb1 = band_buckets(minhash_signatures(b1)).select("band", "bucket")
    bb2 = band_buckets(minhash_signatures(b2))
    dropped = {
        r["doc_id"]
        for r in bb2.join(bb1, on=["band", "bucket"], how="left_semi")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert got == sorted({10, 11, 12} - dropped)
    assert 10 in dropped  # identical text shares every band
    assert 12 not in dropped  # fresh content survives

    # commit survivors, then re-probe the same batch: everything collides
    # (with history or with its own committed signatures)
    append_signatures(surv, store)
    again = incremental_near_dedup(b2, store)
    assert again.count() == 0

    with _pytest.raises(ValueError, match="signature store"):
        incremental_near_dedup(b2, store, bands=8)


def test_stream_near_dedup_ingest_across_batches(spark, tmp_path):
    """Streaming near-dedup ingest: later files' near-dups of earlier
    survivors are dropped across micro-batch boundaries; survivors and
    committed store state match the sequential incremental run."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from scikit_learn_imputer_spark.dedup.incremental import (
        build_signature_store,
        stream_near_dedup_ingest,
    )

    t_a = "the quick brown fox jumps over the lazy dog near the river bank today"
    t_b = "completely different content about spark shuffles and parquet footers"
    t_c = "unrelated fresh words describing mixture sampling and token budgets"
    batches = [
        [(1, t_a), (2, t_b)],
        [(3, t_a), (4, t_c)],     # 3 is a near-dup (identical) of 1
        [(5, t_c), (6, t_b)],     # both collide with history
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        path = str(src / f"b{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                    "text": pa.array([r[1] for r in rows]),
                }
            ),
            path,
        )
        # distinct mtimes: the file source orders batches by timestamp,
        # and sub-second writes can tie
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    store, out, cp = (str(tmp_path / p) for p in ("store", "out", "cp"))
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    build_signature_store(empty, store)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(src))
    )
    q = stream_near_dedup_ingest(stream, store, out, cp).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [1, 2, 4]


def test_store_compaction_preserves_probe_results(spark, tmp_path):
    """Compacting either store must not change any later probe decision,
    and must actually deduplicate the store's rows."""
    from scikit_learn_imputer_spark.dedup.incremental import (
        append_signatures,
        append_to_store,
        build_fingerprint_store,
        build_signature_store,
        compact_fingerprint_store,
        compact_signature_store,
        incremental_dedup,
        incremental_near_dedup,
    )

    schema = "doc_id bigint, text string"
    t_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t_b = "one two three four five six seven eight nine ten eleven"
    docs = spark.createDataFrame([(1, t_a), (2, t_b)], schema)
    probe = spark.createDataFrame(
        [(10, t_a), (11, "fresh words entirely unrelated to anything stored")],
        schema,
    )

    fstore = str(tmp_path / "fstore")
    build_fingerprint_store(docs, fstore)
    # duplicate appends bloat the store
    for _ in range(3):
        append_to_store(
            incremental_dedup(docs, fstore).limit(0).unionByName(
                spark.createDataFrame([], incremental_dedup(docs, fstore).schema)
            ),
            fstore,
        )
        append_to_store(incremental_dedup(probe, fstore), fstore)
    before = {r["doc_id"] for r in incremental_dedup(probe, fstore).collect()}
    rows_before = spark.read.parquet(fstore).count()
    compact_fingerprint_store(spark, fstore)
    rows_after = spark.read.parquet(fstore).count()
    after = {r["doc_id"] for r in incremental_dedup(probe, fstore).collect()}
    assert after == before
    assert rows_after <= rows_before
    assert rows_after == spark.read.parquet(fstore).distinct().count()

    sstore = str(tmp_path / "sstore")
    build_signature_store(docs, sstore)
    append_signatures(docs, sstore)  # duplicate rows on purpose
    b4 = {r["doc_id"] for r in incremental_near_dedup(probe, sstore).collect()}
    n_b4 = spark.read.parquet(sstore).count()
    compact_signature_store(spark, sstore)
    n_af = spark.read.parquet(sstore).count()
    af = {r["doc_id"] for r in incremental_near_dedup(probe, sstore).collect()}
    assert af == b4
    assert n_af < n_b4


def test_compaction_cleans_tmp_and_recovers_from_crash(spark, tmp_path):
    """Compaction's __compacting sibling is deleted after a successful
    swap (ADVICE r6: it used to be left behind), and a crash that died
    after writing the sibling but before/while overwriting the store is
    recoverable: recover_compaction restores the store from the sibling
    and cleans up."""
    import os
    import shutil

    from scikit_learn_imputer_spark.dedup.incremental import (
        build_fingerprint_store,
        compact_fingerprint_store,
        incremental_dedup,
        recover_compaction,
    )

    schema = "doc_id bigint, text string"
    t_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame([(1, t_a)], schema)
    probe = spark.createDataFrame(
        [(10, t_a), (11, "fresh words unrelated to anything stored here")],
        schema,
    )
    fstore = str(tmp_path / "fstore")
    build_fingerprint_store(docs, fstore)
    want = {r["doc_id"] for r in incremental_dedup(probe, fstore).collect()}

    compact_fingerprint_store(spark, fstore)
    tmp = fstore + "__compacting"
    assert not os.path.exists(tmp)  # sibling removed after the swap
    # no sibling -> recovery is a no-op
    assert recover_compaction(spark, fstore) is False

    # Simulate the crash window: the good copy sits in the sibling and
    # the store itself was lost mid-overwrite. A real sibling carries
    # _compact_swap's OWN completion marker (not the committer's
    # _SUCCESS, which deployments can disable — ADVICE r8).
    shutil.copytree(fstore, tmp)
    with open(os.path.join(tmp, "_COMPACT_SWAP_OK"), "w") as fh:
        fh.write("ok")
    shutil.rmtree(fstore)
    assert recover_compaction(spark, fstore) is True
    assert not os.path.exists(tmp)
    got = {r["doc_id"] for r in incremental_dedup(probe, fstore).collect()}
    assert got == want


def test_exact_dedup_quality_keeper(spark):
    """keep='quality' selects the argmax-q_score member per duplicate
    group (ties to min doc_id); keep='min' is unchanged; bad modes fail
    fast."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from scikit_learn_imputer_spark.dedup.exact import (
        exact_dedup,
        exact_dup_groups_quality,
    )

    # 1 and 2 normalize identically (whitespace collapse), but doc 1's
    # doubled spaces dilute its alpha_ratio -> lower q_score, so the
    # quality keeper picks 2; 3 ties 4 exactly (identical raw text), so
    # the tie falls to min id.
    docs = spark.createDataFrame(
        [
            (1, "the  cat  sat  on  the  mat"),
            (2, "the cat sat on the mat"),
            (3, "a plain sentence of words"),
            (4, "a plain sentence of words"),
            (5, "a unique singleton document"),
        ],
        "doc_id bigint, text string",
    )
    groups = {
        r["keep_id"]: r["dup_count"]
        for r in exact_dup_groups_quality(docs).collect()
    }
    # group {1,2}: doc 2 (no punctuation) outranks doc 1; group {3,4}:
    # exact tie -> min id 3; singleton 5 kept.
    assert groups == {2: 2, 3: 2, 5: 1}

    kept_min = sorted(r["doc_id"] for r in exact_dedup(docs).collect())
    kept_q = sorted(
        r["doc_id"] for r in exact_dedup(docs, keep="quality").collect()
    )
    assert kept_min == [1, 3, 5]
    assert kept_q == [2, 3, 5]

    with _pytest.raises(ValueError, match="keep"):
        exact_dedup(docs, keep="longest")

    # custom quality column: longest raw text wins
    kept_len = sorted(
        r["doc_id"]
        for r in exact_dedup(
            docs, keep="quality", quality=F.length("text").cast("double")
        ).collect()
    )
    assert kept_len == [1, 3, 5]  # doc 1 is longer than doc 2


def test_cluster_survivors_quality_raises_kept_token_mass(spark):
    """The waterfall-variant policy comparison (VERDICT r6 #1): on
    near-dup clusters whose members genuinely differ, keep='quality'
    retains at least the token mass of keep='min' — and strictly more
    when the min-id member is the short/noisy one."""
    from pyspark.sql import functions as F

    from scikit_learn_imputer_spark.dedup.cluster import (
        cluster_survivors,
        connected_components,
    )

    long_clean = (
        "the quick brown fox jumps over the lazy dog and keeps running "
        "through a long clean paragraph of plain english words"
    )
    docs = spark.createDataFrame(
        [
            (1, "quick fox ,,,, ;;;; !!!!"),       # cluster A: short, noisy, min id
            (2, long_clean),                        # cluster A: long, clean
            (3, long_clean + " with a small tail"), # cluster A
            (10, "beta doc one two three"),         # cluster B: tie-ish
            (11, "beta doc one two three"),         # cluster B: identical
            (20, "a singleton survives either way"),
        ],
        "doc_id bigint, text string",
    )
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src bigint, dst bigint"
    )
    clusters = connected_components(edges)

    ntok = F.size(F.split(F.trim(F.col("text")), "\\s+"))
    mass = lambda df: df.agg(F.sum(ntok)).collect()[0][0]  # noqa: E731

    kept_min = cluster_survivors(docs, clusters, keep="min")
    kept_q = cluster_survivors(docs, clusters, keep="quality")

    ids_min = sorted(r["doc_id"] for r in kept_min.select("doc_id").collect())
    ids_q = sorted(r["doc_id"] for r in kept_q.select("doc_id").collect())
    assert ids_min == [1, 10, 20]
    # cluster A: quality keeps a long clean doc (2 outranks 3 on ties
    # only if q equal — 3 has same text + tail, so argmax may pick
    # either on merit; assert membership not identity)
    assert 1 not in ids_q and 10 in ids_q and 20 in ids_q
    assert len(ids_q) == 3
    assert mass(kept_q) > mass(kept_min)


def test_dedup_paragraphs_removes_corpus_duplicated_lines(spark):
    """RefinedWeb-style line dedup: every occurrence of a corpus-
    duplicated paragraph is removed from every doc; unique and empty
    paragraphs survive in order; within-doc repeats alone can cross the
    threshold; normalization (case/whitespace) joins occurrences."""
    from scikit_learn_imputer_spark.dedup.paragraphs import (
        dedup_paragraphs,
        duplicated_paragraphs,
    )

    docs = spark.createDataFrame(
        [
            (1, "cookie banner\nunique alpha text\n\nfooter line"),
            (2, "Cookie   Banner\nunique beta text\nfooter line"),
            (3, "only unique gamma content here"),
            (4, "repeat me\nrepeat me\nsolo line"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r["doc_id"]: (r["text"], r["n_paragraphs_removed"])
        for r in dedup_paragraphs(docs, min_count=2).collect()
    }
    # 'cookie banner' (normalized) x2, 'footer line' x2, 'repeat me' x2
    assert out[1] == ("unique alpha text\n", 2)  # empty line preserved
    assert out[2] == ("unique beta text", 2)
    assert out[3] == ("only unique gamma content here", 0)
    assert out[4] == ("solo line", 2)

    hot = {
        r["digest"]: r["n_occurrences"]
        for r in duplicated_paragraphs(docs, min_count=2).collect()
    }
    assert sorted(hot.values()) == [2, 2, 2]

    # idempotence: a second pass removes nothing
    again = dedup_paragraphs(
        dedup_paragraphs(docs, min_count=2).select("doc_id", "text"),
        min_count=2,
    )
    assert all(r["n_paragraphs_removed"] == 0 for r in again.collect())


def test_recover_compaction_partial_sibling_is_discarded(spark, tmp_path):
    """ADVICE r7/r8: a crash DURING the sibling write leaves a partial
    sibling (no _COMPACT_SWAP_OK marker — _compact_swap writes its own
    marker rather than relying on the committer's _SUCCESS, which
    mapreduce.fileoutputcommitter.marksuccessfuljobs=false disables)
    while the store is still good; recovery must keep the store and
    delete the sibling, never restore from it."""
    import os
    import shutil

    from scikit_learn_imputer_spark.dedup.incremental import (
        build_fingerprint_store,
        incremental_dedup,
        recover_compaction,
    )

    schema = "doc_id bigint, text string"
    t_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame([(1, t_a)], schema)
    probe = spark.createDataFrame(
        [(10, t_a), (11, "fresh words unrelated to anything stored here")],
        schema,
    )
    fstore = str(tmp_path / "fstore")
    build_fingerprint_store(docs, fstore)
    want = {r["doc_id"] for r in incremental_dedup(probe, fstore).collect()}

    # partial sibling: copy the store then strip the commit marker AND a
    # data file — exactly what a mid-write crash leaves behind
    tmp = fstore + "__compacting"
    shutil.copytree(fstore, tmp)
    os.remove(os.path.join(tmp, "_SUCCESS"))
    for f in os.listdir(tmp):
        if f.endswith(".parquet"):
            os.remove(os.path.join(tmp, f))
            break

    assert recover_compaction(spark, fstore) is False
    assert not os.path.exists(tmp)  # partial sibling cleaned up
    got = {r["doc_id"] for r in incremental_dedup(probe, fstore).collect()}
    assert got == want  # store untouched — no history lost


def test_dedup_paragraphs_regex_metachar_separator(spark):
    """ADVICE r7: the separator feeds F.split (Java regex) but rejoins
    literally; metacharacter separators ('.', '|') must round-trip
    byte-identically through the quote-escape."""
    from scikit_learn_imputer_spark.dedup.paragraphs import dedup_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "cookie banner.unique one.cookie banner"),
            (2, "unique two.cookie banner.unique three"),
            (3, "no duplicates here at all"),
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["text"], r["n_paragraphs_removed"])
        for r in dedup_paragraphs(docs, min_count=2, sep=".").collect()
    }
    assert got[1] == ("unique one", 2)
    assert got[2] == ("unique two.unique three", 1)
    assert got[3] == ("no duplicates here at all", 0)

    # '|' — an alternation metachar that unescaped splits per character
    docs2 = spark.createDataFrame(
        [(1, "dup|keep a|dup"), (2, "keep b|dup")],
        "doc_id bigint, text string",
    )
    got2 = {
        r["doc_id"]: (r["text"], r["n_paragraphs_removed"])
        for r in dedup_paragraphs(docs2, min_count=2, sep="|").collect()
    }
    assert got2[1] == ("keep a", 2)
    assert got2[2] == ("keep b", 1)


def test_dedup_store_stats_reports_health(spark, tmp_path):
    """Store-health report: content metrics match the stores' actual
    content, physical metrics are positive, per-source counts cover the
    accepted docs, and compaction removes append redundancy (n_rows
    converges to n_distinct)."""
    from scikit_learn_imputer_spark.dedup.incremental import (
        append_to_store,
        build_fingerprint_store,
        build_signature_store,
        compact_fingerprint_store,
        dedup_store_stats,
    )

    schema = "doc_id bigint, source string, text string"
    docs = spark.createDataFrame(
        [
            (1, "a", "alpha beta gamma delta epsilon zeta"),
            (2, "a", "eta theta iota kappa lambda mu"),
            (3, "b", "nu xi omicron pi rho sigma"),
        ],
        schema,
    )
    fstore = str(tmp_path / "fstore")
    sstore = str(tmp_path / "sstore")
    build_fingerprint_store(docs, fstore)
    # force append redundancy: re-append an already-stored fingerprint
    append_to_store(
        spark.read.parquet(fstore).limit(1), fstore
    )
    build_signature_store(docs, sstore, num_hashes=8, bands=2, shingle=5)

    stats = {
        (r["store"], r["metric"]): r["value"]
        for r in dedup_store_stats(
            spark, fingerprint_path=fstore, signature_path=sstore, docs=docs
        ).collect()
    }
    assert stats[("fingerprint", "n_rows")] == 4  # 3 + 1 redundant append
    assert stats[("fingerprint", "n_distinct")] == 3
    assert stats[("fingerprint", "n_files")] > 0
    assert stats[("fingerprint", "n_bytes")] > 0
    assert stats[("signature", "n_rows")] == 6  # 3 docs x 2 bands
    assert stats[("signature", "n_distinct")] == 6
    assert stats[("signature", "n_docs")] == 3
    assert stats[("signature", "docs:a")] == 2
    assert stats[("signature", "docs:b")] == 1

    # compaction pays down the reported debt
    compact_fingerprint_store(spark, fstore)
    after = {
        (r["store"], r["metric"]): r["value"]
        for r in dedup_store_stats(spark, fingerprint_path=fstore).collect()
    }
    assert after[("fingerprint", "n_rows")] == 3
    assert after[("fingerprint", "n_distinct")] == 3


def test_incremental_dedup_quality_within_batch(spark, tmp_path):
    """keep='quality' selects the argmax-q_score member per distinct
    content WITHIN a batch (VERDICT r7 #7 policy threading); keep='min'
    unchanged; bad modes fail fast."""
    import pytest as _pytest

    from scikit_learn_imputer_spark.dedup.incremental import (
        build_fingerprint_store,
        incremental_dedup,
    )

    schema = "doc_id bigint, text string"
    store = str(tmp_path / "store")
    build_fingerprint_store(spark.createDataFrame([], schema), store)
    # 10 and 11 normalize identically; 10's doubled spaces dilute its
    # alpha_ratio -> lower q_score, so the quality keeper picks 11.
    batch = spark.createDataFrame(
        [
            (10, "the  cat  sat  on  the  mat  tonight"),
            (11, "the cat sat on the mat tonight"),
            (12, "something else entirely different here"),
        ],
        schema,
    )
    got_min = {r["doc_id"] for r in incremental_dedup(batch, store).collect()}
    assert got_min == {10, 12}
    got_q = {
        r["doc_id"]
        for r in incremental_dedup(batch, store, keep="quality").collect()
    }
    assert got_q == {11, 12}
    with _pytest.raises(ValueError, match="keep"):
        incremental_dedup(batch, store, keep="best")


def test_incremental_dedup_first_seen_beats_late_quality(spark, tmp_path):
    """Documented decision (VERDICT r7 #7): ACROSS batches the store
    keeps FIRST-SEEN regardless of policy — a committed doc has been
    published and fingerprinted; a later higher-quality duplicate is
    dropped, under keep='min' AND keep='quality'."""
    from scikit_learn_imputer_spark.dedup.incremental import (
        build_fingerprint_store,
        incremental_dedup,
        incremental_dedup_and_commit,
    )

    schema = "doc_id bigint, text string"
    store = str(tmp_path / "store")
    build_fingerprint_store(spark.createDataFrame([], schema), store)
    first = spark.createDataFrame(
        [(1, "the  cat  sat  on  the  mat  tonight")], schema  # low quality
    )
    committed = incremental_dedup_and_commit(first, store)
    assert {r["doc_id"] for r in committed.collect()} == {1}

    later = spark.createDataFrame(
        [(2, "the cat sat on the mat tonight")], schema  # higher quality
    )
    for keep in ("min", "quality"):
        out = incremental_dedup(later, store, keep=keep)
        assert out.collect() == [], f"late duplicate survived under {keep}"


def test_decontaminate_token_ngrams_vs_word_grams(spark):
    """Token-space decontamination triggers on id-mass, not word count:
    a 4-word overlap whose words are fallback-heavy (6 ids each, 24 ids
    total >= 16) is caught by the id-16-gram check but survives the
    word-5-gram check — and conversely a 16-id run never spans a
    4-word overlap of short 1-id words. Equality with the word check is
    NOT expected; strictness is measured in what the model trains on."""
    from scikit_learn_imputer_spark.dedup.exact import (
        decontaminate_ngram,
        decontaminate_token_ngrams,
    )

    # zqxjvk etc. have no vocab prefix: 6 byte-fallback ids per word
    overlap = "zqxjvk wmbfpy ghrtln dkcsvz"
    corpus = spark.createDataFrame(
        [
            (1, f"prefix words then {overlap} and a different tail"),
            (2, "completely unrelated content with other words here"),
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, f"{overlap} benchmark continuation")], ["doc_id", "text"]
    )
    word_kept = sorted(
        r["doc_id"] for r in decontaminate_ngram(corpus, bench, n=5).collect()
    )
    tok_kept = sorted(
        r["doc_id"]
        for r in decontaminate_token_ngrams(corpus, bench, n=16).collect()
    )
    assert word_kept == [1, 2]  # only 4 shared words: word-5-gram misses
    assert tok_kept == [2]  # 24 shared ids: id-16-gram catches doc 1


def _brute_phash(text: str) -> int | None:
    """Python twin of the JVM dHash: 61 evenly sampled code points of
    trim(text), bit j set when px[j] > px[j+1]."""
    s = text.strip()
    n = len(s)
    if n == 0:
        return None
    px = [ord(s[(j * n) // 61]) for j in range(61)]
    return sum(1 << j for j in range(60) if px[j] > px[j + 1])


def test_phash_signatures_match_python_model(spark):
    """dedup/phash.py (VERDICT r10 #4): the JVM decode→substring→ascii
    dHash equals the python code-point model, empty payloads drop, and
    identical payloads collide exactly."""
    from scikit_learn_imputer_spark.dedup.phash import phash_signatures
    from scikit_learn_imputer_spark.sources.multimodal import (
        media_from_documents,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog " * 3,
        "the quick brown fox jumps over the lazy dog " * 3,  # exact dup
        "pack my box with five dozen liquor jugs " * 4,
        "   ",  # whitespace-only -> no signature
        "a",
        "zyxwvutsrqponmlkjihgfedcba" * 5,
    ]
    docs = spark.createDataFrame(
        [(i, t, "s0", len(t)) for i, t in enumerate(texts)],
        ["doc_id", "text", "source", "n_chars"],
    )
    got = {
        r["media_id"]: r["phash"]
        for r in phash_signatures(media_from_documents(docs)).collect()
    }
    want = {i: _brute_phash(t) for i, t in enumerate(texts) if _brute_phash(t) is not None}
    assert got == want
    assert 3 not in got  # whitespace-only payload carries no signal
    assert got[0] == got[1]  # identical bytes -> identical fingerprint


def test_phash_near_pairs_banding_and_skew_guard(spark):
    """Near-identical images (one character of 'brightness' changed)
    land within Hamming 3 and are FOUND through the chunk buckets;
    unrelated images are not paired; the max_bucket guard drops
    degenerate buckets exactly like the SimHash/MinHash guards."""
    from scikit_learn_imputer_spark.dedup.phash import (
        phash_near_pairs,
        phash_signatures,
    )
    from scikit_learn_imputer_spark.sources.multimodal import (
        media_from_documents,
    )

    base = "the quick brown fox jumps over the lazy dog again and again " * 2
    # nudge the character the grid samples as pixel 30 (index (30*n)//61
    # of the trimmed text) so exactly 1-2 gradient bits flip
    idx = (30 * len(base.strip())) // 61
    near = base[:idx] + "~" + base[idx + 1:]
    texts = [base, near, "completely different payload bytes here " * 3]
    docs = spark.createDataFrame(
        [(i, t, "s0", len(t)) for i, t in enumerate(texts)],
        ["doc_id", "text", "source", "n_chars"],
    )
    media = media_from_documents(docs)
    sigs = {
        r["media_id"]: r["phash"] for r in phash_signatures(media).collect()
    }
    ham01 = bin(sigs[0] ^ sigs[1]).count("1")
    assert 0 < ham01 <= 3  # the nudge moves a few gradient bits only
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in phash_near_pairs(media, max_hamming=3).collect()
    }
    assert pairs == {(0, 1): ham01}
    # skew guard: identical payloads share all 4 chunk buckets; a guard
    # smaller than the group kills their pairs
    dup_docs = spark.createDataFrame(
        [(i, base, "s0", len(base)) for i in range(5)],
        ["doc_id", "text", "source", "n_chars"],
    )
    dup_media = media_from_documents(dup_docs)
    assert phash_near_pairs(dup_media, max_bucket=2).count() == 0
    assert phash_near_pairs(dup_media, max_bucket=2**31).count() == 5 * 4 // 2


def test_image_dedup_manifest_counts_constructed_dups(spark):
    """image_dedup_manifest: identical payloads collapse to one keeper
    per fingerprint, per source; empty payloads don't count as images."""
    from scikit_learn_imputer_spark.plans.queries import QUERIES

    # reuse the registered query's shape via the operator directly
    from scikit_learn_imputer_spark.dedup.phash import phash_signatures
    from scikit_learn_imputer_spark.sources.multimodal import (
        media_from_documents,
    )

    t1 = "the quick brown fox jumps over the lazy dog " * 3
    t2 = "pack my box with five dozen liquor jugs " * 4
    docs = spark.createDataFrame(
        [
            (1, t1, "s0", len(t1)),
            (2, t1, "s0", len(t1)),  # dup of 1 (same source)
            (3, t1, "s1", len(t1)),  # dup of 1 (other source)
            (4, t2, "s0", len(t2)),  # unique
            (5, "   ", "s0", 3),     # empty payload -> not an image row
        ],
        ["doc_id", "text", "source", "n_chars"],
    )
    sigs = phash_signatures(media_from_documents(docs))
    keepers = sigs.groupBy("phash").agg(F.min("media_id").alias("__k"))
    joined = sigs.join(
        docs.select(F.col("doc_id").alias("media_id"), "source"), "media_id"
    ).join(keepers, "phash")
    got = {
        r["source"]: (r["n_images"], r["n_dup_images"], r["n_fingerprints"])
        for r in joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_images"),
            F.sum(F.when(F.col("media_id") != F.col("__k"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_images"),
            F.countDistinct("phash").cast("bigint").alias("n_fingerprints"),
        )
        .collect()
    }
    # s0: docs 1,2,4 (doc 5 empty); doc 2 dups doc 1; fingerprints {t1,t2}
    assert got["s0"] == (3, 1, 2)
    # s1: doc 3 alone in its source, but keeper (doc 1) is global -> dup
    assert got["s1"] == (1, 1, 1)


def test_embedding_near_pairs_cells_subset_and_recall(spark):
    """near_pairs_cells anchor (the sub-quadratic near-pair inventory):
    nlist=1 equals the brute-force pair set exactly; with real cells the
    output is a SUBSET of exact (cosines recomputed, never a false
    positive) with high recall on clustered vectors; auto-nlist bounds
    cell size."""
    import random

    from scikit_learn_imputer_spark.dedup.embedding import (
        embedding_near_pairs,
        embedding_near_pairs_cells,
    )

    rng = random.Random(11)
    rows = []
    vid = 0
    # three tight clusters of 20 + background noise
    for c in range(3):
        center = [rng.uniform(-1, 1) for _ in range(16)]
        for _ in range(20):
            vec = [x + rng.uniform(-0.02, 0.02) for x in center]
            rows.append((vid, vec)); vid += 1
    for _ in range(40):
        rows.append((vid, [rng.uniform(-1, 1) for _ in range(16)])); vid += 1
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    exact = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in embedding_near_pairs(df, threshold=0.95).collect()
    }
    assert len(exact) >= 3 * (20 * 19) // 2  # intra-cluster pairs exist

    # exact limit: one cell == brute force
    one = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in embedding_near_pairs_cells(df, threshold=0.95, nlist=1).collect()
    }
    assert one == exact

    # real cells: subset with exact cosines, recall floor on clusters
    cells = {
        (r["id_a"], r["id_b"]): round(r["cosine"], 9)
        for r in embedding_near_pairs_cells(
            df, threshold=0.95, nlist=4, max_iter=10
        ).collect()
    }
    assert set(cells) <= set(exact)
    for k, v in cells.items():
        assert v == exact[k]  # recomputed cosine, not an estimate
    assert len(cells) / len(exact) >= 0.9  # tight clusters land in one cell

    # auto-nlist derives from target cell size
    auto = embedding_near_pairs_cells(
        df, threshold=0.95, target_cell_rows=25
    )
    got = {(r["id_a"], r["id_b"]) for r in auto.collect()}
    assert got <= set(exact) and len(got) / len(exact) >= 0.5

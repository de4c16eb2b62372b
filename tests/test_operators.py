"""E1-E5 operator semantics on small controlled inputs + the sf0.001 corpus."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tagtree_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash60,
    word_shingles,
)
from tagtree_spark.operators.similarity import cosine_topk, lsh_bucket_topk
from tagtree_spark.operators.text import lang_id, lang_stats
from tagtree_spark.plans.inspect import has_cartesian


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])


def test_exact_dedup_collapses_identical_texts(spark):
    d = _docs(
        spark,
        [
            (1, "a b c", "en", "s", 5),
            (2, "a b c", "en", "s", 5),
            (3, "x y z", "en", "s", 5),
        ],
    )
    out = {r.keep_id: r.n_copies for r in exact_dedup(d).collect()}
    assert out == {1: 2, 3: 1}


def test_word_shingles_short_text_guard(spark):
    d = _docs(spark, [(1, "one two", "en", "s", 7)])
    row = word_shingles(d).collect()[0]
    assert row.shingles == []


def test_minhash_finds_identical_docs(spark):
    text = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    d = _docs(spark, [(1, text, "en", "s", 1), (2, text, "en", "s", 1), (3, other, "en", "s", 1)])
    pairs = {(r.doc_a, r.doc_b): r.n_match for r in minhash_near_dup_pairs(d).collect()}
    assert pairs == {(1, 2): 12}


def test_minhash_no_cartesian_in_plan(documents):
    assert not has_cartesian(minhash_near_dup_pairs(documents))


def test_hot_bucket_cap_bounds_pair_generation(spark):
    """A degenerate corpus (many identical docs → one giant LSH bucket)
    must NOT explode into O(d²) pairs: the bucket cap drops the hot bucket
    while genuine near-dups in small buckets are still found."""
    from tagtree_spark.operators.dedup import dropped_bucket_stats, simhash_near_dup_pairs

    boiler = " ".join(f"b{i}" for i in range(30))
    near_a = " ".join(f"w{i}" for i in range(30))
    near_b = " ".join(f"w{i}" for i in range(29)) + " zz"
    rows = [(i, boiler, "en", "s", 1) for i in range(1000)]
    rows += [(2001, near_a, "en", "s", 1), (2002, near_b, "en", "s", 1)]
    d = _docs(spark, rows)

    pairs = minhash_near_dup_pairs(d, max_bucket=100).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    # the 1000 boilerplate docs would contribute 499,500 pairs uncapped;
    # with the cap they contribute none, and the real near-dup survives
    assert (2001, 2002) in got
    assert not any(a < 2000 and b < 2000 for a, b in got)

    sh_pairs = {(r.doc_a, r.doc_b) for r in simhash_near_dup_pairs(d, max_bucket=100).collect()}
    assert (2001, 2002) in sh_pairs
    assert not any(a < 2000 and b < 2000 for a, b in sh_pairs)


def test_simhash_pairs_precomputed_fp_matches_inline(spark):
    """The r13 shared-fingerprint path (fp=) must produce the identical
    pair set as the inline fold — q28/q189 read the session-shared
    _sfp frame through it."""
    from tagtree_spark.operators.dedup import simhash_near_dup_pairs

    near_a = " ".join(f"w{i}" for i in range(30))
    near_b = " ".join(f"w{i}" for i in range(29)) + " zz"
    other = " ".join(f"x{i}" for i in range(30))
    d = _docs(
        spark,
        [(1, near_a, "en", "s", 1), (2, near_b, "en", "s", 1), (3, other, "en", "s", 1)],
    )
    inline = sorted(
        (r.doc_a, r.doc_b, r.hamming) for r in simhash_near_dup_pairs(d).collect()
    )
    shared = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in simhash_near_dup_pairs(d, fp=simhash60(d)).collect()
    )
    assert inline == shared and (1, 2) in {(a, b) for a, b, _ in inline}


def test_minhash_sigs_precomputed_matches_inline(spark):
    """The r14 shared signature-table path (sigs=) must produce the
    identical pair set / band histogram as the inline shingle+fold —
    q25 (via _mh_pairs), q75 and q195 read the session-shared _msig
    frame through it."""
    from pyspark.sql import functions as F

    from tagtree_spark.operators.dedup import (
        H31_MASK,
        cross_corpus_near_dup,
        doc_shingle_hashes,
        lsh_band_histogram,
        minhash_near_dup_pairs,
        minhash_signature,
    )

    near_a = " ".join(f"w{i}" for i in range(30))
    near_b = " ".join(f"w{i}" for i in range(29)) + " zz"
    other = " ".join(f"x{i}" for i in range(30))
    d = _docs(
        spark,
        [(1, near_a, "en", "s", 1), (2, near_b, "en", "s", 1),
         (3, other, "en", "s", 1), (4, near_a + " yy", "en", "s", 1)],
    )
    # the _msig builder expression, verbatim
    sigs = doc_shingle_hashes(d).select(
        "doc_id",
        minhash_signature(
            F.array_distinct(
                F.transform("hs", lambda x: x.bitwiseAND(F.lit(H31_MASK)))
            )
        ).alias("sig"),
    )
    inline = sorted(map(tuple, minhash_near_dup_pairs(d).collect()))
    shared = sorted(map(tuple, minhash_near_dup_pairs(d, sigs=sigs).collect()))
    assert inline == shared and (1, 2) in {(a, b) for a, b, _ in inline}

    h_inline = sorted(map(tuple, lsh_band_histogram(d).collect()))
    h_shared = sorted(map(tuple, lsh_band_histogram(d, sigs=sigs).collect()))
    assert h_inline == h_shared and h_inline

    a = d.where(F.col("doc_id") % 2 == 0)
    b = d.where(F.col("doc_id") % 2 == 1)
    x_inline = sorted(map(tuple, cross_corpus_near_dup(a, b).collect()))
    x_shared = sorted(
        map(tuple, cross_corpus_near_dup(a, b, sigs=sigs).collect())
    )
    assert x_inline == x_shared and x_inline


def test_precomputed_frame_guards_refuse_mismatched_params(spark):
    """A precomputed sigs=/pairs=/dup= frame is one of the shared
    artifacts, built at its declared params constant; asking an operator
    for other parameters next to it must refuse loudly (driver-side, no
    Spark action) instead of returning plausible wrong rows."""
    import pytest

    from tagtree_spark.operators.dedup import (
        MINHASH_SIG_PARAMS,
        PAIR_COUNT_PARAMS,
        lsh_band_histogram,
        span_dup_stats,
    )

    d = _docs(spark, [(1, "a b c d", "en", "s", 7)])
    sigs = spark.createDataFrame(
        [(1, [0] * MINHASH_SIG_PARAMS["n_perm"])], "doc_id bigint, sig array<bigint>"
    )
    with pytest.raises(ValueError, match="n_perm"):
        minhash_near_dup_pairs(d, sigs=sigs, n_perm=MINHASH_SIG_PARAMS["n_perm"] - 4)
    with pytest.raises(ValueError, match="n_bands"):
        lsh_band_histogram(d, sigs=sigs, n_bands=MINHASH_SIG_PARAMS["n_bands"] - 1)
    minhash_near_dup_pairs(d, sigs=sigs)  # the declared params pass
    pairs = spark.createDataFrame(
        [(1, 2, 1, 1, 1)], "doc_a bigint, doc_b bigint, n_common bigint, n_a bigint, n_b bigint"
    )
    with pytest.raises(ValueError, match="max_df"):
        ngram_jaccard_pairs(d, pairs=pairs, max_df=PAIR_COUNT_PARAMS["max_df"] + 1)
    with pytest.raises(ValueError, match="sh=set"):
        ngram_jaccard_pairs(d, pairs=pairs, sh=pairs)
    with pytest.raises(ValueError, match="window"):
        span_dup_stats(d, n=4, dup=pairs)


def test_set_overlap_precomputed_pairs_matches_inline(spark):
    """The r13 shared pair-count path (pairs=) must produce identical
    rows as the inline bucket build for BOTH Jaccard and containment —
    q32/q99/q194/q269/q284 read the session-shared _spc frame through
    it."""
    from tagtree_spark.operators.dedup import (
        _shingle_pair_counts,
        containment_drop_list,
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    base = " ".join(f"w{i}" for i in range(20))
    excerpt = " ".join(f"w{i}" for i in range(8))
    other = " ".join(f"x{i}" for i in range(20))
    d = _docs(
        spark,
        [(1, base, "en", "s", 1), (2, base + " tail", "en", "s", 1),
         (3, excerpt, "en", "s", 1), (4, other, "en", "s", 1)],
    )
    spc = _shingle_pair_counts(d)
    for fn, kw in (
        (ngram_jaccard_pairs, {}),
        (ngram_containment_pairs, {"min_containment_pct": 90}),
        (containment_drop_list, {"min_containment_pct": 90}),
    ):
        inline = sorted(map(tuple, fn(d, **kw).collect()))
        shared = sorted(map(tuple, fn(d, pairs=spc, **kw).collect()))
        assert inline == shared and inline, fn.__name__


def test_span_dup_stats_precomputed_dup_matches_inline(spark):
    """The r13 shared duplicated-window path (dup=) must reproduce the
    inline md5-window pass row-for-row — q92 reads the session-shared
    _dupwin frame through it. Covers within-doc repeats, cross-doc
    dups, dup-free docs and too-short docs."""
    from tagtree_spark.operators.dedup import dup_window_positions, span_dup_stats

    w = " ".join(f"w{i}" for i in range(10))
    rep = " ".join(f"r{i % 4}" for i in range(16))  # within-doc repeated windows
    uniq = " ".join(f"u{i}" for i in range(12))
    short = "a b c"
    d = _docs(
        spark,
        [(1, w, "en", "s", 1), (2, w + " tail", "en", "s", 1),
         (3, rep, "en", "s", 1), (4, uniq, "en", "s", 1), (5, short, "en", "s", 1)],
    )
    inline = sorted(map(tuple, span_dup_stats(d, n=8).collect()))
    shared = sorted(
        map(tuple, span_dup_stats(d, n=8, dup=dup_window_positions(d, window=8)).collect())
    )
    assert inline == shared and {r[0] for r in inline} == {1, 2, 3, 4}


def test_dropped_bucket_stats_reports_hot_buckets(spark):
    from tagtree_spark.operators.dedup import dropped_bucket_stats

    df = spark.createDataFrame(
        [("hot", i) for i in range(50)] + [("cold", 1), ("cold", 2)], ["band", "doc_id"]
    )
    row = dropped_bucket_stats(df, "band", max_bucket=10).collect()[0]
    assert row.n_buckets == 2
    assert row.n_dropped == 1
    assert row.max_bucket_size == 50
    assert row.dropped_rows == 50


def test_simhash_identical_docs_equal_fingerprints(spark):
    text = " ".join(f"w{i}" for i in range(30))
    d = _docs(spark, [(1, text, "en", "s", 1), (2, text, "en", "s", 1)])
    fps = [r.simhash for r in simhash60(d).collect()]
    assert fps[0] == fps[1] and fps[0] > 0


def test_ngram_jaccard_exact_counts(spark):
    # doc1/doc2 share all but one word of a 10-word text
    base = [f"w{i}" for i in range(10)]
    mod = base[:9] + ["DIFF"]
    d = _docs(
        spark,
        [(1, " ".join(base), "en", "s", 1), (2, " ".join(mod), "en", "s", 1)],
    )
    rows = ngram_jaccard_pairs(d, min_jaccard_pct=10).collect()
    assert len(rows) == 1
    r = rows[0]
    # 8 shingles each; only the 3-gram starting at index 7 contains DIFF
    # (start indices 8/9 would run past the end) → 7 common
    assert (r.n_a, r.n_b, r.n_common) == (8, 8, 7)


def test_ngram_jaccard_df_cap_drops_stop_shingles(spark):
    """Shingles above the document-frequency cap must not contribute to
    n_common or the per-doc sizes (the corpus never exercises this branch;
    pin it here)."""
    shared = "STOP1 STOP2 STOP3"  # one shingle, present in every doc
    docs = [(i, f"{shared} u{i}a u{i}b u{i}c", "en", "s", 1) for i in range(1, 5)]
    d = _docs(spark, docs)
    # Without a cap: every pair shares the stop shingle (n_common >= 1).
    uncapped = ngram_jaccard_pairs(d, min_jaccard_pct=1, max_df=100).collect()
    assert len(uncapped) == 6  # all C(4,2) pairs share the stop shingle
    # Cap at df<=3: the stop shingle (df=4) is dropped → no shared shingles.
    capped = ngram_jaccard_pairs(d, min_jaccard_pct=1, max_df=3).collect()
    assert capped == []


def test_cosine_topk_identical_vector_scores_one(spark):
    rows = [(0, [1.0, 2.0, 3.0], 0), (1, [2.0, 4.0, 6.0], 0), (2, [-3.0, 1.0, 0.0], 0)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = cosine_topk(emb, query_id=0, k=2).collect()
    assert out[0].vec_id == 1
    assert math.isclose(out[0].score, 1.0, rel_tol=1e-12)


def test_lsh_bucket_subset_of_brute_force(embeddings):
    """LSH candidates are a subset of the corpus; scores must agree with the
    brute-force scores for the same ids (same fold → identical doubles)."""
    brute = {r.vec_id: r.score for r in cosine_topk(embeddings, 0, k=500).collect()}
    for r in lsh_bucket_topk(embeddings, 0, k=5, n_planes=4, dim=64).collect():
        assert r.vec_id in brute
        assert math.isclose(brute[r.vec_id], r.score, rel_tol=0, abs_tol=0)


def test_ivf_full_probe_equals_brute_force(embeddings):
    """nprobe = n_cells must degenerate to exact search: same ids, same
    bit-identical scores as the brute-force baseline."""
    from tagtree_spark.operators.similarity import ivf_topk

    brute = [(r.vec_id, r.score) for r in cosine_topk(embeddings, 0, k=10).collect()]
    ivf = [
        (r.vec_id, r.score)
        for r in ivf_topk(embeddings, 0, k=10, n_cells=8, nprobe=8).collect()
    ]
    assert ivf == brute


def test_ivf_probe_subset(embeddings):
    """nprobe=1 results are a subset of the corpus with scores matching the
    brute-force scores exactly for the same ids."""
    from tagtree_spark.operators.similarity import ivf_topk

    brute = {r.vec_id: r.score for r in cosine_topk(embeddings, 0, k=500).collect()}
    for r in ivf_topk(embeddings, 0, k=5, n_cells=8, nprobe=1).collect():
        assert brute[r.vec_id] == r.score


def test_lang_stats_counts(documents):
    out = lang_stats(documents)
    total = out.agg(F.sum("n_docs")).collect()[0][0]
    assert total == documents.count()


def test_lang_id_deterministic_tie_break(spark):
    # 'de la' scores 1 for es ('la') and 1 for fr ('le'? no — 'la' is in both
    # es and fr lexicons): es wins by declaration order over fr.
    d = _docs(spark, [(1, "la la zz", "en", "s", 1)])
    row = lang_id(d).collect()[0]
    assert row.pred_lang == "es"
    d2 = _docs(spark, [(2, "zz qq", "en", "s", 1)])
    assert lang_id(d2).collect()[0].pred_lang == "und"


def test_token_features_on_generic_frame(spark):
    """token_features must work on any (id, text) frame — lang/source pass
    through only when present (ADVICE r2)."""
    from tagtree_spark.operators.text import token_features

    bare = spark.createDataFrame([(1, "a bb ccc")], ["doc_id", "text"])
    row = token_features(bare).collect()[0]
    assert row.n_tokens == 3 and row.max_token_len == 3 and row.n_short_tokens == 2
    assert "lang" not in token_features(bare).columns


def test_approx_percentiles_error_bound(spark):
    """The at-scale percentile path (GK sketch) must stay within its rank
    error bound of the exact form: with accuracy=10_000 the reported pXX
    must lie between the exact values at p∓0.001 (rank error n/accuracy ⇒
    percentile error 1e-4 ≪ 1e-3)."""
    from tagtree_spark.io import load_table
    from tagtree_spark.operators.aggregates import approx_percentiles, exact_percentiles

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    expr = "CAST(l_quantity AS BIGINT)"
    lo = {
        r.l_returnflag: (r.p49, r.p94)
        for r in exact_percentiles(li, ["l_returnflag"], expr, [0.499, 0.949]).withColumnRenamed(
            "p49", "p49"
        ).collect()
    }
    hi = {
        r.l_returnflag: (r.p50, r.p95)
        for r in exact_percentiles(li, ["l_returnflag"], expr, [0.501, 0.951]).collect()
    }
    approx = approx_percentiles(li, ["l_returnflag"], expr, [0.5, 0.95])
    for r in approx.collect():
        lo50, lo95 = lo[r.l_returnflag]
        hi50, hi95 = hi[r.l_returnflag]
        assert lo50 <= r.p50 <= hi50, (r.l_returnflag, lo50, r.p50, hi50)
        assert lo95 <= r.p95 <= hi95, (r.l_returnflag, lo95, r.p95, hi95)


def test_kmeans_codebook_deterministic(embeddings):
    from tagtree_spark.operators.similarity import kmeans_codebook

    a = kmeans_codebook(embeddings, n_cells=4, n_iters=3, train_sample=128)
    b = kmeans_codebook(embeddings, n_cells=4, n_iters=3, train_sample=128)
    assert a == b
    assert len(a) == 4 and len(a[0]) == 64


def test_ivf_kmeans_full_probe_equals_brute_force(embeddings):
    """The nprobe=n_cells degeneracy must hold for a TRAINED codebook too —
    cell shapes affect pruning, never scoring."""
    from tagtree_spark.operators.similarity import ivf_topk, kmeans_codebook

    cb = kmeans_codebook(embeddings, n_cells=8)
    brute = [(r.vec_id, r.score) for r in cosine_topk(embeddings, 0, k=10).collect()]
    ivf = [
        (r.vec_id, r.score)
        for r in ivf_topk(embeddings, 0, k=10, n_cells=8, nprobe=8, codebook=cb).collect()
    ]
    assert ivf == brute


def test_ivf_kmeans_recall(embeddings):
    """Recall of the trained-codebook IVF vs exact brute force at a modest
    nprobe: the measured recall@10 documents the honesty upgrade over the
    first-n stand-in (VERDICT r2 next-round #7)."""
    from tagtree_spark.operators.similarity import ivf_topk, kmeans_codebook

    cb = kmeans_codebook(embeddings, n_cells=8)
    brute = {r.vec_id for r in cosine_topk(embeddings, 0, k=10).collect()}
    got = {
        r.vec_id
        for r in ivf_topk(embeddings, 0, k=10, n_cells=8, nprobe=2, codebook=cb).collect()
    }
    recall = len(got & brute) / len(brute)
    assert recall >= 0.5, f"recall@10 with nprobe=2/8 fell to {recall}"


def test_pq_codes_exact_when_corpus_is_codebook(embeddings):
    """With the corpus restricted to the 16 codebook vectors, PQ encoding
    is lossless: every sub-vector IS a centroid (qerr = 0, code = own id)
    and ADC distances equal the exact grid squared-L2 to the query."""
    from pyspark.sql import functions as F

    from tagtree_spark.operators.similarity import (
        PQ_SCALE,
        pq_adc_topk,
        pq_codes,
    )

    sixteen = embeddings.where(F.col("vec_id") < 16)
    codes = pq_codes(sixteen).collect()
    assert len(codes) == 16 * 8
    assert all(r.qerr == 0 and r.code == r.vec_id for r in codes)
    # ADC against the self-codebook = exact integer squared L2
    import math

    rows = {r[0]: list(r[1]) for r in sixteen.select("vec_id", "embedding").collect()}

    def grid(v):
        # round half away from zero, as Spark round() and DuckDB round() do
        return [
            int(math.copysign(math.floor(abs(float(x)) * PQ_SCALE + 0.5), x))
            for x in v
        ]

    def l2(a, b):
        return sum((ai - bi) ** 2 for ai, bi in zip(a, b))

    gq = grid(rows[0])
    exact = {vid: l2(grid(v), gq) for vid, v in rows.items() if vid != 0}
    got = {r.vec_id: r.adist for r in pq_adc_topk(sixteen, 0, k=15).collect()}
    assert got == dict(sorted(exact.items(), key=lambda kv: (kv[1], kv[0]))[:15])


def test_pq_rejects_bad_dims(embeddings):
    """A dim that doesn't split into n_sub must raise (silently dropping
    trailing dimensions from every distance was the review-r7 hazard),
    and a declared dim differing from the ACTUAL vector length must fail
    at scan time, not encode half the vector."""
    import pytest

    from tagtree_spark.operators.similarity import pq_codes

    with pytest.raises(ValueError, match="split evenly"):
        pq_codes(embeddings, n_sub=8, dim=100)
    # 64-dim vectors declared as 32: divides evenly, but the scan guard
    # must refuse rather than quantize only the first half
    with pytest.raises(Exception, match="vector length"):
        pq_codes(embeddings, n_sub=4, dim=32).collect()


def test_pq_adc_recall_with_trained_codebooks(embeddings):
    """PQ ADC with per-subspace kmeans codebooks must retrieve a usable
    fraction of the true top-10 (PQ is a lossy 32x compression; the
    recall documents the honesty of the approximation, like
    test_ivf_kmeans_recall does for IVF)."""
    from tagtree_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_rerank_topk,
    )

    # the fixture embeddings are unit-norm, so cosine top-k IS the L2
    # ground truth the ADC approximates
    cbs = pq_codebooks(embeddings, ks=64)
    brute = {r.vec_id for r in cosine_topk(embeddings, 0, k=10).collect()}
    got = {
        r.vec_id
        for r in pq_adc_topk(embeddings, 0, k=10, ks=64, codebooks=cbs).collect()
    }
    recall = len(got & brute) / len(brute)
    assert recall >= 0.25, f"PQ ADC recall@10 fell to {recall}"
    # the production two-stage shape: ADC shortlist + exact rerank —
    # quantization error only costs recall when a true neighbour misses
    # the shortlist, so this stage carries the real retrieval contract
    rr = {
        r.vec_id
        for r in pq_rerank_topk(
            embeddings, 0, k=10, shortlist=80, ks=64, codebooks=cbs
        ).collect()
    }
    rerank_recall = len(rr & brute) / len(brute)
    assert rerank_recall >= 0.7, f"PQ rerank recall@10 fell to {rerank_recall}"
    assert rerank_recall > recall  # the rerank stage must actually help


def test_pq_adc_batch_agrees_with_single_query(embeddings):
    """The batched multi-query ADC must rank exactly like the single-query
    path for every query in the batch (one scan, same integers)."""
    from pyspark.sql import functions as F

    from tagtree_spark.operators.similarity import pq_adc_batch_topk, pq_adc_topk

    batch = pq_adc_batch_topk(
        embeddings, embeddings.where(F.col("vec_id") < 3), k=5
    ).collect()
    for qid in range(3):
        single = [
            (r.vec_id, r.adist) for r in pq_adc_topk(embeddings, qid, k=5).collect()
        ]
        got = [
            (r.vec_id, r.adist)
            for r in sorted((x for x in batch if x.qid == qid), key=lambda x: x.rn)
        ]
        assert got == single, f"qid={qid}: {got} != {single}"


def test_ivfpq_residual_probes_only_nearest_cells(embeddings):
    """Residual IVF+PQ structure: every returned candidate sits in one of
    the nprobe cells nearest the query, distances are exact non-negative
    integers, and a rerun reproduces the result bit-for-bit (grid-integer
    determinism end-to-end)."""
    from pyspark.sql import functions as F

    from tagtree_spark.operators.similarity import (
        cosine,
        ivf_assignments,
        ivfpq_residual_adc_topk,
    )

    out = ivfpq_residual_adc_topk(embeddings, 0, k=10, nprobe=2).collect()
    assert len(out) == 10
    assert all(r.adist >= 0 for r in out)
    # the two cells nearest vector 0 under the first-8 stand-in codebook
    assigned = ivf_assignments(embeddings, n_cells=8)
    qv = embeddings.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv")
    )
    cents = embeddings.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    ranked = (
        cents.join(F.broadcast(qv))
        .select("cid", cosine("cv", "qv").alias("cs"))
        .orderBy(F.col("cs").desc(), "cid")
        .limit(2)
        .collect()
    )
    probe = {r.cid for r in ranked}
    assert {r.cid for r in out} <= probe
    again = ivfpq_residual_adc_topk(embeddings, 0, k=10, nprobe=2).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in again]


def test_triangle_stats_hand_check(spark):
    """Triangle 1-2-3 plus pendant edge 3-4: one triangle; wedges =
    C(2,2)+C(2,2)+C(3,2)+C(1,2) = 1+1+3+0 = 5; closure = 3/5 exact ppm."""
    from tagtree_spark.operators.graph import triangle_stats

    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], ["doc_a", "doc_b"]
    )
    r = triangle_stats(pairs).collect()[0]
    assert (r.n_triangles, r.n_wedges, r.closure_ppm) == (1, 5, 600000)
    # edgeless graph: zeros, no division error
    empty = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    r0 = triangle_stats(empty).collect()[0]
    assert (r0.n_triangles, r0.n_wedges, r0.closure_ppm) == (0, 0, 0)


def test_near_dup_clusters_components(spark):
    """Min-label propagation must find exact components: a chain (1-2-3),
    a separate pair (10-11), an isolated doc never appears."""
    from tagtree_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {r.doc_id: r.cluster_id for r in near_dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_near_dup_clusters_long_chain_converges(spark):
    """A 12-node path graph needs ~diameter rounds — still converges and
    labels everything with the chain head."""
    from tagtree_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 12)], ["doc_a", "doc_b"]
    )
    got = {r.doc_id: r.cluster_id for r in near_dup_clusters(pairs, max_iters=15).collect()}
    assert got == {i: 1 for i in range(1, 13)}


def test_asof_instant_picks_latest_within_lookback(spark):
    import datetime as dt

    from tagtree_spark.tsdb.asof import asof_instant

    T = dt.datetime
    samples = spark.createDataFrame(
        [
            (1, T(2024, 1, 9, 12), 5.0),   # within lookback of eval 2024-01-10
            (1, T(2024, 1, 9, 18), 7.0),   # later → wins
            (1, T(2024, 1, 2, 0), 9.0),    # stale (outside 3d lookback)
            (2, T(2024, 1, 1, 0), 4.0),    # series 2 has nothing in range
        ],
        "tsid long, ts timestamp, value double",
    )
    out = asof_instant(samples, [T(2024, 1, 10)], dt.timedelta(days=3)).collect()
    assert len(out) == 1  # series 2 absent: no sample within lookback
    r = out[0]
    assert r.tsid == 1 and r.value == 7.0
    assert r.last_ts_us == int(T(2024, 1, 9, 18).timestamp() * 1_000_000)


def test_stratified_sample_deterministic_and_stratified(documents):
    from tagtree_spark.operators.sampling import stratified_sample

    a = {r.doc_id for r in stratified_sample(documents, 20).collect()}
    b = {r.doc_id for r in stratified_sample(documents, 20).collect()}
    assert a == b and a  # deterministic, non-empty
    # membership is stable under corpus growth: sampling a subset yields
    # exactly the intersection (the property df.sample() lacks)
    half = documents.where(F.col("doc_id") % 2 == 0)
    c = {r.doc_id for r in stratified_sample(half, 20).collect()}
    assert c == {d for d in a if d % 2 == 0}
    # a larger pct strictly contains the smaller sample (nested splits)
    d = {r.doc_id for r in stratified_sample(documents, 50).collect()}
    assert a <= d


def test_top_tokens_exact_counts(spark):
    from tagtree_spark.operators.text import top_tokens

    d = _docs(spark, [(1, "a b a", "en", "s", 5), (2, "b a", "en", "s", 3)])
    rows = [(r.token, r.n) for r in top_tokens(d, k=2).collect()]
    assert rows == [("a", 3), ("b", 2)]


def test_dedup_survivors_keep_one_plus_singletons(spark):
    """Clusters {1,2,3} and {10,11} collapse to min-id survivors with
    member counts; untouched doc 20 survives as a singleton."""
    from tagtree_spark.operators.dedup import dedup_survivors

    docs = _docs(spark, [(i, "t", "en", "s", 1) for i in (1, 2, 3, 10, 11, 20)])
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["doc_a", "doc_b"])
    got = {r.keep_id: r.n_members for r in dedup_survivors(docs, pairs).collect()}
    assert got == {1: 3, 10: 2, 20: 1}


def test_chunk_documents_windows_and_tail(spark):
    """len=25, size=10, stride=8 -> starts 1,9,17,25: three full-ish chunks
    plus the 1-char tail; chunks overlap by size-stride chars."""
    from tagtree_spark.operators.text import chunk_documents

    text = "abcdefghijklmnopqrstuvwxy"  # 25 chars
    d = _docs(spark, [(7, text, "en", "s", 25)])
    rows = sorted(
        (r.chunk_idx, r.n_chunk_chars) for r in chunk_documents(d, size=10, stride=8).collect()
    )
    assert rows == [(0, 10), (1, 10), (2, 9), (3, 1)]


def test_benchmark_contamination_counts_shared_ngrams(spark):
    from tagtree_spark.operators.dedup import benchmark_contamination

    docs = _docs(
        spark,
        [
            (1, "alpha beta gamma delta", "en", "s", 1),  # shares 2 bench 3-grams
            (2, "nothing in common here at all", "en", "s", 1),
        ],
    )
    out = {r.doc_id: r.n_hits for r in benchmark_contamination(docs, ["alpha beta gamma delta"]).collect()}
    assert out == {1: 2}


def test_redact_replaces_and_counts(spark):
    from tagtree_spark.operators.text import redact

    d = _docs(spark, [(1, "customer asks a query about vectors", "en", "s", 1)])
    r = redact(d).collect()[0]
    # 'vectors' must NOT match (word boundary); customer + query do
    assert r.n_hits == 2
    assert r.n_red_chars == len("<TERM> asks a <TERM> about vectors")


def test_range_agg_window_aggregates(spark):
    import datetime as dt

    from tagtree_spark.tsdb.asof import range_agg

    T = dt.datetime
    samples = spark.createDataFrame(
        [
            (1, T(2024, 1, 9, 0), 4.0),
            (1, T(2024, 1, 9, 12), 8.0),
            (1, T(2024, 1, 2, 0), 100.0),  # outside 3d lookback
        ],
        "tsid long, ts timestamp, value double",
    )
    r = range_agg(samples, [T(2024, 1, 10)], dt.timedelta(days=3)).collect()[0]
    assert (r.n_samples, r.v_min, r.v_max, r.v_avg) == (2, 4.0, 8.0, 6.0)


def test_repetition_features_exact_counts(spark):
    from tagtree_spark.operators.text import repetition_features

    d = _docs(
        spark,
        [
            (1, "a a a b", "en", "s", 7),   # 2grams: 'a a','a a','a b' → uniq 2
            (2, "x", "en", "s", 1),          # single token: no 2-grams
            (3, "p q r s", "en", "s", 7),    # no repetition at all
        ],
    )
    out = {r.doc_id: r for r in repetition_features(d).collect()}
    r1 = out[1]
    assert (r1.n_tokens, r1.n_uniq_tokens, r1.n_2grams, r1.n_uniq_2grams) == (4, 2, 3, 2)
    assert r1.n_repeat_pairs == 2  # (a,a) at positions 1-2 and 2-3
    assert r1.dup_token_frac == 0.5
    assert r1.dup_2gram_frac == (3 - 2) / 3
    r2 = out[2]
    assert (r2.n_2grams, r2.dup_2gram_frac) == (0, 0.0)
    r3 = out[3]
    assert (r3.n_repeat_pairs, r3.dup_token_frac) == (0, 0.0)


def test_pack_sequences_offsets_and_straddles(spark):
    from tagtree_spark.operators.packing import pack_sequences

    # shard s: 3 + 4 + 2 tokens, budget 4 → doc 2 straddles seqs 0-1
    d = _docs(
        spark,
        [
            (1, "a b c", "s", "s", 5),
            (2, "d e f g", "s", "s", 7),
            (3, "h i", "s", "s", 3),
            (10, "z z z z z", "t", "t", 9),  # other shard packs independently
        ],
    )
    out = {r.doc_id: r for r in pack_sequences(d, budget=4, shard_col="source").collect()}
    assert (out[1].start_offset, out[1].begin_seq, out[1].end_seq) == (0, 0, 0)
    assert (out[2].start_offset, out[2].begin_seq, out[2].end_seq) == (3, 0, 1)
    assert (out[3].start_offset, out[3].begin_seq, out[3].end_seq) == (7, 1, 2)
    assert (out[10].start_offset, out[10].begin_seq, out[10].end_seq) == (0, 0, 1)


def test_pack_sequences_rejects_bad_budget(spark):
    import pytest

    from tagtree_spark.operators.packing import pack_sequences

    with pytest.raises(ValueError):
        pack_sequences(_docs(spark, [(1, "a", "en", "s", 1)]), budget=0)


def test_packing_report_hand_check(spark):
    from tagtree_spark.operators.packing import packing_report

    # shard s: 3 + 4 + 2 = 9 tokens, budget 4 → 3 seqs (last holds 1
    # token → 3 waste); docs 2 and 3 straddle a boundary
    d = _docs(
        spark,
        [
            (1, "a b c", "s", "s", 5),
            (2, "d e f g", "s", "s", 7),
            (3, "h i", "s", "s", 3),
            (10, "z z z z", "t", "t", 7),  # 4 tokens = exactly 1 seq, 0 waste
        ],
    )
    out = {r.shard: r for r in packing_report(d, budget=4, shard_col="source").collect()}
    s = out["s"]
    assert (s.n_docs, s.total_tokens, s.n_seqs, s.n_straddlers, s.tail_waste) == (
        3, 9, 3, 2, 3,
    )
    t = out["t"]
    assert (t.n_docs, t.total_tokens, t.n_seqs, t.n_straddlers, t.tail_waste) == (
        1, 4, 1, 0, 0,
    )


def test_curriculum_order_bands_and_determinism(spark):
    from tagtree_spark.operators.sampling import curriculum_order

    # 12 docs in one source with word counts 1..12 → 3 equi-depth bands
    # of 4; band respects the (n_words, doc_id) order; positions are a
    # permutation of 1..4 inside each band and reruns agree exactly
    rows = [(i, " ".join(["w"] * i), "en", "src", i) for i in range(1, 13)]
    d = _docs(spark, rows)
    out = curriculum_order(d, n_bands=3).collect()
    by_band: dict = {}
    for r in out:
        by_band.setdefault(r.band, []).append(r)
    assert sorted(by_band) == [1, 2, 3]
    assert all(len(v) == 4 for v in by_band.values())
    # equi-depth on the sorted difficulty: band 1 = 4 easiest, etc.
    assert {r.n_words for r in by_band[1]} == {1, 2, 3, 4}
    assert {r.n_words for r in by_band[3]} == {9, 10, 11, 12}
    assert all(sorted(r.pos for r in v) == [1, 2, 3, 4] for v in by_band.values())
    again = curriculum_order(d, n_bands=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_token_budget_allocation_hamilton_exact(spark):
    from tagtree_spark.operators.sampling import token_budget_allocation

    # skewed sources; Hamilton's method: Σalloc == budget exactly and
    # every stratum is within 1 token of its exact proportional share
    rows = []
    did = 0
    for src, n_docs, words in (("a", 3, 7), ("b", 1, 13), ("c", 5, 2), ("d", 2, 9)):
        for _ in range(n_docs):
            did += 1
            rows.append((did, " ".join(["w"] * words), "en", src, words))
    d = _docs(spark, rows)
    out = {r.stratum: r for r in token_budget_allocation(d, budget_pct=50).collect()}
    tokens = {"a": 21, "b": 13, "c": 10, "d": 18}
    assert {k: v.tokens for k, v in out.items()} == tokens
    total = sum(tokens.values())
    budget = total * 50 // 100
    assert sum(v.alloc for v in out.values()) == budget
    for k, v in out.items():
        exact = budget * tokens[k] / total
        assert abs(v.alloc - exact) < 1.0


def test_semantic_dedup_drops_higher_id_neighbor(spark):
    from tagtree_spark.operators.similarity import semantic_dedup

    # 4-dim toy vectors, n_cells=2 (codebook = vecs 0 and 1):
    # vec 2 ≈ vec 0 (same direction → same cell, cosine 1.0 → dropped),
    # vec 3 orthogonal-ish to both cells' members → survives.
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], 0),
            (1, [0.0, 1.0, 0.0, 0.0], 0),
            (2, [2.0, 0.0, 0.0, 0.0], 0),
            (3, [0.0, 1.0, 1.0, 1.0], 0),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    kept = semantic_dedup(emb, n_cells=2, threshold=0.9).collect()
    ids = sorted(r.vec_id for r in kept)
    assert ids == [0, 1, 3]


def test_rollup_coarsen_equals_direct(documents, spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from tagtree_spark.tsdb.rollup import coarsen_rollup, rollup_samples

    T = dt.datetime
    samples = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 0, 1), 1.5),
            (1, T(2024, 1, 1, 5, 59), 2.25),
            (1, T(2024, 1, 1, 23, 59), 4.0),
            (2, T(2024, 1, 2, 12, 0), 8.0),
        ],
        "tsid long, ts timestamp, value double",
    )
    daily_direct = rollup_samples(samples, minutes=1440)
    daily_laddered = coarsen_rollup(rollup_samples(samples, minutes=360), 360, 1440)
    a = {(r.tsid, r.bucket_start): (r.n, float(r.v_sum), r.v_min, r.v_max)
         for r in daily_direct.collect()}
    b = {(r.tsid, r.bucket_start): (r.n, float(r.v_sum), r.v_min, r.v_max)
         for r in daily_laddered.collect()}
    assert a == b and len(a) == 2
    assert a[(1, 1704067200)] == (3, 7.75, 1.5, 4.0)


def test_rollup_rejects_non_multiple(spark):
    import pytest

    from tagtree_spark.tsdb.rollup import coarsen_rollup, rollup_samples

    samples = spark.createDataFrame([], "tsid long, ts timestamp, value double")
    with pytest.raises(ValueError):
        coarsen_rollup(rollup_samples(samples, 7), 7, 10)


def test_weighted_mixture_rates_and_determinism(documents):
    from tagtree_spark.operators.sampling import weighted_mixture

    out = weighted_mixture(documents, {"en": 0, "de": 100}, default_pct=50)
    rows = out.select("doc_id", "lang").collect()
    langs = {r.lang for r in rows}
    assert "en" not in langs  # 0% stratum fully dropped
    n_de_total = documents.where("lang = 'de'").count()
    assert sum(1 for r in rows if r.lang == "de") == n_de_total  # 100% kept
    # deterministic: same ids both runs
    again = {r.doc_id for r in weighted_mixture(
        documents, {"en": 0, "de": 100}, default_pct=50).select("doc_id").collect()}
    assert {r.doc_id for r in rows} == again


def test_weighted_mixture_rejects_bad_rate(spark):
    import pytest

    from tagtree_spark.operators.sampling import weighted_mixture

    with pytest.raises(ValueError):
        weighted_mixture(spark.range(1), {"en": 101})


def test_irate_last_two_samples(spark):
    import datetime as dt

    from tagtree_spark.tsdb.promql import irate

    T = dt.datetime
    samples = spark.createDataFrame(
        [
            (1, T(2024, 1, 1, 0, 0, 0), 10.0),
            (1, T(2024, 1, 1, 0, 0, 30), 13.0),
            (1, T(2024, 1, 1, 0, 1, 30), 19.0),  # last two: 30s→90s, dv=6, dt=60
            (2, T(2024, 1, 1), 5.0),             # single sample → no output
        ],
        "tsid long, ts timestamp, value double",
    )
    out = {r.tsid: r for r in irate(samples).collect()}
    assert set(out) == {1}
    r = out[1]
    assert (r.dv, r.dt_sec, r.rate_per_sec) == (6.0, 60, 0.1)


def test_token_rarity_mean_df(spark):
    from tagtree_spark.operators.text import token_rarity

    d = _docs(
        spark,
        [
            (1, "common rare1", "en", "s", 1),   # df(common)=3, df(rare1)=1
            (2, "common rare2", "en", "s", 1),
            (3, "common common", "en", "s", 1),  # distinct → one term
        ],
    )
    out = {r.doc_id: r for r in token_rarity(d).collect()}
    assert (out[1].n_terms, out[1].df_sum, out[1].mean_df) == (2, 4, 2.0)
    assert (out[3].n_terms, out[3].df_sum, out[3].mean_df) == (1, 3, 3.0)


def test_pack_sequences_subshards_split_deterministically(documents):
    from tagtree_spark.operators.packing import pack_sequences

    out = pack_sequences(documents, budget=128, n_subshards=4)
    shards = {r.shard for r in out.select("shard").distinct().collect()}
    # every shard key is source:k with k in 0..3
    assert all(":" in s and int(s.rsplit(":", 1)[1]) in range(4) for s in shards)
    # offsets are contiguous within each subshard
    rows = out.collect()
    by = {}
    for r in rows:
        by.setdefault(r.shard, []).append(r)
    for rs in by.values():
        rs.sort(key=lambda r: r.doc_id)
        off = 0
        for r in rs:
            assert r.start_offset == off
            off += r.n_tokens
    # same assignment on a second run (determinism)
    again = {(r.doc_id, r.shard) for r in
             pack_sequences(documents, budget=128, n_subshards=4).collect()}
    assert {(r.doc_id, r.shard) for r in rows} == again


def test_cross_corpus_near_dup_orientation(spark):
    from tagtree_spark.operators.dedup import cross_corpus_near_dup

    text = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    a = _docs(spark, [(1, text, "en", "s", 1), (2, other, "en", "s", 1)])
    # b contains: a near-dup of doc 1 (cross-corpus hit), plus an internal
    # duplicate pair (11, 12) that must NOT be reported
    b = _docs(
        spark,
        [(10, text, "en", "s", 1), (11, other, "en", "s", 1), (12, other, "en", "s", 1)],
    )
    got = {(r.a_id, r.b_id) for r in cross_corpus_near_dup(a, b).collect()}
    assert (1, 10) in got
    assert all(x in (1, 2) and y >= 10 for x, y in got)
    assert (11, 12) not in got and (12, 11) not in got


def test_profile_table_counts_and_refusal(spark):
    import pytest

    from tagtree_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.5), (2, "b", 3.5)],
        "k bigint, s string, f double",
    )
    out = {r.column: r for r in profile_table(df, ["k", "s"]).collect()}
    assert out["k"].n_rows == 3 and out["k"].n_nulls == 0 and out["k"].n_distinct == 2
    assert (out["k"].min_s, out["k"].max_s) == ("1", "2")
    assert out["s"].n_nulls == 1 and out["s"].n_distinct == 2
    with pytest.raises(ValueError):
        profile_table(df, ["f"])


def test_pivot_missing_combo_counts_zero(spark):
    """A (bucket, event_type) combination with no rows must count 0, not
    NULL (pivot+count yields NULL; the SQL oracle's count(CASE) yields 0 —
    masked by the fixture corpus, pinned here on constructed data)."""
    from tagtree_spark.operators.aggregates import pivot_event_metrics

    sv = spark.createDataFrame(
        [("u0", "click", 1.0), ("u0", "view", 2.0), ("u1", "click", 3.0)],
        "user_bucket string, event_type string, value double",
    )
    out = {r.user_bucket: r for r in
           pivot_event_metrics(sv, ["click", "view", "purchase"]).collect()}
    assert out["u1"].n_view == 0 and out["u1"].n_purchase == 0
    assert out["u0"].n_purchase == 0
    assert out["u1"].sum_view is None  # sums stay NULL in both engines


def test_zorder_key_interleaves_bits(spark):
    from tagtree_spark.operators.layout import zorder_key

    df = spark.createDataFrame([(3, 5)], "x long, y long")
    # x=0b011 → bits at 0,2; y=0b101 → bits at 1,5 → z = 1+4 + 2+128... compute:
    # x bits: i0→pos0(1), i1→pos2(4); y bits: i0→pos1(2), i2→pos5(32)
    z = df.select(zorder_key("x", "y").alias("z")).collect()[0].z
    assert z == 1 + 4 + 2 + 32


def test_zorder_buckets_cluster_both_dims(spark):
    """On a diagonal-ish dataset, z-bucket ranges must be tighter than the
    full domain on BOTH dimensions (the data-skipping property)."""
    from tagtree_spark.operators.layout import zorder_bucket_profile

    rows = [(i, i) for i in range(1024)]
    df = spark.createDataFrame(rows, "x long, y long")
    prof = zorder_bucket_profile(df, "x", "y", n_buckets=8).collect()
    assert len(prof) >= 4
    for r in prof:
        assert r.max_x - r.min_x < 1023  # tighter than the full domain
        assert r.max_y - r.min_y < 1023


def test_epoch_shuffle_deterministic_and_epoch_varying(documents):
    from tagtree_spark.operators.sampling import epoch_shuffle

    a = {(r["doc_id"]): (r["shard"], r["pos"]) for r in epoch_shuffle(documents, 1).collect()}
    b = {(r["doc_id"]): (r["shard"], r["pos"]) for r in epoch_shuffle(documents, 1).collect()}
    c = {(r["doc_id"]): (r["shard"], r["pos"]) for r in epoch_shuffle(documents, 2).collect()}
    assert a == b  # rerun reproduces the identical order
    assert a != c  # a different epoch reshuffles
    # (shard, pos) is a dense unique address: every shard counts 1..n_shard
    addrs = list(a.values())
    assert len(set(addrs)) == len(addrs)
    for s in {sh for sh, _ in addrs}:
        ps = sorted(p for sh, p in addrs if sh == s)
        assert ps == list(range(1, len(ps) + 1))


def test_span_dup_stats_flags_shared_and_repeated_spans(spark):
    from tagtree_spark.operators.dedup import span_dup_stats

    w8 = "t1 t2 t3 t4 t5 t6 t7 t8"
    docs = spark.createDataFrame(
        [
            (1, w8 + " u1 u2"),          # 3 windows; first window shared with doc 2
            (2, w8 + " z9 z8"),          # 3 windows; first window shared with doc 1
            (3, w8 + " " + w8),          # within-doc repetition duplicates windows
            (4, "a b c d e f g h"),      # 1 window, unique
            (5, "too short"),            # < n tokens → excluded
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in span_dup_stats(docs, n=8).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["n_windows"] == 3 and out[1]["n_dup_windows"] == 1
    assert out[2]["n_windows"] == 3 and out[2]["n_dup_windows"] == 1
    # doc 3: 9 windows; the full-repeat makes windows 1 and 9 identical
    assert out[3]["n_windows"] == 9 and out[3]["n_dup_windows"] >= 2
    assert out[4]["n_dup_windows"] == 0 and out[4]["dup_ratio"] == 0.0
    assert out[1]["dup_ratio"] == 1.0 / 3.0


def test_adjacent_pair_stats_counts(spark):
    from tagtree_spark.operators.text import adjacent_pair_stats

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x"), (3, "solo")], ["doc_id", "text"]
    )
    rows = adjacent_pair_stats(docs, k=10).collect()
    counts = {r["pair"]: r["n_pairs"] for r in rows}
    assert counts == {"a b": 3, "b a": 1, "b c": 1, "b x": 1, "a x": 0} or counts == {
        "a b": 3,
        "b a": 1,
        "b c": 1,
        "b x": 1,
    }
    assert rows[0]["pair"] == "a b"  # count-desc, pair-asc total order


def test_clamp_stats_bounds_and_sgn(spark):
    from tagtree_spark.tsdb.promql import clamp_stats

    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    samples = spark.createDataFrame(
        [
            (1, t0, -3.0),
            (1, t0 + dt.timedelta(seconds=1), 0.0),
            (1, t0 + dt.timedelta(seconds=2), 7.5),
            (1, t0 + dt.timedelta(seconds=3), 99.0),
        ],
        ["tsid", "ts", "value"],
    )
    r = clamp_stats(samples, lo=0.0, hi=50.0).collect()[0]
    assert (r["n_samples"], r["n_below"], r["n_above"]) == (4, 1, 1)
    assert (r["clamp_min"], r["clamp_max"]) == (0.0, 50.0)
    assert r["sgn_sum"] == 1  # +1 +1 -1 0


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A short doc fully contained in a long one: low Jaccard (misses at
    50%) but containment 100% — the asymmetric screen's reason to exist."""
    from tagtree_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    words = [f"w{i}" for i in range(60)]
    long_doc = " ".join(words)
    short_doc = " ".join(words[:12])  # exact prefix excerpt
    docs = spark.createDataFrame(
        [(1, long_doc), (2, short_doc)], ["doc_id", "text"]
    )
    j = ngram_jaccard_pairs(docs, min_jaccard_pct=50).collect()
    assert j == []  # J = 10/58 ≈ 0.17 — Jaccard misses it
    c = ngram_containment_pairs(docs, min_containment_pct=80).collect()
    assert len(c) == 1 and c[0].containment_pct == 100


def test_gopher_rules_flags(spark):
    from tagtree_spark.operators.text import gopher_rules

    good = " ".join(f"word{i}" for i in range(30))          # passes all
    short = "one two three"                                  # fails r_len
    repeated = " ".join(["dup"] * 40)                        # fails r_rep+r_ttr
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, repeated)], ["doc_id", "text"]
    )
    rows = {r.doc_id: r for r in gopher_rules(docs).collect()}
    assert rows[1].keep == 1
    assert rows[2].keep == 0 and rows[2].r_len == 0
    assert rows[3].keep == 0 and rows[3].r_rep == 0 and rows[3].r_ttr == 0


def test_bound_range_anchoring(spark, model):
    """Range vectors are anchored: lookback without eval_ts (or vice versa)
    raises; bounding restricts to (eval_ts - lookback, eval_ts]."""
    import datetime as dt

    import pytest

    from tagtree_spark.tsdb.promql import bound_range

    _, _, samples = model
    with pytest.raises(ValueError):
        bound_range(samples, None, dt.timedelta(days=7))
    with pytest.raises(ValueError):
        bound_range(samples, dt.datetime(2024, 1, 20), None)
    b = bound_range(samples, dt.datetime(2024, 1, 20), dt.timedelta(days=7))
    lo, hi = b.agg(F.min("ts"), F.max("ts")).first()
    assert lo > dt.datetime(2024, 1, 13) and hi <= dt.datetime(2024, 1, 20)
    assert bound_range(samples, None, None) is samples


def test_hll_estimate_within_error_band(spark):
    """HLL with m=64 has ~13% standard error; on a 20k-distinct input the
    raw estimator must land within 3σ (~40%) of exact, and the registers
    must be deterministic across runs."""
    from tagtree_spark.operators.sketch import hll_distinct

    df = spark.range(20_000).select(F.concat(F.lit("k"), F.col("id")).alias("k"))
    r1 = hll_distinct(df, "k").first()
    assert r1.n_exact == 20_000
    assert abs(r1.hll_estimate - 20_000) < 0.4 * 20_000, r1
    r2 = hll_distinct(df, "k").first()
    assert r1.hll_estimate == r2.hll_estimate and r1.s_scaled == r2.s_scaled


def test_hll_merge_associative(spark):
    """Sketch merge: registers of two disjoint halves merged == registers
    of the whole — the associativity that makes HLL a map-side partial."""
    from tagtree_spark.operators.sketch import (
        hll_estimate_from_registers,
        hll_registers,
        merge_registers,
    )

    df = spark.range(10_000).select(F.concat(F.lit("u"), F.col("id")).alias("k"))
    a = df.where(F.col("k").substr(2, 9).cast("long") % 2 == 0)
    b = df.where(F.col("k").substr(2, 9).cast("long") % 2 == 1)
    whole = {(r._b, r._m) for r in hll_registers(df, "k").collect()}
    merged = {
        (r._b, r._m)
        for r in merge_registers(hll_registers(a, "k"), hll_registers(b, "k")).collect()
    }
    assert whole == merged
    e1 = hll_estimate_from_registers(hll_registers(df, "k")).first()
    e2 = hll_estimate_from_registers(
        merge_registers(hll_registers(a, "k"), hll_registers(b, "k"))
    ).first()
    assert e1.hll_estimate == e2.hll_estimate


def test_hll_sparse_registers_no_overflow(spark):
    """Sparse input (~1 element per bucket) fills registers with rank 1;
    each scaled term is then 2^59 and >=16 such buckets overflow an int64
    SUM under ANSI mode (the r5 q102 sf0.001 failure). The sum must run in
    DECIMAL(38,0) and still agree with the exact Python computation."""
    import hashlib

    from tagtree_spark.operators.sketch import HLL_M, HLL_P, hll_distinct

    def py_h60(s):  # the h60 contract: first 15 hex chars of md5
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    n = 200
    df = spark.range(n).select(F.concat(F.lit("s"), F.col("id")).alias("k"))
    r = hll_distinct(df, "k").first()
    # exact Python replica of the sketch
    regs: dict[int, int] = {}
    for i in range(n):
        h = py_h60(f"s{i}")
        b, rem = h & (HLL_M - 1), h >> HLL_P
        rank = 55 - rem.bit_length() if rem > 0 else 55
        regs[b] = max(regs.get(b, 0), rank)
    s = sum(1 << (60 - m) for m in regs.values()) + (HLL_M - len(regs)) * (1 << 60)
    assert r.buckets_hit == len(regs)
    assert r.s_scaled == float(s)
    # the sparse regime really is the overflow regime: hit-bucket terms
    # alone exceed int64
    assert sum(1 << (60 - m) for m in regs.values()) > 2**63


def test_cms_never_undercounts_and_is_exact_without_collisions(spark):
    """CMS point estimates are always >= the exact count; with far fewer
    distinct values than buckets (collision-unlikely regime) every
    estimate that shares no bucket is exact. Checked against a Python
    replica of the seeded-h60 registers."""
    import hashlib

    from tagtree_spark.operators.sketch import (
        CMS_D,
        CMS_W,
        cms_estimates,
        cms_registers,
    )

    def py_bucket(s, r):
        return int(hashlib.md5(f"{r}#{s}".encode()).hexdigest()[:15], 16) % CMS_W

    rows = [(f"tok{i % 7}",) for i in range(70)]  # 7 distinct, 10 each
    df = spark.createDataFrame(rows, ["token"])
    regs = cms_registers(df, "token")
    est = {
        r.token: r.cms_est for r in cms_estimates(df, regs, "token").collect()
    }
    # python replica
    exact = {f"tok{i}": 10 for i in range(7)}
    pyregs: dict[tuple[int, int], int] = {}
    for t, n in exact.items():
        for r in range(CMS_D):
            k = (r, py_bucket(t, r))
            pyregs[k] = pyregs.get(k, 0) + n
    for t, n in exact.items():
        py_est = min(pyregs[(r, py_bucket(t, r))] for r in range(CMS_D))
        assert est[t] == py_est
        assert est[t] >= n


def test_cms_merge_is_linear(spark):
    """Registers of two disjoint halves merged by (row,bucket) SUM equal
    the whole's registers — the linearity that makes CMS a map-side
    partial / cross-corpus mergeable sketch."""
    from pyspark.sql import functions as F2

    from tagtree_spark.operators.sketch import cms_registers, merge_cms

    base = spark.range(200).select(
        "id", F2.concat(F2.lit("w"), (F2.col("id") % 23).cast("string")).alias("token")
    )
    whole = {
        (r.row, r.bucket): r.cnt
        for r in cms_registers(base.select("token"), "token").collect()
    }
    left = cms_registers(base.where(F2.col("id") < 100).select("token"), "token")
    right = cms_registers(base.where(F2.col("id") >= 100).select("token"), "token")
    merged = {(r.row, r.bucket): r.cnt for r in merge_cms(left, right).collect()}
    assert merged == whole


def test_cms_weighted_equals_occurrence_registers(spark):
    """Feeding the sketch from a (value, count) aggregate with weight_col
    must produce identical registers to feeding raw occurrences."""
    from pyspark.sql import functions as F2

    from tagtree_spark.operators.sketch import cms_registers

    occ = spark.createDataFrame(
        [(f"t{i % 5}",) for i in range(50)], ["token"]
    )
    counts = occ.groupBy("token").agg(F2.count("*").cast("bigint").alias("n"))
    a = {(r.row, r.bucket): r.cnt for r in cms_registers(occ, "token").collect()}
    b = {
        (r.row, r.bucket): r.cnt
        for r in cms_registers(counts, "token", weight_col="n").collect()
    }
    assert a == b


def test_bloom_contamination_superset_of_exact(spark):
    """Bloom has no false negatives: every exact hit passes the filter
    (n_bloom_hits >= n_exact_hits per doc), and a doc sharing a benchmark
    3-gram is flagged. A doc with entirely novel grams usually has 0 bloom
    hits (tiny filter load), but the invariant tested is one-sided."""
    from tagtree_spark.operators.dedup import bloom_contamination

    bench = ["alpha beta gamma delta"]
    d = _docs(
        spark,
        [
            (1, "xx alpha beta gamma yy zz", "en", "s", 1),  # contains bench gram
            (2, "p q r s t u v w", "en", "s", 1),  # novel
            (3, "hi", "en", "s", 1),  # <3 words: zero grams
        ],
    )
    rows = {r.doc_id: r for r in bloom_contamination(d, bench).collect()}
    assert rows[1].n_exact_hits == 1 and rows[1].n_bloom_hits >= 1
    assert rows[3].n_grams == 0 and rows[3].n_bloom_hits == 0
    for r in rows.values():
        assert r.n_bloom_hits >= r.n_exact_hits


def test_vocab_encode_sequences(spark):
    """Vocab ids are frequency ranks (1-based, ties by token), OOV is 0,
    and the hashed id sequence matches a Python replica."""
    import hashlib

    from tagtree_spark.operators.text import vocab_encode

    d = _docs(
        spark,
        [
            (1, "b b a c zz", "en", "s", 1),
            (2, "a b", "en", "s", 1),
        ],
    )
    rows = {r.doc_id: r for r in vocab_encode(d, vocab_size=3).collect()}
    # counts: b=3, a=2, c=1, zz=1 → vocab(b=1, a=2, c=3); zz is OOV
    ids = {1: [1, 1, 2, 3, 0], 2: [2, 1]}
    for did, seq in ids.items():
        joined = ",".join(str(i) for i in seq)
        h = int(hashlib.md5(joined.encode()).hexdigest()[:15], 16)
        r = rows[did]
        assert (r.n_tokens, r.n_oov, r.ids_h60) == (len(seq), seq.count(0), h)


def test_boilerplate_prefix_flags_repeated_header(spark):
    from tagtree_spark.operators.text import boilerplate_prefix

    docs = spark.createDataFrame(
        [
            (1, "terms of service apply here", "a"),
            (2, "terms of service apply now too", "a"),
            (3, "terms of service differ", "a"),
            (4, "fresh unique words entirely", "a"),
            (5, "short", "a"),               # < n_prefix tokens → never flagged
            (6, "no repeats in this source", "b"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r.doc_id: r for r in boilerplate_prefix(docs, n_prefix=3, min_count=2).collect()}
    assert [out[i].is_boilerplate for i in (1, 2, 3)] == [True, True, True]
    assert out[4].is_boilerplate is False
    assert out[5].is_boilerplate is None or out[5].is_boilerplate is False
    assert out[1].top_count == 3
    # source b has no prefix reaching min_count → no winner
    assert out[6].top_count is None


def test_dsir_importance_prefers_target_like_docs(spark):
    from pyspark.sql import functions as F

    from tagtree_spark.operators.sampling import dsir_importance

    # target docs (is_t=1) share the bigram "x y"; doc 4 is raw-only noise
    docs = spark.createDataFrame(
        [
            (1, "x y x y", 1),
            (2, "x y", 1),
            (3, "x y z", 0),     # mixed: one target-heavy bigram + one rare
            (4, "p q r s", 0),
        ],
        "doc_id long, text string, is_t int",
    )
    out = {
        r.doc_id: r
        for r in dsir_importance(docs, F.col("is_t") == 1, n_buckets=4096).collect()
    }
    # every doc-3 bigram is rarer in the target than doc-1/2's pure "x y"
    assert out[1].importance > out[3].importance > out[4].importance
    assert out[4].t_sum == 0 and out[4].importance == 0.0
    # ratio is exact integer sums: doc 2's single bigram "x y" occurs 4x
    # in the corpus, 3x in the target (docs 1+2) → 3/4
    assert (out[2].t_sum, out[2].r_sum, out[2].importance) == (3, 4, 0.75)


def test_bpe_train_matches_hand_run(spark):
    from tagtree_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "new newer newest low")],
        "doc_id long, text string",
    )
    got = [(r.step, r.lsym, r.rsym, r.cnt) for r in bpe_train(docs, 4).collect()]
    # hand-run BPE: l+o (6, ties o+w on lexicographic left), lo+w (6),
    # e+w (3, ties n+e), n+ew (3)
    assert got == [(1, "l", "o", 6), (2, "lo", "w", 6), (3, "e", "w", 3), (4, "n", "ew", 3)]


def test_bpe_merge_application_is_greedy_left_to_right(spark):
    from tagtree_spark.operators.text import bpe_train

    # "aaaaa": round 1 learns (a,a) with 4 adjacent pairs (overlap counted,
    # the standard BPE count); greedy application yields [aa, aa, a], so
    # round 2's candidates are aa+aa (1) and aa+a (1) — tie broken on rsym.
    docs = spark.createDataFrame([(1, "aaaaa")], "doc_id long, text string")
    got = [(r.step, r.lsym, r.rsym, r.cnt) for r in bpe_train(docs, 2).collect()]
    assert got == [(1, "a", "a", 4), (2, "aa", "a", 1)]


def test_bpe_batched_equals_sequential(spark):
    """batch_k>1 must reproduce the sequential merge list EXACTLY on
    every corpus — the safe-prefix acceptance falls back to smaller
    batches whenever merges interact (VERDICT r5 item 3)."""
    from tagtree_spark.operators.text import bpe_train

    corpora = [
        # disjoint top pairs: cd/ef/gh families never share symbols
        [(1, "cd cd cd cd ef ef ef gh gh xy")],
        # chained merges: each round's winner feeds the next (l+o, lo+w...)
        [(1, "low low low lower lowest"), (2, "new newer newest low")],
        # self-overlap runs + interaction
        [(1, "aaaaa aaa bb bb bb cc cc")],
        # equal counts everywhere: pure tie-order territory
        [(1, "ab cd ef gh ij kl mn op")],
        # created-pair hazard: merging (a,b) creates (x,ab) pairs that
        # outrank later candidates - the bound check must stop the batch
        [(1, "xab xab xab xab ab ab cd cd cd")],
    ]
    for rows in corpora:
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        seq = [(r.step, r.lsym, r.rsym, r.cnt) for r in bpe_train(docs, 5).collect()]
        for k in (2, 4, 8):
            bat = [
                (r.step, r.lsym, r.rsym, r.cnt)
                for r in bpe_train(docs, 5, batch_k=k).collect()
            ]
            assert bat == seq, f"batch_k={k} diverged on {rows}: {bat} != {seq}"


def test_bpe_safe_prefix_rejects_name_collisions(spark):
    """If an accepted merge's concatenated name already exists as a symbol
    in the pair table, pairs created by that merge ACCRETE onto the
    existing same-named pairs, so the created-pair bound (which assumes a
    fresh count) is unsound for later candidates — the prefix must stop
    right after the colliding accept (ADVICE r6 medium). No char-trained
    corpus is known to reach this state (exhaustive merge-sequence search
    found none), so the guard is pinned at the unit level."""
    from pyspark.sql import Row

    from tagtree_spark.operators.text import _bpe_safe_prefix

    P = Row("sym", "nxt", "cnt")
    # 'ab' already exists as a symbol (it has pairs); candidates (a,b) and
    # (c,d) are symbol-disjoint and the naive created-bound would accept
    # both — but (a,b) spells 'ab', so stop after it.
    rows = [P("a", "b", 100), P("c", "d", 90), P("ab", "z", 5), P("q", "ab", 4)]
    pairs = spark.createDataFrame(rows)
    top = rows[:2]
    assert _bpe_safe_prefix(pairs, top) == [rows[0]]
    # same table minus the colliding symbol: both accepted
    pairs2 = spark.createDataFrame([P("a", "b", 100), P("c", "d", 90), P("e", "f", 5)])
    top2 = [P("a", "b", 100), P("c", "d", 90)]
    assert _bpe_safe_prefix(pairs2, top2) == top2
    # collision on the SECOND accept: accepted then stops the batch there
    rows3 = [P("a", "b", 100), P("c", "d", 90), P("e", "f", 80), P("cd", "z", 5)]
    pairs3 = spark.createDataFrame(rows3)
    assert _bpe_safe_prefix(pairs3, rows3[:3]) == rows3[:2]
    # duplicate names WITHIN the batch: second same-named accept ends it
    rows4 = [P("a", "bc", 100), P("ab", "c", 90), P("e", "f", 80)]
    pairs4 = spark.createDataFrame(rows4)
    assert _bpe_safe_prefix(pairs4, rows4) == rows4[:2]


def test_bpe_train_merge_cap_contract(spark):
    import pytest

    from tagtree_spark.operators.text import BPE_MAX_MERGES, bpe_train

    docs = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    with pytest.raises(ValueError, match="BPE_MAX_MERGES"):
        bpe_train(docs, BPE_MAX_MERGES + 1)
    with pytest.raises(ValueError, match="batch_k"):
        bpe_train(docs, 2, batch_k=0)


def test_funnel_ordered_within_window(spark):
    import datetime as dt

    from tagtree_spark.operators.events import funnel

    T = dt.datetime
    rows = [
        # user 1 completes in order within 7d
        (1, "view", T(2024, 1, 1)), (1, "click", T(2024, 1, 2)), (1, "purchase", T(2024, 1, 3)),
        # user 2: click BEFORE view → stalls at stage 1
        (2, "click", T(2024, 1, 1)), (2, "view", T(2024, 1, 2)),
        # user 3: purchase outside the 7d window of the first view
        (3, "view", T(2024, 1, 1)), (3, "click", T(2024, 1, 2)), (3, "purchase", T(2024, 1, 20)),
        # user 4 never views
        (4, "purchase", T(2024, 1, 1)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = {r.stage: r for r in funnel(ev, ["view", "click", "purchase"]).collect()}
    assert (out[1].n_users, out[2].n_users, out[3].n_users) == (3, 2, 1)
    assert out[3].step == "purchase"


def test_retention_cohorts_week_offsets(spark):
    import datetime as dt

    from tagtree_spark.operators.events import retention_cohorts

    T = dt.datetime
    # 2024-01-01 is a Monday. user 1: cohort week 0, active weeks 0 and 2;
    # user 2: cohort week 1, active week 1 only.
    rows = [
        (1, T(2024, 1, 2)), (1, T(2024, 1, 4)), (1, T(2024, 1, 16)),
        (2, T(2024, 1, 9)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {(r.cohort_day, r.week_offset): r.n_active for r in retention_cohorts(ev).collect()}
    assert got == {(0, 0): 1, (0, 2): 1, (7, 0): 1}


def test_kmv_estimate_within_error_band(spark):
    from tagtree_spark.operators.sketch import KMV_K, kmv_estimates, kmv_registers

    n = 2000
    df = spark.createDataFrame([(i % 2, f"u{i}") for i in range(n)], "g int, item string")
    regs = kmv_registers(df, "item", "g")
    # registers are capped at k per group and ascending
    per = {r.group: r for r in kmv_estimates(
        regs,
        df.groupBy(F.col("g").alias("group")).agg(
            F.countDistinct("item").cast("bigint").alias("n_exact")
        ),
    ).collect()}
    for g in (0, 1):
        assert per[g].n_regs == KMV_K
        assert per[g].n_exact == n // 2
        # KMV relative error ~ 1/sqrt(k-2): allow a generous 3x band
        assert abs(per[g].est - n // 2) / (n // 2) < 3 / math.sqrt(KMV_K - 2)


def test_kmv_union_merges_sketches(spark):
    from tagtree_spark.operators.sketch import KMV_K, kmv_registers, kmv_union

    # two groups over the SAME item universe: union registers must equal
    # either group's registers (identical hash sets after dedup)
    df = spark.createDataFrame(
        [(g, f"u{i}") for g in (0, 1) for i in range(500)], "g int, item string"
    )
    regs = kmv_registers(df, "item", "g")
    u = sorted(r.hash for r in kmv_union(regs).collect())
    g0 = sorted(r.hash for r in regs.where(F.col("group") == 0).collect())
    assert u == g0 and len(u) == KMV_K


def test_prefix_filter_is_lossless(documents):
    """Prefix filtering must produce EXACTLY the uncapped inverted-index
    join's pairs (recall 1.0 — the lemma, not a heuristic)."""
    from tagtree_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filtered_jaccard,
    )

    full = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b)
        for r in ngram_jaccard_pairs(
            documents, min_jaccard_pct=50, max_df=10**9
        ).collect()
    }
    pref = {
        (r.doc_a, r.doc_b): (r.n_common, r.n_a, r.n_b)
        for r in prefix_filtered_jaccard(documents, min_jaccard_pct=50).collect()
    }
    assert pref == full and len(pref) > 0


def test_graph_stats_triangle_vs_chain(spark):
    from tagtree_spark.operators.graph import graph_stats

    # triangle 1-2-3 plus a chain 3-4-5
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], "doc_a long, doc_b long"
    )
    out = {r.doc_id: r for r in graph_stats(pairs).collect()}
    assert (out[1].degree, out[1].n_two_hop, out[1].n_tri) == (2, 1, 1)   # reaches 4
    assert (out[3].degree, out[3].n_two_hop, out[3].n_tri) == (3, 1, 1)   # reaches 5
    assert (out[5].degree, out[5].n_two_hop, out[5].n_tri) == (1, 1, 0)   # reaches 3
    assert (out[4].degree, out[4].n_two_hop, out[4].n_tri) == (2, 2, 0)   # reaches 1,2


def test_int8_quantize_report_exact_grid(spark):
    from tagtree_spark.operators.similarity import int8_quantize_report

    emb = spark.createDataFrame(
        [
            (1, [0.0, 10.0, 5.0]),
            (2, [1.0, 20.0, 5.0]),
            (3, [0.5, 15.0, 5.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = {r.vec_id: r for r in int8_quantize_report(emb).collect()}
    assert set(out) == {1, 2, 3}
    # dim grids: [0,1], [10,20], [5,5] (constant dim -> code 0, zero error)
    r1 = out[1]
    assert r1.n_dims == 3
    # vec 1 sits on grid corners exactly: codes (0, 0, 0) -> sse == 0
    assert r1.code_sum == 0 and r1.sse == 0.0
    r2 = out[2]
    # vec 2 is the other corner: codes (255, 255, 0), exact reconstruction
    assert r2.code_sum == 510 and r2.max_code == 255 and r2.sse == 0.0
    r3 = out[3]
    # vec 3 is mid-grid: round(127.5) -> 128 on both dims (half-up)
    assert r3.code_sum == 256
    assert 0.0 < r3.sse < 1.0


def test_pagerank_int_star_center_ranks_highest(spark):
    from tagtree_spark.operators.graph import pagerank_int

    # star: 0-1, 0-2, 0-3 plus a detached edge 4-5
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (4, 5)], "doc_a bigint, doc_b bigint"
    )
    out = {r.doc_id: r for r in pagerank_int(pairs, iters=3).collect()}
    assert set(out) == {0, 1, 2, 3, 4, 5}
    center, leaf = out[0], out[1]
    assert center.degree == 3 and leaf.degree == 1
    assert center.rank_fp > leaf.rank_fp
    # symmetric leaves get identical ranks (determinism)
    assert out[1].rank_fp == out[2].rank_fp == out[3].rank_fp
    # detached 2-clique nodes exchange their full rank: fixed point ~1.0
    assert abs(out[4].rank_fp - 10**9) <= 2
    assert out[4].rank_fp == out[5].rank_fp


def test_interpolate_grid_linear_and_exact_hits(spark):
    import datetime as dt

    from tagtree_spark.tsdb.rollup import interpolate_grid

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # series 1: samples at 00:30 (v=10) and 02:30 (v=30)
        (1, t0 + dt.timedelta(minutes=30), 10.0),
        (1, t0 + dt.timedelta(minutes=150), 30.0),
        # series 2: one sample exactly on the hour
        (2, t0 + dt.timedelta(hours=1), 5.0),
    ]
    samples = spark.createDataFrame(rows, "tsid bigint, ts timestamp, value double")
    out = {(r.tsid, r.bucket_s): r.v_interp for r in interpolate_grid(samples).collect()}
    base = int(t0.replace(tzinfo=dt.timezone.utc).timestamp())
    # grid for series 1: 00:00 (before first sample -> dropped), 01:00, 02:00
    assert (1, base) not in out
    # 01:00 is 30min into the 120min span 10 -> 30: 10 + 20*(30/120) = 15
    assert out[(1, base + 3600)] == 15.0
    # 02:00: 10 + 20*(90/120) = 25
    assert out[(1, base + 7200)] == 25.0
    # series 2: grid 00:00 dropped (no prev), 01:00 is an exact sample hit
    assert out[(2, base + 3600)] == 5.0
    assert (2, base) not in out
    assert len(out) == 3


def test_pagerank_int_mass_conservation(spark):
    # On a connected regular-ish graph the total rank mass stays ~N*scale:
    # each round redistributes (0.85 of) everything and injects 0.15; the
    # only loss is integer-floor slack, bounded by (#edges + #nodes) per
    # round. A 6-cycle: every node degree 2.
    from tagtree_spark.operators.graph import pagerank_int

    n = 6
    pairs = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "doc_a bigint, doc_b bigint"
    )
    sym = [(min(a, b), max(a, b)) for a, b in [(i, (i + 1) % n) for i in range(n)]]
    out = pagerank_int(pairs, iters=3).collect()
    total = sum(r.rank_fp for r in out)
    scale = 10**9
    slack = 3 * (2 * n + n)  # 3 rounds of worst-case floor loss
    assert n * scale - slack <= total <= n * scale
    # symmetric cycle: all nodes identical rank, exactly 1.0 fixed point
    assert len({r.rank_fp for r in out}) == 1


def test_int8_quantize_sse_bounded_by_grid_step(spark):
    # reconstruction error per dim <= (step/2)^2 where step=(hi-lo)/255
    from tagtree_spark.operators.similarity import int8_quantize_report

    vals = [
        (i, [((i * 37 + j * 13) % 101) / 101.0 for j in range(8)]) for i in range(40)
    ]
    emb = spark.createDataFrame(vals, "vec_id bigint, embedding array<float>")
    import builtins

    los = [builtins.min(v[j] for _, v in vals) for j in range(8)]
    his = [builtins.max(v[j] for _, v in vals) for j in range(8)]
    bound = sum(((hi - lo) / 255.0 / 2) ** 2 for lo, hi in zip(los, his)) * 1.01 + 1e-12
    for r in int8_quantize_report(emb).collect():
        assert 0.0 <= r.sse <= bound
        assert 0 <= r.max_code <= 255


def test_interpolate_grid_values_within_neighbor_range(spark):
    import datetime as dt

    from tagtree_spark.tsdb.rollup import interpolate_grid

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (7, t0 + dt.timedelta(minutes=17 * k), float((k * 31) % 11)) for k in range(40)
    ]
    samples = spark.createDataFrame(rows, "tsid bigint, ts timestamp, value double")
    vals = [r.value for r in samples.collect()]
    lo, hi = min(vals), max(vals)
    out = interpolate_grid(samples).collect()
    assert len(out) > 5
    for r in out:
        # linear interpolation never leaves the enclosing sample range
        assert lo - 1e-9 <= r.v_interp <= hi + 1e-9


def test_blocked_fuzzy_pairs_respects_block_and_distance(spark):
    from tagtree_spark.operators.linkage import blocked_fuzzy_pairs

    recs = spark.createDataFrame(
        [
            (1, "acme corp", "b1"),
            (2, "acme c0rp", "b1"),   # 1 edit from 1
            (3, "acme corp", "b2"),   # exact dup of 1 but different block
            (4, "zzzzzzzzz", "b1"),   # far from everything
        ],
        "rid bigint, name string, blk string",
    )
    out = {(r.id_a, r.id_b): r.dist for r in blocked_fuzzy_pairs(
        recs, "rid", "name", "blk", max_dist=2
    ).collect()}
    assert out == {(1, 2): 1}


def test_exact_disc_quantiles_distributed_matches_percentile_disc(spark):
    import math

    from tagtree_spark.operators.aggregates import exact_disc_quantiles_distributed

    vals = [(float((i * 7919) % 1000),) for i in range(997)]
    df = spark.createDataFrame(vals, "x double")
    got = exact_disc_quantiles_distributed(df, "x", [0.5, 0.9, 0.99], n_parts=8)
    assert got["n"] == 997
    ordered = sorted(v for (v,) in vals)
    for p in (0.5, 0.9, 0.99):
        k = math.ceil(p * 997)
        assert got[p] == ordered[k - 1], (p, got[p], ordered[k - 1])


def test_full_and_sampled_disc_quantiles_single_pass_matches_two_call(spark):
    # r13 optimization: sampled_quantiles folds the full-data and sample
    # quantile picks into ONE range-partitioned pass. Pin it to the
    # reference semantics: two independent exact_disc_quantiles_distributed
    # calls (full frame / filtered frame) must agree exactly.
    from pyspark.sql import functions as F

    from tagtree_spark.operators.aggregates import (
        _full_and_sampled_disc_quantiles,
        exact_disc_quantiles_distributed,
    )

    vals = [(i, float((i * 7919) % 1000)) for i in range(997)]
    df = spark.createDataFrame(vals, "id bigint, x double")
    keep = (F.col("id") % 7) == 0
    ps = [0.5, 0.9, 0.99]
    full, samp = _full_and_sampled_disc_quantiles(df, "x", keep, ps, n_parts=8)
    ref_full = exact_disc_quantiles_distributed(df, "x", ps, n_parts=8)
    ref_samp = exact_disc_quantiles_distributed(df.where(keep), "x", ps, n_parts=8)
    assert full == ref_full
    assert samp == ref_samp
    # r14: the deferred-keep path (membership applied to the carried key
    # AFTER the range exchange) must pick the identical values
    full2, samp2 = _full_and_sampled_disc_quantiles(
        df, "x", lambda kk: (kk % 7) == 0, ps, n_parts=8, keep_key_expr="id"
    )
    assert full2 == ref_full
    assert samp2 == ref_samp


def test_hash_classifier_score_matches_python(spark):
    import hashlib

    from tagtree_spark.operators.text import hash_classifier

    rows = [(1, "alpha beta gamma"), (2, ""), (3, "alpha alpha")]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in hash_classifier(docs).collect()}

    def w(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % 2001 - 1000

    for doc_id, text in rows:
        toks = text.split(" ")
        assert got[doc_id].n_tokens == len(toks)
        assert got[doc_id].score == sum(w(t) for t in toks)
        assert got[doc_id].keep == (1 if got[doc_id].score > 0 else 0)


def test_snapshot_diff_all_statuses(spark):
    from tagtree_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "will drop")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (4, "brand new")], ["doc_id", "text"]
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "dropped", 4: "added"}
    hashes = {r.doc_id: r for r in snapshot_diff(old, new).collect()}
    assert hashes[3].new_h60 == -1 and hashes[4].old_h60 == -1


def test_expectations_counts_violations_and_nulls(spark):
    from pyspark.sql import functions as F

    from tagtree_spark.operators.profile import expectations

    df = spark.createDataFrame(
        [(1, 10.0), (2, -5.0), (3, None), (4, 200.0)], ["id", "v"]
    )
    rep = {
        r.rule: r
        for r in expectations(
            df,
            [
                ("v_positive", F.col("v") > 0),
                ("v_le_100", F.col("v") <= 100),
            ],
        ).collect()
    }
    assert rep["v_positive"].n_rows == 4
    assert rep["v_positive"].n_violations == 1  # -5; NULL counted separately
    assert rep["v_positive"].n_nulls == 1
    assert rep["v_le_100"].n_violations == 1  # 200
    assert rep["v_le_100"].n_nulls == 1


def test_type_cooccurrence_matches_selfjoin(spark):
    import datetime as dt

    from tagtree_spark.operators.events import type_cooccurrence

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # user 1, same day: a+b+c -> pairs (a,b) (a,c) (b,c)
        (1, base, "a"), (1, base, "b"), (1, base, "c"), (1, base, "a"),
        # user 1, next day: a+b only
        (1, base + dt.timedelta(days=1), "a"),
        (1, base + dt.timedelta(days=1), "b"),
        # user 2, one type only -> no pairs
        (2, base, "a"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    got = {(r.type_a, r.type_b): r.n_userdays for r in type_cooccurrence(ev).collect()}
    assert got == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


def test_subsample_stability_band_contains_plausible_median(spark):
    from tagtree_spark.operators.aggregates import subsample_stability

    rows = [("g", float(v), v) for v in range(1, 102)]  # 1..101, median 51
    df = spark.createDataFrame(rows, ["event_type", "value", "event_id"])
    r = subsample_stability(df).collect()[0]
    assert r.n_rows == 101 and r.med_full == 51.0
    assert r.n_reps == 8
    assert r.med_lo <= r.med_full <= r.med_hi
    # half-subsample medians of a 1..101 grid stay well inside the range
    assert 1.0 < r.med_lo and r.med_hi < 101.0


def test_ann_recall_audit_self_consistent(spark, embeddings):
    from tagtree_spark.operators.similarity import ann_recall_audit

    emb = embeddings
    rows = ann_recall_audit(emb, budget=8, k=5).collect()
    assert rows and len(rows) == 8, "expected exactly the budgeted queries"
    for r in rows:
        assert 0 <= r.n_hit <= min(r.n_exact, r.n_ann)
        assert r.n_exact <= 5 and r.n_ann <= 5
        assert r.recall == r.n_hit / 5


def test_derive_n_planes_scaling():
    """VERDICT r11 #1: the LSH plane count must GROW with corpus size
    instead of being a hand-set constant — while every in-repo test
    scale keeps the oracle-pinned floor of 4."""
    from tagtree_spark.operators.similarity import TARGET_BUCKET, derive_n_planes

    assert derive_n_planes(500) == 4  # sf0.001 / sf0.01
    assert derive_n_planes(2000) == 4  # sf0.1 — static 4-plane oracles hold
    assert derive_n_planes(20000) == 8  # the 10x sweep corpus
    assert derive_n_planes(200000) == 11  # 100x
    assert derive_n_planes(0) == 4
    vals = [derive_n_planes(n) for n in (10, 10**3, 10**5, 10**7, 10**9)]
    assert vals == sorted(vals)  # monotone
    assert derive_n_planes(10**12) == 32  # bigint-safe cap
    # above the floor region the average occupancy target holds
    for n in (20000, 10**6, 10**8):
        p = derive_n_planes(n)
        assert n / (1 << p) <= TARGET_BUCKET


def test_bucketed_embeddings_derives_plane_count(spark, embeddings):
    """n_planes=None derives from the corpus: 500 vectors → 4 planes →
    every bucket id < 2^4."""
    from tagtree_spark.operators.similarity import bucketed_embeddings

    wb = bucketed_embeddings(embeddings)
    from pyspark.sql import functions as SF

    mx = wb.agg(SF.max("bucket")).collect()[0][0]
    assert 0 <= mx < 16


def test_hard_negatives_picks_best_cross_label(spark):
    from tagtree_spark.operators.similarity import hard_negatives

    # 4-dim vectors, one plane set still hashes them into buckets; use a
    # tiny corpus that lands anchors with their negatives (dim=4).
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], "x"),
        (2, [0.9, 0.1, 0.0, 0.0], "x"),   # same label - never a negative of 1
        (3, [0.8, 0.2, 0.0, 0.0], "y"),   # cross-label, very close to 1
        (4, [-1.0, 0.0, 0.0, 0.0], "y"),  # cross-label, far from 1
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {r.vec_id: r for r in hard_negatives(emb, n_planes=2, dim=4).collect()}
    for r in got.values():
        assert r.label_a != r.label_b
    if 1 in got:  # bucket-dependent, but if 1 got a negative it must be 3 not 4
        assert got[1].neg_id == 3


def test_hard_negatives_max_bucket_none_is_uncapped(spark):
    """max_bucket=None disables the cap (family convention: matches
    _bucket_pairs / embedding_near_dup_pairs — ADVICE r5). With n_planes=0
    every vector shares one bucket, so a cap of 1 drops everything while
    None keeps the full candidate set. Near-identical vectors land on the
    same side of any hyperplane, i.e. one shared bucket of size 3."""
    from tagtree_spark.operators.similarity import hard_negatives

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0], "x"),
        (2, [0.99, 0.01, 0.0, 0.0], "y"),
        (3, [0.98, 0.02, 0.0, 0.0], "y"),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    capped = hard_negatives(emb, n_planes=1, dim=4, max_bucket=1).collect()
    assert capped == []
    uncapped = {
        r.vec_id: r.neg_id
        for r in hard_negatives(emb, n_planes=1, dim=4, max_bucket=None).collect()
    }
    assert uncapped[1] == 2  # closest cross-label neighbour survives


def test_normalization_report_flags_and_hash(spark):
    import hashlib

    from tagtree_spark.operators.text import normalization_report

    docs = spark.createDataFrame(
        [(1, "Hello   World "), (2, "already clean")], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in normalization_report(docs).collect()}
    assert got[1].changed == 1 and got[2].changed == 0
    norm1 = "hello world"
    assert got[1].norm_h60 == int(hashlib.md5(norm1.encode()).hexdigest()[:15], 16)
    assert got[1].n_chars_norm == len(norm1)
    assert got[1].n_ws_runs == 1


def test_equidepth_bins_balanced_and_ordered(spark):
    from tagtree_spark.operators.aggregates import equidepth_bins

    rows = [("g", float(v), v) for v in range(1, 17)]
    df = spark.createDataFrame(rows, ["event_type", "value", "event_id"])
    bins = sorted(equidepth_bins(df, n_bins=4).collect(), key=lambda r: r.bucket)
    assert [b.n for b in bins] == [4, 4, 4, 4]
    for prev, nxt in zip(bins, bins[1:]):
        assert prev.v_max < nxt.v_min


def test_kmv_overlap_exact_when_unfilled(spark):
    from tagtree_spark.operators.sketch import kmv_overlap

    a = spark.createDataFrame([(i,) for i in range(10)], ["k"])
    b = spark.createDataFrame([(i,) for i in range(5, 15)], ["k"])
    r = kmv_overlap(a, b, "k", "k").collect()[0]
    assert r.n_a_exact == 10 and r.n_b_exact == 10 and r.n_inter_exact == 5
    # both sketches unfilled (10 < 16 registers): theta = full space and the
    # estimate IS the exact register intersection
    assert r.theta == 1 << 60
    assert r.n_common == 5 and r.est_inter == 5.0


def test_last_touch_attribution_window_and_order(spark):
    import datetime as dt

    from tagtree_spark.operators.events import last_touch_attribution

    t0 = dt.datetime(2024, 3, 1)

    def at(**kw):
        return t0 + dt.timedelta(**kw)

    rows = [
        (1, at(hours=0), 1, "click"),
        (2, at(hours=1), 1, "click"),     # later click wins (last touch)
        (3, at(hours=2), 1, "purchase"),  # -> 2
        (4, at(days=20), 1, "purchase"),  # click too old -> -1
        (5, at(hours=0), 2, "purchase"),  # no click at all -> -1
        (6, at(hours=1), 2, "view"),      # ignored type
    ]
    ev = spark.createDataFrame(rows, ["event_id", "ts", "user_id", "event_type"])
    got = {r.event_id: r for r in last_touch_attribution(ev).collect()}
    assert got[3].touch_id == 2 and got[3].gap_us == 3_600_000_000
    assert got[4].touch_id == -1 and got[4].gap_us == -1
    assert got[5].touch_id == -1


def test_phrase_search_adjacency_only(spark):
    from tagtree_spark.operators.text import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "big data rocks big data"),
            (2, "big old data"),          # not adjacent -> no row
            (3, "data big"),              # wrong order -> no row
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in phrase_search(docs, "big data").collect()}
    assert set(got) == {1}
    assert got[1].n_occ == 2 and got[1].first_pos == 0


def test_zscore_outliers_flags_only_extreme(spark):
    from tagtree_spark.operators.anomaly import zscore_outliers

    # 20 values at ~10 and one at 1000: only the extreme flags at 3 sigma
    rows = [("g", 10.0 + (i % 3) * 0.1, i) for i in range(20)] + [("g", 1000.0, 99)]
    df = spark.createDataFrame(rows, ["event_type", "value", "event_id"])
    got = {r.id: r.is_outlier for r in zscore_outliers(df).collect()}
    assert got[99] == 1
    assert all(v == 0 for i, v in got.items() if i != 99)


def test_k_anonymity_counts_small_groups(spark):
    from tagtree_spark.operators.profile import k_anonymity

    rows = [("a", 1)] * 10 + [("b", 1)] * 2 + [("c", 2)] * 1
    df = spark.createDataFrame(rows, ["qa", "qb"])
    r = k_anonymity(df, ["qa", "qb"], k=5).collect()[0]
    assert r.n_rows == 13 and r.n_groups == 3
    assert r.n_small_groups == 2 and r.n_rows_at_risk == 3
    assert r.min_group_size == 1


def test_fd_check_holds_and_violates(spark):
    from tagtree_spark.operators.profile import fd_check

    df = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z"), (2, "z"), (3, "w")], ["l", "r"]
    )
    r = fd_check(df, "l->r", "l", "r").collect()[0]
    assert r.fd == "l->r"
    assert r.n_groups == 3 and r.n_violating == 1
    assert r.n_rows_in_violating == 2 and r.max_rhs_variants == 2


def test_confusion_matrix_and_class_report(spark):
    from tagtree_spark.operators.evals import class_report, confusion_matrix

    df = spark.createDataFrame(
        [("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"), ("c", "a")],
        ["gold", "pred"],
    )
    cm = {(r.gold, r.pred): r.n for r in confusion_matrix(df, "gold", "pred").collect()}
    assert cm == {("a", "a"): 1, ("a", "b"): 1, ("b", "b"): 2, ("c", "a"): 1}
    rep = {r.label: r for r in class_report(df, "gold", "pred").collect()}
    assert rep["a"].n_gold == 2 and rep["a"].n_pred == 2 and rep["a"].n_correct == 1
    assert rep["b"].n_gold == 2 and rep["b"].n_pred == 3 and rep["b"].n_correct == 2
    assert rep["c"].n_gold == 1 and rep["c"].n_pred == 0 and rep["c"].n_correct == 0


def test_multiprobe_superset_of_single_probe(spark, embeddings):
    from tagtree_spark.operators.similarity import lsh_bucket_topk, lsh_multiprobe_topk

    single = {r.vec_id for r in lsh_bucket_topk(embeddings, 0, k=50).collect()}
    multi_rows = lsh_multiprobe_topk(embeddings, 0, k=50).collect()
    multi = {r.vec_id for r in multi_rows}
    # multi-probe scans a superset of buckets: its candidate pool contains
    # the single-probe pool, so the (same-k) result can only improve
    assert len(multi) >= len(single)
    buckets = {r.bucket for r in multi_rows}
    assert len(buckets) >= 1  # neighbours may come from several buckets


def test_winsorize_stats_hand_computed(spark):
    from tagtree_spark.operators.aggregates import winsorize_stats

    rows = [("g", float(v), v) for v in range(1, 101)]  # 1..100
    df = spark.createDataFrame(rows, ["event_type", "value", "event_id"])
    r = winsorize_stats(df).collect()[0]
    # floor(0.05*99)+1 = 5 -> value 5; floor(0.95*99)+1 = 95 -> value 95
    assert r.n == 100 and r.p_lo == 5.0 and r.p_hi == 95.0
    assert r.n_clip_lo == 4 and r.n_clip_hi == 5


def test_join_hotspots_orders_by_amplification(spark):
    from tagtree_spark.operators.skew import join_hotspots

    a = spark.createDataFrame([(1,)] * 10 + [(2,)] * 3 + [(3,)] * 1, ["k"])
    b = spark.createDataFrame([(1,)] * 2 + [(2,)] * 5, ["k"])
    got = join_hotspots(a, b, "k", "k", topk=5).collect()
    assert [(r.key, r.n_pairs) for r in got] == [(1, 20), (2, 15)]


def test_split_assign_deterministic_and_complete(spark):
    from tagtree_spark.operators.sampling import split_assign

    df = spark.createDataFrame([(i,) for i in range(500)], ["doc_id"])
    a = {r.doc_id: r.split for r in split_assign(df).collect()}
    b = {r.doc_id: r.split for r in split_assign(df.repartition(7)).collect()}
    assert a == b  # partitioning never moves a doc across splits
    from collections import Counter

    c = Counter(a.values())
    assert set(c) == {"train", "val", "test"}
    assert c["train"] > c["val"] and c["train"] > c["test"]
    # roughly 80/10/10 over 500 ids
    assert 320 <= c["train"] <= 480 and c["val"] >= 20 and c["test"] >= 20


def test_apply_changes_merge_semantics(spark):
    from tagtree_spark.operators.cdc import apply_changes

    base = spark.createDataFrame(
        [(1, "one"), (2, "two"), (3, "three")], ["doc_id", "text"]
    )
    ch = spark.createDataFrame(
        [(2, "U", "TWO"), (3, "D", None), (4, "I", "four"), (1, "I", "ONE")],
        ["doc_id", "op", "text"],
    )
    got = {r.doc_id: r.text for r in apply_changes(base, ch).collect()}
    # U updates, D deletes, I inserts, I on existing key replaces
    assert got == {1: "ONE", 2: "TWO", 4: "four"}


def test_snapshot_as_of_versions(spark):
    from tagtree_spark.operators.cdc import snapshot_as_of

    log = spark.createDataFrame(
        [
            (1, 1, "U", "a1"), (1, 2, "U", "a2"), (1, 3, "D", None),
            (2, 1, "U", "b1"),
            (3, 2, "U", "c2"),
        ],
        ["doc_id", "version", "op", "text"],
    )
    v1 = {r.doc_id: r.text for r in snapshot_as_of(log, 1).collect()}
    v2 = {r.doc_id: r.text for r in snapshot_as_of(log, 2).collect()}
    v3 = {r.doc_id: r.text for r in snapshot_as_of(log, 3).collect()}
    assert v1 == {1: "a1", 2: "b1"}
    assert v2 == {1: "a2", 2: "b1", 3: "c2"}
    assert v3 == {2: "b1", 3: "c2"}  # tombstone applied


def test_class_prototypes_identical_labels_collapse(spark):
    from tagtree_spark.operators.similarity import class_prototypes

    # labels x and y hold IDENTICAL vectors -> prototype cosine == 1;
    # label z is orthogonal -> cosine 0 with both
    v1 = [1.0, 0.0, 0.0, 0.0]
    vz = [0.0, 1.0, 0.0, 0.0]
    rows = [(1, v1, "x"), (2, v1, "y"), (3, vz, "z"), (4, v1, "x")]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {(r.label_a, r.label_b): r.cos for r in class_prototypes(emb, dim=4).collect()}
    assert abs(got[("x", "y")] - 1.0) < 1e-12
    assert abs(got[("x", "z")]) < 1e-12 and abs(got[("y", "z")]) < 1e-12


def test_token_windows_offsets_and_content(spark):
    import hashlib

    from tagtree_spark.operators.text import token_windows

    text = " ".join(f"t{i}" for i in range(10))  # 10 tokens
    docs = spark.createDataFrame([(1, text), (2, "too short")], ["doc_id", "text"])
    got = sorted(
        token_windows(docs, size=4, stride=3).collect(), key=lambda r: r.start
    )
    # starts: 0, 3, 6 (last window t6..t9)
    assert [r.start for r in got] == [0, 3, 6]
    toks = text.split(" ")
    for r in got:
        w = " ".join(toks[r.start : r.start + 4])
        assert r.w_h60 == int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
    assert all(r.doc_id == 1 for r in got)  # short doc emits nothing


def test_rrf_fuse_combines_and_handles_missing(spark):
    from tagtree_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], ["id", "rank"])
    b = spark.createDataFrame([(2, 1), (3, 2)], ["id", "rank"])
    got = {r.id: r.rrf for r in rrf_fuse([a, b], k=60).collect()}
    assert abs(got[1] - 1 / 61) < 1e-15
    assert abs(got[2] - (1 / 62 + 1 / 61)) < 1e-15
    assert abs(got[3] - 1 / 62) < 1e-15
    assert max(got, key=got.get) == 2  # present in both wins


def test_bm25_batch_agrees_with_single_query(documents):
    """Batched BM25 must score exactly like the single-query path for
    every query in the batch (one scan, same fold, same bracketing) —
    including when the batch's union term set is wider than the query's
    own (extra counters must not perturb the fold's arithmetic)."""
    from tagtree_spark.operators.retrieval import bm25_batch, bm25_scores

    qs = {"qa": ["customer", "query"], "qb": ["query", "vector"]}
    batch = bm25_batch(documents, qs, top_k=5).collect()
    for qid, terms in qs.items():
        single = [
            (r.doc_id, r.n_terms_hit, r.score)
            for r in bm25_scores(documents, terms)
            .orderBy(F.col("score").desc(), "doc_id")
            .limit(5)
            .collect()
        ]
        got = [
            (r.doc_id, r.n_terms_hit, r.score)
            for r in sorted((x for x in batch if x.qid == qid), key=lambda x: x.rank)
        ]
        assert got == single, f"{qid}: {got} != {single}"


def test_bm25_duplicate_terms_score_once(spark):
    """A query listing the same term twice must score it ONCE — before
    the r7 advice fix both paths silently doubled the duplicated term's
    contribution (and agreed with each other, so only a dedup test
    catches it)."""
    from tagtree_spark.operators.retrieval import bm25_batch, bm25_scores

    docs = spark.createDataFrame(
        [(1, "apple pie crust"), (2, "banana bread")], ["doc_id", "text"]
    )
    dup = [(r.doc_id, r.n_terms_hit, r.score) for r in bm25_scores(docs, ["apple", "apple"]).collect()]
    one = [(r.doc_id, r.n_terms_hit, r.score) for r in bm25_scores(docs, ["apple"]).collect()]
    assert dup == one
    b_dup = sorted(
        (r.doc_id, r.n_terms_hit, r.score)
        for r in bm25_batch(docs, {"q": ["apple", "apple"]}).collect()
    )
    b_one = sorted(
        (r.doc_id, r.n_terms_hit, r.score)
        for r in bm25_batch(docs, {"q": ["apple"]}).collect()
    )
    assert b_dup == b_one


def test_pq_codebooks_rejects_undersized_sample(spark):
    """Fewer training vectors than ks must raise loudly, not silently
    train a truncated codebook (advice r7; matches _pq_dims' stance)."""
    import pytest as _pytest

    from tagtree_spark.operators.similarity import pq_codebooks

    tiny = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(4)],
        "vec_id bigint, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="training sample has 4"):
        pq_codebooks(tiny, ks=16)


def test_bm25_ranks_tf_and_rarity(spark):
    from tagtree_spark.operators.retrieval import bm25_scores

    docs = spark.createDataFrame(
        [
            (1, "apple apple apple pie"),   # high tf of rare term
            (2, "apple tart and crust"),    # single hit
            (3, "banana bread and butter"), # common term only
            (4, "banana banana split"),
            (5, "plain scone no fruit"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in bm25_scores(docs, ["apple", "banana"]).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1].score > got[2].score  # higher tf wins within a term
    assert got[1].n_terms_hit == 1 and got[2].n_terms_hit == 1


def test_bigram_novelty_extremes(spark):
    from tagtree_spark.operators.text import bigram_novelty

    train = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    target = spark.createDataFrame(
        [(10, "a b c"), (11, "x y z"), (12, "a b x y")], ["doc_id", "text"]
    )
    got = {r.doc_id: r for r in bigram_novelty(train, target).collect()}
    assert got[10].novelty_pct == 0 and got[10].n_bg == 2 and got[10].n_seen == 2
    assert got[11].novelty_pct == 100 and got[11].n_seen == 0
    assert got[12].n_bg == 3 and got[12].n_seen == 1  # only 'a b' seen


def test_chi2_zero_on_independent_and_positive_on_drift(spark):
    from tagtree_spark.operators.profile import chi2_contingency

    # perfectly proportional table -> chi2 == 0
    rows = [("h0", "a")] * 10 + [("h0", "b")] * 20 + [("h1", "a")] * 5 + [("h1", "b")] * 10
    df = spark.createDataFrame(rows, ["half", "t"])
    r = chi2_contingency(df, "half", "t").collect()[0]
    assert r.n == 45 and r.dof == 1 and abs(r.chi2) < 1e-12
    # vanished category in h1 -> large chi2, and the zero cell is counted
    rows2 = [("h0", "a")] * 10 + [("h0", "b")] * 10 + [("h1", "a")] * 10
    r2 = chi2_contingency(
        spark.createDataFrame(rows2, ["half", "t"]), "half", "t"
    ).collect()[0]
    assert r2.n_cells == 4 and r2.chi2 > 3.84  # > 95th pct of chi2(dof=1)


def test_lagged_xcorr_detects_shifted_copy(spark):
    import datetime as dt

    from tagtree_spark.tsdb.rollup import lagged_xcorr

    t0 = dt.datetime(2024, 1, 1)
    vals = [1.0, 5.0, 2.0, 8.0, 3.0, 9.0, 4.0, 7.0, 2.0, 6.0]
    rows_a, rows_b = [], []
    for h, v in enumerate(vals):
        rows_a.append((t0 + dt.timedelta(hours=h), v))
        rows_b.append((t0 + dt.timedelta(hours=h + 1), v))  # B = A shifted +1h
    a = spark.createDataFrame(rows_a, ["ts", "value"])
    b = spark.createDataFrame(rows_b, ["ts", "value"])
    got = {r.lag: r for r in lagged_xcorr(a, b).collect()}
    assert abs(got[1].r - 1.0) < 1e-12  # perfect correlation at lag +1
    assert got[1].n == 10
    assert got[0].r < 0.99  # not at lag 0


def test_materialize_postings_and_ivf_refuse_empty(spark, tmpdir):
    import pytest as _pytest

    from tagtree_spark.operators.similarity import materialize_ivf
    from tagtree_spark.operators.text import materialize_postings

    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    with _pytest.raises(ValueError, match="no tokens"):
        materialize_postings(empty_docs, f"{tmpdir}/pp")
    empty_emb = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    with _pytest.raises(ValueError, match="no vectors"):
        materialize_ivf(empty_emb, f"{tmpdir}/iv")


def test_routed_rollup_tiles_without_overlap(spark, events):
    from pyspark.sql import functions as F

    from tagtree_spark.queries import _model
    from tagtree_spark.tsdb.rollup import routed_rollup_read

    _, _, samples = _model(spark, "/root/testdata/sf0.001")
    boundary = 1_705_708_800
    r = routed_rollup_read(samples, boundary).cache()
    # regions tile: coarse strictly below the boundary, fine at/above
    bad = r.where(
        ((F.col("resolution_min") == 360) & (F.col("bucket_start") >= boundary))
        | ((F.col("resolution_min") == 60) & (F.col("bucket_start") < boundary))
    ).count()
    assert bad == 0
    # no sample lost or double-counted: total n equals the sample count
    assert r.agg(F.sum("n")).collect()[0][0] == samples.count()
    # misaligned boundary refused
    import pytest as _pytest

    with _pytest.raises(ValueError, match="align"):
        routed_rollup_read(samples, boundary + 60)


def test_keep_longest_vs_min_id_policy(spark):
    from tagtree_spark.operators.dedup import dedup_survivors, keep_longest_survivors

    docs = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (9, 7)], ["doc_id", "n_chars"]
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], ["doc_a", "doc_b"])
    kl = keep_longest_survivors(docs, pairs).collect()
    assert len(kl) == 1
    assert kl[0].keep_id == 2 and kl[0].keep_len == 99 and kl[0].n_members == 3
    # min-id policy keeps 1 for the same cluster — policies genuinely differ
    mi = {r.keep_id for r in dedup_survivors(docs, pairs).collect()}
    assert 1 in mi and 2 not in mi


def test_containment_drop_list_drops_contained_side(spark):
    from tagtree_spark.operators.dedup import containment_drop_list

    long_text = " ".join(f"w{i}" for i in range(30))
    excerpt = " ".join(f"w{i}" for i in range(10))  # fully contained prefix
    docs = spark.createDataFrame(
        [(1, long_text), (2, excerpt), (3, "totally different text here now")],
        ["doc_id", "text"],
    )
    got = {r.dropped_id: r.n_containers for r in containment_drop_list(docs).collect()}
    assert got == {2: 1}  # the excerpt drops, the source survives


def test_kcore_clique_survives_chain_peels(spark):
    from tagtree_spark.operators.graph import kcore

    # 4-clique (0-3) + a chain 3-4-5-6 dangling off it
    clique = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    chain = [(3, 4), (4, 5), (5, 6)]
    pairs = spark.createDataFrame(clique + chain, "doc_a bigint, doc_b bigint")
    k2 = {r.doc_id: r.core_deg for r in kcore(pairs, k=2).collect()}
    # chain tail peels (6 then 5 then 4); the clique is the entire 2-core
    assert set(k2) == {0, 1, 2, 3}
    assert all(d == 3 for d in k2.values())
    k3 = {r.doc_id: r.core_deg for r in kcore(pairs, k=3).collect()}
    assert set(k3) == {0, 1, 2, 3}


def test_kcore_seeded_equals_unseeded_at_fixpoint(spark):
    from tagtree_spark.operators.graph import kcore

    # two triangles joined by a bridge + pendant vertices
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (3, 5), (5, 6), (1, 7)],
        "doc_a bigint, doc_b bigint",
    )
    k2 = kcore(pairs, k=2)
    seeded = {(r.doc_id, r.core_deg) for r in kcore(pairs, k=3, seed=k2).collect()}
    plain = {(r.doc_id, r.core_deg) for r in kcore(pairs, k=3).collect()}
    assert seeded == plain
    # cap headroom: a larger cap changes nothing (converged)
    more = {(r.doc_id, r.core_deg) for r in kcore(pairs, k=2, max_iters=25).collect()}
    assert more == {(r.doc_id, r.core_deg) for r in k2.collect()}


def test_kcore_bfs_exact_depth_cap_converges(spark):
    """ADVICE r9: a peel/BFS whose depth equals max_iters EXACTLY must
    converge (the final round reaches the fixed point; proving it takes
    one extra confirmation round) — the cap still raises one deeper."""
    import pytest

    from tagtree_spark.operators.graph import bfs_layers, kcore

    # path 0-8 (peels to empty in 5 changing rounds) + triangle 100-102
    # (the nonempty 2-core fixed point): exactly 5 changing rounds, then
    # one confirmation — max_iters=5 used to raise spuriously
    path = [(i, i + 1) for i in range(8)]
    tri = [(100, 101), (101, 102), (100, 102)]
    pairs = spark.createDataFrame(path + tri, "doc_a bigint, doc_b bigint")
    got = {r.doc_id for r in kcore(pairs, k=2, max_iters=5).collect()}
    assert got == {100, 101, 102}
    with pytest.raises(ValueError, match="did not converge"):
        kcore(pairs, k=2, max_iters=4)
    # chain 0-5: seed eccentricity is exactly 5 — confirmation round only
    chain = [(i, i + 1) for i in range(5)]
    cp = spark.createDataFrame(chain, "doc_a bigint, doc_b bigint")
    got = {r.dist: r.n_nodes for r in bfs_layers(cp, max_iters=5).collect()}
    assert got == {d: 1 for d in range(6)}
    with pytest.raises(ValueError, match="did not converge"):
        bfs_layers(cp, max_iters=4)


def test_kcore_deep_chain_converges_or_raises(spark):
    """Adversarial peel depth (VERDICT r8): a pure path peels only its
    two endpoints per round, so depth grows with chain length. The
    convergence loop must empty the 2-core regardless of depth, and an
    insufficient max_iters must RAISE, never return a silent superset."""
    import pytest

    from tagtree_spark.operators.graph import kcore

    # a pure path of 9 nodes: 2-core is empty; peel depth is 5 layers
    path = [(i, i + 1) for i in range(8)]
    pairs = spark.createDataFrame(path, "doc_a bigint, doc_b bigint")
    assert kcore(pairs, k=2).count() == 0
    with pytest.raises(ValueError, match="did not converge"):
        kcore(pairs, k=2, max_iters=4)
    # star + deep chain: the star center has high degree but the 2-core
    # is still empty (a star is all leaves); depth comes from the chain
    star = [(100, 100 + i) for i in range(1, 8)]
    chain = [(200 + i, 200 + i + 1) for i in range(20)] + [(100, 200)]
    g2 = spark.createDataFrame(star + chain, "doc_a bigint, doc_b bigint")
    assert kcore(g2, k=2).count() == 0


def test_mmr_penalizes_redundancy(spark):
    """A near-duplicate of the top hit must lose its rank-2 spot to a
    diverse item even though its raw relevance is higher."""
    from tagtree_spark.operators.similarity import mmr_topk

    # query 0 along e0; cluster {1, 2}: rel .95 (2 a near-clone of 1,
    # mutual sim ~1); candidate 3: rel .90 but only ~.855 similar to the
    # cluster. mmr(2) = .5(.95 - ~1) < 0 < mmr(3) = .5(.90 - .855) — the
    # diverse item must take rank 2 despite lower raw relevance.
    dim = 64

    def vec(*pairs):
        v = [0.0] * dim
        for i, x in pairs:
            v[i] = x
        return v

    emb = spark.createDataFrame(
        [
            (0, vec((0, 1.0))),
            (1, vec((0, 0.95), (1, 0.312))),
            (2, vec((0, 0.95), (1, 0.313))),
            (3, vec((0, 0.90), (2, 0.436))),
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = {r.rank: r for r in mmr_topk(emb, 0, k=3, shortlist_n=3).collect()}
    assert out[1].vec_id in (1, 2)            # pure relevance first
    assert out[2].vec_id == 3                 # diverse beats the clone
    assert out[3].vec_id in (1, 2)            # clone last
    assert out[1].max_sim == 0.0 and out[3].max_sim > 0.99


def test_mmr_rank1_is_plain_top_and_deterministic(spark, embeddings):
    from tagtree_spark.operators.similarity import cosine_topk, mmr_topk

    top = cosine_topk(embeddings, 0, k=1).collect()[0]
    a = [(r.rank, r.vec_id) for r in mmr_topk(embeddings, 0, k=4).collect()]
    b = [(r.rank, r.vec_id) for r in mmr_topk(embeddings, 0, k=4).collect()]
    assert a == b and a[0][1] == top.vec_id
    assert len({v for _, v in a}) == 4  # no repeats


def _py_kcore(edges, k):
    """Reference fixpoint peel: repeatedly drop nodes with degree < k."""
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    alive = set(nbrs)
    while True:
        deg = {u: sum(1 for v in nbrs[u] if v in alive) for u in alive}
        drop = {u for u in alive if deg[u] < k}
        if not drop:
            return {u: deg[u] for u in alive}
        alive -= drop


def test_kcore_matches_python_reference_on_random_graphs(spark):
    import random

    from tagtree_spark.operators.graph import kcore

    for seed in (7, 23, 91):
        rng = random.Random(seed)
        n = 12
        edges = sorted(
            {
                (a, b)
                for _ in range(24)
                for a, b in [sorted(rng.sample(range(n), 2))]
            }
        )
        pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        for k in (2, 3):
            got = {
                (r.doc_id, r.core_deg)
                for r in kcore(pairs, k=k).collect()
            }
            assert got == set(_py_kcore(edges, k).items()), (seed, k)


def test_mmr_matches_python_reference(spark):
    import random

    from tagtree_spark.operators.similarity import mmr_topk

    rng = random.Random(5)
    dim, n = 64, 12
    vecs = {i: [rng.uniform(-1, 1) for _ in range(dim)] for i in range(n)}
    emb = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id bigint, embedding array<float>"
    )
    # float32 storage: the reference must fold over the SAME float32-rounded
    # values the engine reads back
    import struct as _struct

    f32 = {
        i: [_struct.unpack("f", _struct.pack("f", x))[0] for x in v]
        for i, v in vecs.items()
    }

    def cos(a, b):
        d = dd = bb = 0.0
        for x, y in zip(a, b):
            d = d + x * y
        for x in a:
            dd = dd + x * x
        for y in b:
            bb = bb + y * y
        import math

        return d / (math.sqrt(dd) * math.sqrt(bb))

    lam, k, sl_n = 0.5, 4, 8
    rel = {i: cos(f32[i], f32[0]) for i in f32 if i != 0}
    shortlist = sorted(rel, key=lambda i: (-rel[i], i))[:sl_n]
    picked = [min(shortlist, key=lambda i: (-rel[i], i))]
    expect = [(1, picked[0], rel[picked[0]], 0.0, lam * rel[picked[0]])]
    for r in range(2, k + 1):
        best = None
        for i in shortlist:
            if i in picked:
                continue
            ms = max(cos(f32[i], f32[j]) for j in picked)
            mmr = lam * rel[i] - (1.0 - lam) * ms
            key = (-mmr, i)
            if best is None or key < best[0]:
                best = (key, i, ms, mmr)
        picked.append(best[1])
        expect.append((r, best[1], rel[best[1]], best[2], best[3]))
    got = [
        (r.rank, r.vec_id, r.rel, r.max_sim, r.mmr)
        for r in mmr_topk(emb, 0, k=k, shortlist_n=sl_n).orderBy("rank").collect()
    ]
    assert got == expect


def test_medoid_survivor_picks_central_member(spark):
    """In a cluster {A, B, C} where B shares shingles with both A and C
    but A and C share nothing, B is the medoid regardless of ids."""
    from tagtree_spark.operators.dedup import medoid_survivors

    docs = spark.createDataFrame(
        [
            # 3-gram shingles: A∩B = {'x y z'}, B∩C = {'p q r'}, A∩C = ∅
            (1, "x y z a b c"),
            (2, "x y z p q r"),
            (3, "p q r d e f"),
        ],
        "doc_id bigint, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a bigint, doc_b bigint"
    )
    out = medoid_survivors(docs, pairs).collect()
    assert len(out) == 1
    r = out[0]
    assert r.cluster_id == 1 and r.keep_id == 2 and r.n_members == 3
    # B's sum = j(B,A) + j(B,C) > either leaf's single-edge sum
    assert r.sim_sum_ppm > 0


def test_medoid_counts_short_members_and_survives_all_short_cluster(spark):
    """A clustered member too short to shingle still counts toward
    n_members, and a cluster made entirely of short docs still emits a
    survivor (min id on all-zero similarity) — review r8."""
    from tagtree_spark.operators.dedup import medoid_survivors

    docs = spark.createDataFrame(
        [
            (1, "x y z a b c"),
            (2, "x y z p q r"),
            (3, "hi"),            # clustered but < 3 words: no shingles
            (10, "one two"),      # all-short cluster {10, 11}
            (11, "one"),
        ],
        "doc_id bigint, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a bigint, doc_b bigint"
    )
    out = {r.cluster_id: r for r in medoid_survivors(docs, pairs).collect()}
    assert out[1].n_members == 3          # short member counted
    assert out[1].keep_id in (1, 2)       # a shingled member wins
    assert out[10].keep_id == 10          # all-short cluster survives, min id
    assert out[10].n_members == 2 and out[10].sim_sum_ppm == 0


def test_cc_compress_converges_on_long_chain(spark):
    """compress=True (pointer jumping) labels a 200-node path in far
    fewer than diameter rounds; plain propagation would need ~200."""
    from tagtree_spark.operators.dedup import near_dup_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "doc_a bigint, doc_b bigint"
    )
    out = near_dup_clusters(pairs, max_iters=30, compress=True).collect()
    assert len(out) == 200 and all(r.cluster_id == 0 for r in out)
    # and the two modes agree on a branchy graph
    tree = spark.createDataFrame(
        [(0, 1), (1, 2), (1, 3), (3, 4), (5, 6)], "doc_a bigint, doc_b bigint"
    )
    a = {(r.doc_id, r.cluster_id) for r in near_dup_clusters(tree).collect()}
    b = {
        (r.doc_id, r.cluster_id)
        for r in near_dup_clusters(tree, compress=True).collect()
    }
    assert a == b


def test_sequence_match_counts_and_anchors(spark):
    import datetime as dt

    import pytest

    from tagtree_spark.operators.events import sequence_match

    T = dt.datetime
    rows = [
        # user 1: s v v p s p → two non-overlapping matches; first spans 4 events
        (1, 10, "signup", T(2024, 1, 1)), (1, 11, "view", T(2024, 1, 2)),
        (1, 12, "view", T(2024, 1, 3)), (1, 13, "purchase", T(2024, 1, 4)),
        (1, 14, "signup", T(2024, 1, 5)), (1, 15, "purchase", T(2024, 1, 6)),
        # user 2: purchase precedes signup → no match
        (2, 20, "purchase", T(2024, 1, 1)), (2, 21, "signup", T(2024, 1, 2)),
        # user 3: error events must not break the (view|click)* run
        (3, 30, "signup", T(2024, 1, 1)), (3, 31, "error", T(2024, 1, 2)),
        (3, 32, "click", T(2024, 1, 3)), (3, 33, "purchase", T(2024, 1, 4)),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts timestamp"
    )
    out = {
        r.user_id: r
        for r in sequence_match(
            ev, "s[vc]*p",
            {"signup": "s", "view": "v", "click": "c", "purchase": "p"},
        ).collect()
    }
    assert set(out) == {1, 3}
    assert out[1].n_matches == 2
    assert out[1].first_pos == 1 and out[1].first_len == 4
    assert out[1].first_event_id == 10
    assert out[1].first_span_us == 3 * 86400 * 10**6
    # user 3: 'error' is outside the symbol alphabet, so the sequence is s c p
    assert out[3].n_matches == 1 and out[3].first_len == 3
    assert out[3].first_event_id == 30

    # max_events hard-slices hot keys: user 1 truncated to 4 events → 1 match
    out4 = {
        r.user_id: r
        for r in sequence_match(
            ev, "s[vc]*p",
            {"signup": "s", "view": "v", "click": "c", "purchase": "p"},
            max_events=4,
        ).collect()
    }
    assert out4[1].n_matches == 1

    with pytest.raises(ValueError):
        sequence_match(ev, "sp", {"signup": "sv", "purchase": "p"})
    with pytest.raises(ValueError):
        sequence_match(ev, "sp", {"signup": "s", "purchase": "s"})


def test_l_diversity_flags_homogeneous_groups(spark):
    from tagtree_spark.operators.profile import l_diversity

    rows = [
        # group (a,1): 3 rows but only ONE sensitive value → at risk
        ("a", 1, 100), ("a", 1, 100), ("a", 1, 100),
        # group (b,2): 3 rows, 3 distinct values → diverse
        ("b", 2, 1), ("b", 2, 2), ("b", 2, 3),
        # group (c,3): 2 rows, 2 distinct → below l=3 → at risk
        ("c", 3, 7), ("c", 3, 8),
    ]
    df = spark.createDataFrame(rows, "q1 string, q2 int, sens int")
    out = l_diversity(df, ["q1", "q2"], "sens", l=3).collect()[0]
    assert out.n_rows == 8 and out.n_groups == 3
    assert out.n_low_diversity_groups == 2
    assert out.n_rows_at_risk == 5
    assert out.min_diversity == 1


def test_sequence_match_rejects_anchored_and_empty_patterns(spark):
    import datetime as dt

    import pytest

    from tagtree_spark.operators.events import sequence_match

    ev = spark.createDataFrame(
        [(1, 1, "signup", dt.datetime(2024, 1, 1))],
        "user_id long, event_id long, event_type string, ts timestamp",
    )
    syms = {"signup": "s", "purchase": "p"}
    for bad in ("^sp", "sp$", r"\bsp", "s*", "(sp)?"):
        with pytest.raises(ValueError):
            sequence_match(ev, bad, syms)
    # engine-divergent syntax outside the Java/Python/RE2 common subset
    # must be rejected structurally (ADVICE r8): the streamed twin runs
    # Python re while batch runs JVM regexp_* — inline flags, perl
    # classes, backrefs, lookaround, '.' and out-of-alphabet literals
    # could silently diverge instead of erroring
    for bad in (
        "(?i)sp",
        "(?:sp)",
        r"s\dp",
        r"(s)\1p",
        "s(?=p)",
        "s.p",
        "sxp",
        "[sx]p",
        "s{1,p",
        "[sp",
    ):
        with pytest.raises(ValueError):
            sequence_match(ev, bad, syms)
    # escaped literals are NOT anchors — must be accepted
    sequence_match(ev, r"s\$?p", syms)
    # the full safe subset in one pattern: classes over the alphabet,
    # groups, alternation, all quantifier forms
    sequence_match(ev, "(s|p)[sp]{1,2}p?s*p+", syms)


def test_bfs_layers_matches_python_reference(spark):
    import collections
    import random

    import pytest

    from tagtree_spark.operators.graph import bfs_layers

    def py_layers(edges, seed):
        nbrs = collections.defaultdict(set)
        for a, b in edges:
            nbrs[a].add(b)
            nbrs[b].add(a)
        dist = {seed: 0}
        frontier = [seed]
        while frontier:
            nxt = []
            for u in frontier:
                for v in nbrs[u]:
                    if v not in dist:
                        dist[v] = dist[u] + 1
                        nxt.append(v)
            frontier = nxt
        return collections.Counter(dist.values())

    for seed in (3, 11):
        rng = random.Random(seed)
        edges = sorted(
            {tuple(sorted(rng.sample(range(14), 2))) for _ in range(20)}
        )
        pairs = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
        s0 = min(min(e) for e in edges)
        got = {r.dist: r.n_nodes for r in bfs_layers(pairs).collect()}
        assert got == dict(py_layers(edges, s0)), seed
    # disconnected far component never appears; raising cap on deep chains
    chain = [(i, i + 1) for i in range(12)]
    pairs = spark.createDataFrame(chain, "doc_a bigint, doc_b bigint")
    got = {r.dist: r.n_nodes for r in bfs_layers(pairs).collect()}
    assert got == {d: 1 for d in range(13)}
    with pytest.raises(ValueError, match="did not converge"):
        bfs_layers(pairs, max_iters=5)


def test_exactsubstr_trim_removes_all_duplicated_spans(spark):
    """Lee et al. ExactSubstr removal: after trimming, NONE of the
    original duplicated windows survive anywhere in the corpus —
    re-running the duplicated-window scan on the trimmed text finds
    zero spans (the synthetic corpus has no seam collisions)."""
    from tagtree_spark.operators.dedup import (
        dup_window_positions,
        exactsubstr_trim,
    )

    span = " ".join(f"dup{i}" for i in range(10))  # 10-token repeated span
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {span} gamma delta"),
            (2, f"eps zeta {span} eta theta iota"),
            (3, "unique words only here nothing repeats at all ok"),
            (4, f"{span}"),  # fully duplicated → trims to empty
            (5, "short doc"),  # < window tokens → untouched
        ],
        "doc_id bigint, text string",
    )
    tr = exactsubstr_trim(docs, window=8)
    got = {r.doc_id: r for r in tr.collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    # untouched docs pass through byte-identical
    assert got[3].trimmed_text == "unique words only here nothing repeats at all ok"
    assert got[5].trimmed_text == "short doc"
    assert got[5].n_tokens_before == got[5].n_tokens_after == 2
    # the fully-duplicated doc empties; partial docs keep only the
    # positions outside every duplicated window
    assert got[4].n_tokens_after == 0 and got[4].trimmed_text == ""
    assert got[1].n_tokens_after < got[1].n_tokens_before
    for d in (1, 2):
        assert "dup0" not in got[d].trimmed_text
    # re-scan: the trimmed corpus contains ZERO duplicated windows
    trimmed_docs = tr.select("doc_id", F.col("trimmed_text").alias("text"))
    assert dup_window_positions(trimmed_docs, window=8).count() == 0


def test_code_switching_detects_mixture(spark):
    """A doc whose first 100-char window is English lexicon words and
    whose second window is German must report n_langs=2 with one
    dominant-language window each; monolingual and unidentifiable docs
    report their degenerate shapes."""
    from tagtree_spark.operators.text import code_switching

    en = ("the value and query " * 5).strip()         # fills one window
    de = ("der die das und nicht " * 5).strip()
    mixed = (en + " ").ljust(100, "x") + de            # window 2 = German
    docs = spark.createDataFrame(
        [
            (1, mixed),
            (2, en),                                    # monolingual, 1 window
            (3, "zzz qqq " * 3),                        # unidentifiable
            (4, ""),                                    # empty -> 1 empty window
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in code_switching(docs).collect()}
    assert got[1].n_langs == 2 and got[1].n_chunks >= 2
    assert got[1].dom_chunks < got[1].n_identified     # no language dominates fully
    assert got[2].n_langs == 1 and got[2].n_identified == got[2].dom_chunks
    assert got[3].n_langs == 0 and got[3].n_identified == 0
    assert got[4].n_chunks == 1 and got[4].n_langs == 0


def test_log_histogram_quantile_sketch(spark):
    """Log-histogram sketch invariants: (1) merge of arbitrary partition
    partials equals the direct sketch; (2) every quantile bucket
    straddles the true order statistic with relative width ≤ 2^-6 —
    checked on adversarial data packed around power-of-two boundaries."""
    from pyspark.sql import functions as F

    from tagtree_spark.operators.sketch import (
        log_histogram,
        logq_exprs,
        merge_log_histograms,
    )

    vals = (
        [0, 1, 63, 64, 65, 127, 128, 129]
        + [2**k + d for k in range(6, 18) for d in (-1, 0, 1)]
        + [17 * i % 100_000 for i in range(3000)]
    )
    df = spark.createDataFrame(
        [("k", v, i) for i, v in enumerate(vals)], "key string, s long, i long"
    )
    direct = {
        (r.bucket, r.lo, r.hi): r.n for r in log_histogram(df, "key", "s").collect()
    }
    # partials over 5 arbitrary slices -> merge == direct
    bucket, lo, hi = logq_exprs("s", "spark")
    parts = (
        df.withColumn("slice", F.col("i") % 5)
        .select(
            "key",
            "slice",
            F.expr(bucket).cast("bigint").alias("bucket"),
            F.expr(lo).cast("bigint").alias("lo"),
            F.expr(hi).cast("bigint").alias("hi"),
        )
        .groupBy("key", "slice", "bucket", "lo", "hi")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    merged = {
        (r.bucket, r.lo, r.hi): r.n
        for r in merge_log_histograms(parts.drop("slice")).collect()
    }
    assert merged == direct and len(direct) > 50
    # containment + width bound for every rank target
    svals = sorted(vals)
    n = len(svals)
    rows = sorted(direct.items())
    for p in (0.01, 0.25, 0.5, 0.9, 0.99, 1.0):
        r = max(1, -(-int(p * n * 100) // 100))  # ceil(p*n) without fp drama
        true = svals[r - 1]
        cum = 0
        for (b, l, h), c in rows:
            cum += c
            if cum >= r:
                assert l <= true < h, (p, r, true, l, h)
                assert (h - l) <= max(1, (true >> 6) + 1), (p, h - l, true)
                break


def test_q313_window_parameter_bounds_probe_days(spark):
    """q313's trend window is an enforced PARAMETER (VERDICT r10 #7), not
    an assumption about the dataset's span: with window_days=7 both
    engines analyze only the trailing 7 days per type and still
    hash-match, and the n column shrinks vs the full-window run —
    proof the filter actually restricts the pair universe."""
    import duckdb

    from tagtree_spark.io import TABLES, load_table
    from tagtree_spark.queries_ext import _q313_oracle, q313_kendall_tau

    sf = "/root/testdata/sf0.001"
    got = q313_kendall_tau(spark, sf, window_days=7).toPandas()
    full = q313_kendall_tau(spark, sf).toPandas()
    assert got["n"].sum() < full["n"].sum()

    con = duckdb.connect()
    ev = load_table(spark, sf, "events").toPandas()
    con.register("events", ev)
    want = con.execute(_q313_oracle(window_days=7)).df()
    g = got.sort_values("event_type").reset_index(drop=True)
    w = want.sort_values("event_type").reset_index(drop=True)
    assert list(g["event_type"]) == list(w["event_type"])
    for c in ("n", "num", "cpd"):
        assert list(g[c].astype(int)) == list(w[c].astype(int)), c
    for c in ("den_x", "den_y", "tau"):
        assert [repr(x) for x in g[c]] == [repr(x) for x in w[c]], c


def test_resets_over_time_counts_decreases(spark):
    """resets() counts strict consecutive decreases under the total
    (ts, value) order; changes() on the same series counts all
    inequality flips — resets <= changes always."""
    import datetime as dt

    from tagtree_spark.tsdb.promql import changes_over_time, resets_over_time

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, i), v)
        for i, v in enumerate([1.0, 3.0, 2.0, 2.0, 5.0, 1.0])
    ]
    samples = spark.createDataFrame(rows, "tsid long, ts timestamp, value double")
    r = resets_over_time(samples).collect()[0]
    c = changes_over_time(samples).collect()[0]
    assert (r.n_samples, r.n_resets) == (6, 2)  # 3->2 and 5->1
    assert c.n_changes == 4 and r.n_resets <= c.n_changes

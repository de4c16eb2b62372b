"""Deduplication operators (E1/E2): exact, MinHash+LSH, SimHash, n-gram
Jaccard — the training-data-pipeline surface mandated by the project north
star (SURVEY.md §2.11), absent from the reference (it indexes time series,
not documents); designed Spark-first for 100 TB corpora.

Scale stance:
  * NOTHING here cross-joins. Near-dup candidate generation is always a
    bucket join — LSH band buckets (MinHash), bit-band buckets (SimHash),
    or a shingle inverted index (exact Jaccard) — so work is proportional
    to colliding pairs, not to |docs|².
  * All hashing is ``h60`` (md5-derived, tagtree_spark.functions.hashing)
    so the DuckDB oracle reproduces every signature bit-identically.
  * Everything is JVM-native column expressions — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from tagtree_spark.functions.hashing import MINHASH_P, h60, minhash_params
from tagtree_spark.session import persist_tracked, spread

# MinHash defaults: 12 permutations, 4 bands x 3 rows. For a pair with
# Jaccard J the candidate probability is 1-(1-J^3)^4 — ~0.05 at J=0.25,
# ~0.97 at J=0.8 — the standard S-curve for "near-dup" thresholds >=0.5.
N_PERM = 12
N_BANDS = 4
ROWS_PER_BAND = 3

#: Default LSH bucket-size cap for the near-dup candidate joins. One
#: degenerate band value (constant/boilerplate text, the all-zero LSH
#: bucket) would otherwise collect_list the whole bucket onto one executor
#: and emit O(d²) pairs — the cap IS the quadratic bound at 100 TB, exactly
#: as ``max_df`` is for :func:`ngram_jaccard_pairs`. True near-dups collide
#: in SMALL buckets (their shared band values are rare by construction), so
#: recall for genuine pairs is essentially unaffected; an oversize bucket
#: means the band carries no discriminating signal. Monitor drops at scale
#: via :func:`dropped_bucket_stats`.
MAX_BUCKET = 200

#: Mask folding h60 into the 31-bit domain of the affine permutation family.
H31_MASK = 0x7FFFFFFF

#: Build parameters of the shared MinHash signature table (the ``mh_sigs``
#: artifact): the same constant keys its cache slot and is what a
#: ``sigs=`` consumer's permutation count and banding are checked against.
MINHASH_SIG_PARAMS = {
    "n_perm": N_PERM,
    "n_bands": N_BANDS,
    "rows_per_band": ROWS_PER_BAND,
}


def check_params(arg: str, frame, declared: dict, **requested) -> None:
    """Refuse a precomputed ``arg=`` frame next to parameters it was not
    built with: ``declared`` is the build-parameter constant of the
    artifact the frame is; each requested value must equal it. A
    requested key ``declared`` does not name is an input the precomputed
    frame makes unused, so it must be None. Driver-side only — no Spark
    action. Silently ignoring the mismatch would return plausible-looking
    wrong rows (ADVICE r13/r14)."""
    if frame is None:
        return
    bad = [
        k
        for k, v in requested.items()
        if (v != declared[k] if k in declared else v is not None)
    ]
    if bad:
        got = ", ".join(
            f"{k}={requested[k] if k in declared else 'set'}" for k in bad
        )
        raise ValueError(
            f"{arg}= is a precomputed frame built with {declared}; got {got} "
            f"— drop the {arg}= argument to honor them, or rebuild it with "
            "those parameters"
        )


def shingle_hashes(shingle_col: str = "shingles") -> Column:
    """One md5 per distinct shingle, folded to 31 bits: the shared input of
    every MinHash permutation (the md5 is the expensive part — everything
    downstream is integer arithmetic)."""
    return F.array_distinct(
        F.transform(F.col(shingle_col), lambda s: h60(s).bitwiseAND(F.lit(H31_MASK)))
    )


def doc_shingle_hashes(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """``(doc_id, hs)``: the distinct 60-bit word-n-gram shingle hashes per
    document — the SHARED base pass of the whole exact set-overlap family
    (Jaccard q32, containment q99, prefix-filter q126) and, masked to 31
    bits, of the MinHash signature pipeline (q25). One md5 per distinct
    shingle is the dominant cost of all of them; callers cache/persist ONE
    instance of this frame per (session, corpus) and pass it in, so the
    hashing runs once instead of once per query."""
    return (
        word_shingles(spread(docs), n=n, text_col=text_col)
        .where(F.size("shingles") > 0)
        .select(
            F.col(id_col).alias("doc_id"),
            F.array_distinct(F.transform("shingles", lambda s: h60(s))).alias("hs"),
        )
    )


def word_shingles(docs: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """Add ``shingles``: the distinct word n-grams of ``text_col``.

    Pure projection (no shuffle). The words array is materialized in its
    own projection first — referencing ``split(text)`` directly inside the
    transform lambda would re-split the text once per shingle index
    (O(words²) string work per document; CollapseProject keeps the
    multi-use non-cheap alias, so the split runs once per row).

    Guarded for texts shorter than n words — Spark's sequence() would
    otherwise generate a DESCENDING range.
    """
    with_words = docs.withColumn("_words", F.split(F.col(text_col), " "))
    grams = F.expr(
        f"transform(sequence(0, size(_words) - {n}), "
        f"i -> concat_ws(' ', slice(_words, i + 1, {n})))"
    )
    return with_words.withColumn(
        "shingles",
        F.when(F.size("_words") >= n, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        ),
    ).drop("_words")


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """E1 exact dedup → one survivor row per distinct content hash:
    ``(keep_id, n_copies)``. The group key is h60(text), i.e. the
    hash-groupBy shape that scales (the shuffle key is a 60-bit int, never
    the document body)."""
    return (
        docs.groupBy(h60(text_col).alias("text_h60"))
        .agg(
            F.min(id_col).cast("bigint").alias("keep_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
        .select("keep_id", "n_copies")
    )


def minhash_signature(hash_col: str | Column = "hs", n_perm: int = N_PERM) -> Column:
    """MinHash signature column over the 31-bit shingle hashes: element j =
    min over hashes of (a_j*h + b_j) mod 2^31-1 (affine universal family,
    constants from :func:`minhash_params` so the oracle regenerates them)."""
    hashes = F.col(hash_col) if isinstance(hash_col, str) else hash_col

    def _perm(a: int, b: int):
        # closure, NOT default args: extra lambda params would make
        # F.transform pass the array index into them.
        return lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(MINHASH_P)

    mins = [
        F.array_min(F.transform(hashes, _perm(a, b)))
        for a, b in minhash_params(n_perm)
    ]
    return F.array(*mins)


def masked_hashes(hash_col: str = "hs") -> Column:
    """A cached :func:`doc_shingle_hashes` array folded into the 31-bit
    permutation domain: distinct(mask(distinct(h60))) == distinct(mask(h60))
    element for element, so this equals hashing the shingles with the
    masked h60 directly."""
    return F.array_distinct(
        F.transform(hash_col, lambda x: x.bitwiseAND(F.lit(H31_MASK)))
    )


def doc_signatures(
    docs: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = N_PERM,
    sh: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """``(doc_id, sig)`` MinHash signatures — the one definition behind the
    ``mh_sigs`` artifact, :func:`minhash_near_dup_pairs` and
    :func:`lsh_band_histogram`: a passed ``sigs`` table as is, else the
    masked fold over a cached ``sh`` shingle table, else shingled inline
    from ``docs``."""
    if sigs is not None:
        return sigs.select("doc_id", "sig")
    if sh is not None:
        return sh.select(
            "doc_id", minhash_signature(masked_hashes("hs"), n_perm=n_perm).alias("sig")
        )
    # filter on the cheap word-count precondition (equivalent to
    # size(shingles) > 0): a size(shingles) predicate gets pushed below the
    # projection and REBUILDS the whole shingle pipeline inside the Filter
    return (
        word_shingles(
            spread(docs).where(F.size(F.split(F.col(text_col), " ")) >= 3),
            text_col=text_col,
        )
        .withColumn("hs", shingle_hashes("shingles"))
        .select(
            F.col(id_col).alias("doc_id"),
            minhash_signature("hs", n_perm=n_perm).alias("sig"),
        )
    )


def lsh_band_keys(
    sig_col: str = "sig", n_bands: int = N_BANDS, rows_per_band: int = ROWS_PER_BAND
) -> Column:
    """array of per-band bucket keys: band b → h60(b ':' sig[b*r..b*r+r-1])."""
    keys = []
    for b in range(n_bands):
        parts = [
            F.col(sig_col)[b * rows_per_band + r].cast("string")
            for r in range(rows_per_band)
        ]
        keys.append(h60(F.concat_ws("#", F.lit(f"{b}:"), *parts)))
    return F.array(*keys)


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    min_match: int = 6,
    max_bucket: int | None = MAX_BUCKET,
    sh: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """E2 near-dup pairs via MinHash + LSH banding → ``(doc_a, doc_b,
    n_match)`` where n_match = #agreeing signature positions (>= min_match).

    Plan shape (the 100 TB path):
      1. narrow: shingle + signature per doc (no shuffle);
      2. explode band keys → groupBy-join on (band key): candidates are
         generated per bucket — NO cross join anywhere;
      3. verify candidates on the full signature (join back to signatures,
         count agreeing positions).

    Pass a precomputed ``(doc_id, sig)`` signature table as ``sigs`` (the
    materialized artifact a 100 TB pipeline keeps next to the corpus —
    built exactly as the ``sh`` path builds it) to skip the shingle+fold
    pass entirely; it must cover exactly the documents of ``docs``.
    """
    check_params(
        "sigs", sigs, MINHASH_SIG_PARAMS,
        n_perm=n_perm, n_bands=n_bands, rows_per_band=rows_per_band,
    )
    # Persist the signatures: the plan reads them three times (two band-join
    # sides + verification join-back); without materialization Spark would
    # re-run the md5 shingle hashing for each read. One row per doc — at
    # scale this is the "signature table" a real pipeline would materialize.
    # A passed-in table is already materialized.
    built = doc_signatures(docs, id_col, text_col, n_perm, sh=sh, sigs=sigs)
    sigs = built if sigs is not None else persist_tracked(built)
    bands = sigs.select(
        "doc_id", F.explode(lsh_band_keys("sig", n_bands, rows_per_band)).alias("band")
    )
    # Bucketed pair generation: group docs per band value and emit ordered
    # pairs inside each bucket — one shuffle, no self-join re-reading the
    # input. max_bucket drops degenerate hot buckets BEFORE the pair
    # explosion, bounding the join quadratically (the oracle mirrors the
    # same HAVING count(*) <= cap filter).
    cand = _bucket_pairs(bands, "band", max_bucket=max_bucket).distinct()
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    n_match = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", n_match.cast("bigint").alias("n_match"))
        .where(F.col("n_match") >= min_match)
    )


def _bucket_pairs(df: DataFrame, key: str, max_bucket: int | None = None) -> DataFrame:
    """(key, doc_id) → all ordered doc pairs sharing a key value:
    groupBy(key) + collect_list, pairs generated array-side per bucket.
    ONE pass over the input (a self-join would recompute the whole upstream
    pipeline for each side). ``max_bucket`` drops degenerate buckets."""
    # r13 note: a user-sized repartition(key) here was MEASURED NET
    # NEGATIVE — many consumers cache the (tiny) pair output, and a
    # 32-partition cached frame makes every downstream stage pay 32-task
    # scheduling (full-bench: q127 +2.0 s, q148 +1.5 s, q154 +1.5 s);
    # the AQE-coalesced default wins for this operator's output sizes
    buckets = df.groupBy(key).agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
    if max_bucket is not None:
        buckets = buckets.where(F.size("ds") <= max_bucket)
    pairs = F.explode(
        F.flatten(
            F.expr(
                "transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS doc_a, y AS doc_b)))"
            )
        )
    )
    return buckets.where(F.size("ds") >= 2).select(pairs.alias("p")).select("p.doc_a", "p.doc_b")


def near_dup_clusters(
    pairs: DataFrame, max_iters: int = 20, compress: bool = False
) -> DataFrame:
    """Connected components over a near-dup pair graph → ``(doc_id,
    cluster_id)`` with cluster_id = min doc id in the component — the step
    that turns pairwise near-dup hits into dedup GROUPS (keep one doc per
    cluster).

    Iterative min-label propagation: every node starts as its own label;
    each round every node takes the min of its own and its neighbours'
    labels; the unique fixpoint is the component minimum (deterministic —
    independent of iteration order, which is what lets a recursive-SQL
    oracle reproduce it exactly).

    Scale stance: rounds are O(component diameter), and near-dup
    components are quasi-cliques (diameter ~2-3), so the loop is a handful
    of shuffle-joins regardless of corpus size; each round is one
    broadcast-able join + groupBy. For long-chain graphs (e.g. mutual-kNN
    graphs, whose components are chain-shaped) pass ``compress=True``:
    each round then also applies one pointer-jumping step L(v) <- L(L(v))
    (a self-join on the label table), halving remaining chain depth —
    convergence in O(log diameter) rounds instead of O(diameter). The
    fixpoint is the same component minimum either way (compression only
    replaces a node's label by its label's label — already a component
    member — and propagation is monotone decreasing), so the recursive-
    SQL oracle needs no change. Raises if not converged — an unconverged
    labelling would silently disagree with the oracle's closure.

    Each round's labels are eagerly ``localCheckpoint``-ed: without lineage
    truncation the plan nests every prior round's joins and the DRIVER
    dies planning round ~10 (OOM building the tree) — the canonical
    iterative-algorithm failure. On a real cluster prefer reliable
    ``checkpoint()`` (localCheckpoint pins partitions to executors, so an
    executor loss kills the job instead of recomputing).
    """
    undirected = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
    edges = persist_tracked(
        undirected.union(undirected.select(F.col("d").alias("s"), F.col("s").alias("d")))
    )
    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    for _i in range(max_iters):
        nbr = edges.join(
            labels.select(F.col("node").alias("d"), "label"), on="d"
        ).select(F.col("s").alias("node"), "label")
        new_labels = nbr.union(labels).groupBy("node").agg(
            F.min("label").alias("label")
        )
        if compress:
            # pointer jumping: L(v) <- L(L(v)). Labels are always node
            # ids (init = self, propagation takes mins of node ids), so
            # the lookup join hits; coalesce covers a label whose own
            # row was pruned from this frame (cannot happen today, but
            # the fallback is the identity either way). ONE jump per
            # round measured fastest: each extra jump is another shuffle
            # join, which costs more than the rounds it saves.
            lk = new_labels.select(
                F.col("node").alias("_ln"), F.col("label").alias("_ll")
            )
            new_labels = (
                new_labels.join(lk, new_labels["label"] == lk["_ln"], "left")
                .select(
                    "node",
                    F.coalesce("_ll", "label").alias("label"),
                )
            )
        # lazy checkpoint: the lineage is truncated at materialization,
        # which happens at the next convergence probe (every 2nd round
        # under compress) — one job then covers both rounds' work. The
        # eager form paid one job per round; the nesting depth between
        # probes stays bounded (2 rounds), far from the driver-OOM
        # regime the truncation exists to prevent.
        new_labels = new_labels.localCheckpoint(eager=False)
        # with compression the convergence probe runs every 2nd round:
        # the count() is a separate job, and compressed rounds converge
        # fast enough that halving the probes saves real wall time while
        # at most ONE redundant (idempotent) extra round runs
        probe = (not compress) or (_i % 2 == 1) or (_i == max_iters - 1)
        changed = (
            new_labels.join(
                labels.select("node", F.col("label").alias("old")), on="node"
            )
            .where(F.col("label") != F.col("old"))
            .count()
            if probe
            else -1
        )
        labels = new_labels
        if changed == 0:
            return labels.select(
                F.col("node").cast("bigint").alias("doc_id"),
                F.col("label").cast("bigint").alias("cluster_id"),
            )
    raise RuntimeError(
        f"near_dup_clusters did not converge in {max_iters} rounds — "
        "raise max_iters (component diameter exceeds it)"
    )


def dedup_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Keep-one materialization of near-dup clustering → ``(keep_id,
    n_members)``: one row per dedup group, keeping the minimum doc id
    (the cluster label from :func:`near_dup_clusters`); documents touched
    by no near-dup pair survive as their own singleton group.

    This is the operator a pipeline actually runs — pairs → groups →
    surviving corpus. Shape: the cluster side is one groupBy over the
    (small) clustered-node set; the singleton side is a left-anti join of
    the corpus against that set (AQE broadcasts it when small). Join keys
    are ids only — document bodies never shuffle. Pass a precomputed
    ``clusters`` labelling to skip the CC loop (callers sharing one
    cluster table across several survivor policies).
    """
    if clusters is None:
        clusters = near_dup_clusters(pairs, max_iters=max_iters)
    members = (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").cast("bigint").alias("n_members"))
        .select(F.col("cluster_id").alias("keep_id"), "n_members")
    )
    singles = (
        docs.join(clusters, docs[id_col] == clusters["doc_id"], "left_anti")
        .select(
            F.col(id_col).cast("bigint").alias("keep_id"),
            F.lit(1).cast("bigint").alias("n_members"),
        )
    )
    return members.unionByName(singles)


def benchmark_contamination(
    docs: DataFrame, benchmark_texts: list[str], n: int = 3, id_col: str = "doc_id"
) -> DataFrame:
    """Benchmark decontamination probe → ``(doc_id, n_hits)`` for every
    document sharing at least one word n-gram with the benchmark corpus —
    the standard eval-leakage check a training pipeline runs before
    training (n-gram collision against held-out benchmarks).

    The benchmark shingle set is computed driver-side (benchmarks are
    small — MMLU-sized, not corpus-sized) and embedded as a literal array:
    per document, ``n_hits = size(array_intersect(shingles, benchmark))``
    — a pure narrow projection, no explode, no shuffle at all (both sides
    are distinct, so the intersection size is the distinct-overlap count).

    Measured note (r3): the plain ``where n_hits > 0`` predicate was
    pushed below BOTH the projection and the spread() exchange, so the
    whole corpus' shingling+intersection ran twice AND serialized inside
    the single-task parquet scan (a one-row-group file is unsplittable —
    r13 event log: 1.5 s on one core). The filter now carries an
    always-true ``spark_partition_id() >= 0`` conjunct: the optimizer
    treats it as non-deterministic, which pins the filter above the
    exchange and above the projection — the intersect evaluates exactly
    once, on all cores. For benchmark sets too large for a literal
    array, the explode + broadcast semi-join becomes the only option.
    """
    bench = sorted(
        {
            " ".join(ws[i : i + n])
            for t in benchmark_texts
            for ws in (t.split(" "),)
            for i in range(len(ws) - n + 1)
        }
    )
    bench_arr = F.array(*[F.lit(s) for s in bench])
    sh = word_shingles(spread(docs), n=n)
    return (
        sh.select(
            F.col(id_col).alias("doc_id"),
            F.size(F.array_intersect("shingles", bench_arr)).cast("bigint").alias("n_hits"),
        )
        # pushdown barrier: the optimizer SPLITS a conjunction and pushes
        # its deterministic half, so the guard must sit INSIDE the one
        # comparison — when() on the (always-true, non-deterministic)
        # spark_partition_id() >= 0 makes the whole predicate
        # non-deterministic and keeps the intersect above the exchange
        .where(
            F.when(F.spark_partition_id() >= 0, F.col("n_hits")).otherwise(F.lit(0))
            > 0
        )
    )


def dropped_bucket_stats(df: DataFrame, key: str, max_bucket: int) -> DataFrame:
    """Monitoring companion to :func:`_bucket_pairs`'s cap: one row
    ``(n_buckets, n_dropped, max_bucket_size, dropped_rows)`` describing how
    many buckets the cap discards. At 100 TB this is the number a pipeline
    logs per run — a rising ``n_dropped`` means the banding scheme is too
    coarse for the corpus (add planes/bands), not that data was lost
    silently."""
    sizes = df.groupBy(key).agg(F.count("*").alias("n"))
    return sizes.agg(
        F.count("*").cast("bigint").alias("n_buckets"),
        F.sum(F.when(F.col("n") > max_bucket, 1).otherwise(0)).cast("bigint").alias("n_dropped"),
        F.max("n").cast("bigint").alias("max_bucket_size"),
        F.sum(F.when(F.col("n") > max_bucket, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("dropped_rows"),
    )


def simhash60(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """E2 SimHash: 60-bit fingerprint per document → ``(doc_id, simhash)``.

    Classic Charikar scheme over word unigrams weighted by term frequency:
    bit b of the fingerprint is set iff sum over words of
    (count if bit b of h60(word) else -count) > 0.

    Plan: ZERO shuffles — the whole fingerprint folds row-locally over the
    in-row token array (token hashes materialized once per row, then 60
    integer folds in whole-stage codegen). ±1 per token occurrence is
    arithmetically identical to the textbook ±count per distinct word, so
    no (doc, word) count aggregation — and therefore no exchange — is
    needed; the first shuffle of the near-dup path is the band bucketing
    itself. (Earlier shape: explode → groupBy(doc,word) → groupBy(doc),
    two full shuffles of every token, ~1.9 s slower at sf0.1.)
    """

    masks = F.array(*[F.lit(1 << b).cast("bigint") for b in range(60)])
    hws = F.transform(F.split(F.col(text_col), " "), lambda w: h60(w))
    # ONE fold, 60-wide array state: the token-hash array appears exactly
    # once in the expression tree, so CollapseProject cannot duplicate the
    # md5 work (same defence as fingerprints(); a per-bit aggregate would
    # re-hash every token 60×).
    sums = F.aggregate(
        hws,
        F.expr("array_repeat(cast(0 as bigint), 60)"),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != F.lit(0), F.lit(1).cast("bigint")).otherwise(
                F.lit(-1).cast("bigint")
            ),
        ),
    )
    fingerprint = F.aggregate(
        F.zip_with(
            sums,
            masks,
            lambda s, m: F.when(s > 0, m).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda a, b: a + b,
    )
    return spread(docs).select(
        F.col(id_col).alias("doc_id"), fingerprint.alias("simhash")
    )


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = MAX_BUCKET,
    fp: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs → ``(doc_a, doc_b, hamming)``.

    Bit-band LSH: split the 60-bit fingerprint into ``n_bands`` 15-bit
    bands; any pair within hamming distance < n_bands shares at least one
    exact band (pigeonhole), so a bucket join on band values has full
    recall for max_hamming <= n_bands - 1. Verification = popcount(XOR).

    ``fp`` takes a precomputed ``(doc_id, simhash)`` fingerprint frame
    (the r13 shared-frame pattern — queries_ext._sfp caches one per
    session; the TF-weighted fold dominates each consumer otherwise).
    """
    width = 60 // n_bands
    if fp is None:
        # One row per doc — persist so band bucketing and the verification
        # join-backs don't re-run the word-count + 60-bit-sum pipeline.
        # spread first (r13): the shuffle-free fingerprint fold otherwise
        # runs entirely on the unsplittable one-task scan (sweep log: ~1 s
        # serial in q28/q189)
        fp = persist_tracked(
            simhash60(spread(docs), id_col=id_col, text_col=text_col)
        )
    mask = (1 << width) - 1
    bands = fp.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        ":",
                        F.lit(str(b)),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .cast("string"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    )
    cand = _bucket_pairs(bands, "band", max_bucket=max_bucket).distinct()
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"))
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("bigint")
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


#: q32/q254's shared thresholds — the store-backed q254 reuses q32's
#: oracle, so BOTH must read one definition (review r9: hardcoded copies
#: would silently diverge if the defaults are ever retuned).
JACCARD_MIN_PCT = 50
JACCARD_MAX_DF = 50

#: Build parameters of the shared shingle pair-count table (the
#: ``shingle_pairs`` artifact): its cache key and the guard of every
#: ``pairs=`` consumer.
PAIR_COUNT_PARAMS = {"n": 3, "max_df": JACCARD_MAX_DF}


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard_pct: int = JACCARD_MIN_PCT,
    max_df: int = JACCARD_MAX_DF,
    sh: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via a shingle inverted index →
    ``(doc_a, doc_b, n_common, n_a, n_b)`` for J >= min_jaccard_pct/100.

    Candidates come from joining the exploded (shingle-hash → doc) index
    with itself on the 60-bit shingle hash — i.e. only pairs that SHARE a
    shingle are ever materialized, and the shuffle key is a fixed-width
    bigint, never the shingle text; J is then exact from integer counts
    (output stays integer so both engines hash identically;
    J = c/(n_a+n_b-c), computed over the kept shingle space).

    ``max_df`` drops stop-shingles (document frequency > max_df) before the
    self-join: a shingle shared by d documents generates O(d²) candidate
    rows while carrying ~zero near-dup signal — the df cap is what bounds
    the join quadratically at 100 TB (true near-dup pairs share mostly
    RARE shingles, so recall is unaffected). Jaccard is computed over the
    kept-shingle space in both engines.

    Pass a precomputed :func:`_shingle_pair_counts` frame as ``pairs``
    (same n/max_df) to skip the bucket + pair-count passes entirely —
    the whole set-overlap family (Jaccard / containment / histogram /
    venn) filters the SAME pair table, so one shared build serves all.
    """
    check_params("pairs", pairs, PAIR_COUNT_PARAMS, n=n, max_df=max_df, sh=sh)
    out = pairs if pairs is not None else _shingle_pair_counts(
        docs, id_col, text_col, n, max_df, sh=sh
    )
    return out.where(
        F.col("n_common") * 100
        >= F.lit(min_jaccard_pct) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    ).select("doc_a", "doc_b", "n_common", "n_a", "n_b")


def _shingle_pair_counts(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_df: int = 50,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Shared inverted-index pair machinery for the exact set-overlap
    family (Jaccard, containment): ``(doc_a, doc_b, n_common, n_a, n_b)``
    for every pair sharing >=1 kept shingle. Pass a cached
    :func:`doc_shingle_hashes` frame as ``sh`` to skip the md5 base pass."""
    if sh is None:
        sh = doc_shingle_hashes(docs, id_col=id_col, text_col=text_col, n=n)
    inv = sh.select("doc_id", F.explode("hs").alias("s"))
    # ONE shuffle builds the inverted index buckets; the df cap is a filter
    # on bucket size (no count+join-back pass). Persisted: pairs and
    # per-doc sizes both read it, and it is tiny (one row per distinct
    # shingle, doc lists bounded by max_df).
    buckets = (
        inv.groupBy("s")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds") <= max_df)
    )
    buckets = persist_tracked(buckets)
    sizes = (
        buckets.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_sh"))
    )
    pair_structs = F.explode(
        F.flatten(
            F.expr(
                "transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS doc_a, y AS doc_b)))"
            )
        )
    )
    common = (
        buckets.where(F.size("ds") >= 2)
        .select(pair_structs.alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return common.join(sa, "doc_a").join(sb, "doc_b")


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_containment_pct: int = 80,
    max_df: int = 50,
    sh: DataFrame | None = None,
    pairs: DataFrame | None = None,
) -> DataFrame:
    """ASYMMETRIC overlap: pairs where the smaller shingle set is mostly
    CONTAINED in the larger — C = |A∩B| / min(|A|,|B|) >= pct/100 →
    ``(doc_a, doc_b, n_common, n_a, n_b, containment_pct)``.

    Jaccard misses the quote/excerpt case a training pipeline cares about
    (a short doc fully copied inside a long one has tiny J but C = 1);
    containment is the standard screen for it. Same inverted-index plan
    and df cap as :func:`ngram_jaccard_pairs` — integer-exact, the pct is
    an integer floor-div so both engines hash identically. ``pairs``
    short-circuits the bucket + pair-count passes with a precomputed
    :func:`_shingle_pair_counts` frame (same n/max_df).
    """
    check_params("pairs", pairs, PAIR_COUNT_PARAMS, n=n, max_df=max_df, sh=sh)
    out = pairs if pairs is not None else _shingle_pair_counts(
        docs, id_col, text_col, n, max_df, sh=sh
    )
    mn = F.least(F.col("n_a"), F.col("n_b"))
    return (
        out.where(F.col("n_common") * 100 >= F.lit(min_containment_pct) * mn)
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr("(n_common * 100) div least(n_a, n_b)")
            .cast("bigint")
            .alias("containment_pct"),
        )
    )


def cross_corpus_near_dup(
    docs_a: DataFrame,
    docs_b: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    **minhash_kw,
) -> DataFrame:
    """Incremental-dedup form of MinHash near-dup: find documents of
    corpus B that near-duplicate documents of corpus A (dedup a new crawl
    against the base corpus) → ``(a_id, b_id, n_match)`` with ``a_id``
    always from A.

    Ids must be disjoint across the corpora (they are different tables of
    the same id space in a real pipeline). Shape: ONE banding pass over
    the union (same capped-bucket pipeline as
    :func:`minhash_near_dup_pairs` — candidates are never |A|×|B|), then
    the few verified pairs join a tiny (id, origin) map to drop
    within-corpus hits and orient the output.

    ``minhash_kw`` forwards to :func:`minhash_near_dup_pairs` — in
    particular a shared ``sh=`` shingle table or ``sigs=`` signature
    table, which MUST cover exactly the union's documents (extra docs
    would join band buckets and can tip them over ``max_bucket``,
    dropping pairs).
    """
    u = docs_a.select(F.col(id_col), F.col(text_col)).unionByName(
        docs_b.select(F.col(id_col), F.col(text_col))
    )
    pairs = minhash_near_dup_pairs(u, id_col=id_col, text_col=text_col, **minhash_kw)
    m = docs_a.select(F.col(id_col).alias("did"), F.lit(0).alias("og")).unionByName(
        docs_b.select(F.col(id_col).alias("did"), F.lit(1).alias("og"))
    )
    j = (
        pairs.join(
            m.select(F.col("did").alias("doc_a"), F.col("og").alias("og_a")), "doc_a"
        )
        .join(m.select(F.col("did").alias("doc_b"), F.col("og").alias("og_b")), "doc_b")
        .where(F.col("og_a") != F.col("og_b"))
    )
    return j.select(
        F.when(F.col("og_a") == 0, F.col("doc_a")).otherwise(F.col("doc_b")).alias("a_id"),
        F.when(F.col("og_a") == 0, F.col("doc_b")).otherwise(F.col("doc_a")).alias("b_id"),
        "n_match",
    )


#: Build parameters of the shared duplicated-window table (the
#: ``dup_windows`` artifact): its cache key and the guard of every ``dup=``
#: consumer.
DUP_WINDOW_PARAMS = {"window": 8}


def span_dup_stats(
    docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    dup: DataFrame | None = None,
) -> DataFrame:
    """Exact-substring (span) duplication profile: for each document, how
    many of its n-token sliding windows occur elsewhere in the corpus.

    The suffix-array span dedup of the dedup-training-data line of work,
    re-expressed for Spark: every length-``n`` token window is hashed
    (h60, so the oracle reproduces the buckets), windows are counted
    corpus-wide, and a window with total occurrence count ≥ 2 — in
    another document OR repeated within the same one — is "duplicated".
    Downstream, a high ``dup_ratio`` flags boilerplate / templated docs
    for removal, and the per-window counts are exactly the spans an
    excision pass would cut.

    Scale shape: one narrow projection per doc (split once, windows via
    one transform over an index sequence — the words array is
    materialized first so it is split once per row, not once per window),
    explode to (doc, window-hash) pairs — the shuffle key is a 60-bit
    int, never text — one count shuffle, one hash join back, one per-doc
    aggregation. No self-join, no cross-join; the window-hash join is
    AQE-sized (broadcasts when the duplicated set is small).

    Docs shorter than ``n`` tokens have no windows and are excluded (they
    cannot carry a duplicated span). → ``(doc_id, n_windows,
    n_dup_windows, dup_ratio)``, dup_ratio an exact-integer division.

    Pass a precomputed :func:`dup_window_positions` frame (same window
    ``n``) as ``dup`` to skip the md5 window pass + count shuffle
    entirely: n_dup_windows is that frame's per-doc row count (same
    occurrence-≥2 rule, position-for-position) and n_windows is the
    narrow ``size(split) − n + 1`` projection — the _sh()/_dupwin()
    shared-base-pass stance. The frame is built at
    ``DUP_WINDOW_PARAMS``: an ``n`` other than its window would yield a
    plausible-looking wrong dup_ratio (it can even exceed 1.0), so the
    guard refuses it loudly (ADVICE r13).
    """
    check_params("dup", dup, DUP_WINDOW_PARAMS, window=n)
    if dup is not None:
        base = (
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("_n"),
            )
            .where(F.col("_n") >= n)
            .select("doc_id", (F.col("_n") - F.lit(n) + 1).alias("n_windows"))
        )
        dcnt = dup.groupBy("doc_id").agg(
            F.count("*").cast("bigint").alias("n_dup_windows")
        )
        return (
            base.join(dcnt, "doc_id", "left")
            .select(
                "doc_id",
                "n_windows",
                F.coalesce(F.col("n_dup_windows"), F.lit(0))
                .cast("bigint")
                .alias("n_dup_windows"),
            )
            .withColumn(
                "dup_ratio",
                F.col("n_dup_windows").cast("double")
                / F.col("n_windows").cast("double"),
            )
        )
    with_words = spread(docs).withColumn("_words", F.split(F.col(text_col), " "))
    wins = F.expr(
        f"transform(sequence(0, size(_words) - {n}), "
        f"i -> conv(substring(md5(concat_ws(' ', slice(_words, i + 1, {n}))), 1, 15), 16, 10))"
    )
    exploded = (
        with_words.where(F.size("_words") >= n)
        .select(F.col(id_col).alias("doc_id"), F.explode(wins).alias("_wh_s"))
        .select("doc_id", F.col("_wh_s").cast("bigint").alias("wh"))
    )
    occ = exploded.groupBy("wh").agg(F.count("*").cast("bigint").alias("n_occ"))
    return (
        exploded.join(occ, "wh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("n_occ") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_windows"),
        )
        .withColumn(
            "dup_ratio",
            F.col("n_dup_windows").cast("double") / F.col("n_windows").cast("double"),
        )
    )


#: Bloom decontamination geometry: m bits, k derived hash positions.
BLOOM_M = 4096
BLOOM_K = 4

#: m = 2^12 → the double-hash stride comes from the bits above the 12
#: position bits.
_BLOOM_SHIFT = 12


def bloom_positions_from_h(h: int, m: int = BLOOM_M, k: int = BLOOM_K) -> list[int]:
    """The k filter positions of one n-gram from its SINGLE h60: classic
    Kirsch–Mitzenmacher double hashing (2006, public) — pos_i =
    (h1 + i·h2) mod m with h1 = h mod m and h2 = (h >> 12) | 1 (odd, so
    the stride is a unit mod the power-of-two m and the k probes are
    distinct). ONE md5 per gram instead of k — 4× less hashing in the
    probe's hot path, same false-positive behaviour."""
    h1, h2 = h % m, (h >> _BLOOM_SHIFT) | 1
    return [(h1 + i * h2) % m for i in range(k)]


def bloom_bit_positions(
    benchmark_texts: list[str], n: int = 3, m: int = BLOOM_M, k: int = BLOOM_K
) -> list[int]:
    """The SET bit positions of a Bloom filter over the benchmark corpus's
    word n-grams (k Kirsch–Mitzenmacher positions from one h60 per gram).
    Driver-side (benchmarks are MMLU-sized); deterministic, so the DuckDB
    oracle recomputes the identical filter."""
    import hashlib

    grams = {
        " ".join(ws[i : i + n])
        for t in benchmark_texts
        for ws in (t.split(" "),)
        for i in range(len(ws) - n + 1)
    }
    bits = {
        p
        for g in grams
        for p in bloom_positions_from_h(
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16), m=m, k=k
        )
    }
    return sorted(bits)


def bloom_contamination(
    docs: DataFrame,
    benchmark_texts: list[str],
    n: int = 3,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
    id_col: str = "doc_id",
) -> DataFrame:
    """Bloom-filter decontamination probe → ``(doc_id, n_grams,
    n_bloom_hits, n_exact_hits)`` for every document.

    The SCALE path next to :func:`benchmark_contamination`'s exact
    IN-list: a real benchmark suite's n-gram set is millions of strings —
    too big to ship as a literal array or broadcast raw — but its Bloom
    filter is m bits regardless of set size (the classic distributed-join
    pre-filter; Bloom 1970, public). Membership test per shingle: all k
    Kirsch–Mitzenmacher positions (derived from ONE h60 — the gram hashes
    are materialized in their own projection first, so the md5 runs once
    per gram, not once per probe) set. Exact hits ride along, so false
    positives (n_bloom_hits > n_exact_hits) are visible in the result
    instead of silently inflating the drop rate; n_bloom_hits >=
    n_exact_hits always (no false negatives) — pinned by test.

    Map-only: the bit array travels as a literal (one broadcast-sized
    constant), each doc is one narrow row — no shuffle, no explode.
    """
    from functools import reduce as _reduce
    from operator import and_ as _and

    bits = bloom_bit_positions(benchmark_texts, n=n, m=m, k=k)
    bits_arr = F.array(*[F.lit(b).cast("bigint") for b in bits])
    bench = sorted(
        {
            " ".join(ws[i : i + n])
            for t in benchmark_texts
            for ws in (t.split(" "),)
            for i in range(len(ws) - n + 1)
        }
    )
    bench_arr = F.array(*[F.lit(s) for s in bench])

    def _passes(h):
        h1 = F.pmod(h, F.lit(m))
        h2 = F.shiftright(h, _BLOOM_SHIFT).bitwiseOR(F.lit(1))
        return _reduce(
            _and,
            [
                F.array_contains(bits_arr, F.pmod(h1 + F.lit(i) * h2, F.lit(m)))
                for i in range(k)
            ],
        )

    sh = word_shingles(spread(docs), n=n).withColumn(
        "_ghs", F.transform(F.col("shingles"), lambda s: h60(s))
    )
    return sh.select(
        F.col(id_col).alias("doc_id"),
        F.size("shingles").cast("bigint").alias("n_grams"),
        F.size(F.filter("_ghs", _passes)).cast("bigint").alias("n_bloom_hits"),
        F.size(F.array_intersect("shingles", bench_arr))
        .cast("bigint")
        .alias("n_exact_hits"),
    )


def prefix_filtered_jaccard(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_jaccard_pct: int = 50,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Exact set-similarity join via PREFIX FILTERING (Chaudhuri et al.
    2006; PPJoin, Xiao et al. 2008 — the public lossless alternative to
    the df cap): index only each document's first ``⌊(1−t)·|d|⌋ + 1``
    shingles under a global (df asc, hash asc) rarity order. Any pair
    with J ≥ t MUST share a prefix shingle (|A∩B| ≥ t·|A∪B| ≥
    ⌈t·max(|A|,|B|)⌉, and sets overlapping that much collide within
    these prefixes), so recall is EXACTLY 1.0 — unlike ``max_df``
    (drops hot shingles) or LSH (probabilistic) — while the join touches
    only the rarest ~(1−t) fraction of each posting list.

    Shape: one df count over the inverted index, one per-doc rarity-rank
    window, the prefix-only self-join (candidates), then verification by
    joining candidates back to the two full shingle-hash arrays
    (array_intersect on bounded per-doc arrays). At 100 TB the prefix
    index is the only self-joined structure, and its hottest key is a
    shingle kept ONLY by docs whose rarity order put it in their prefix.

    → ``(doc_a, doc_b, n_common, n_a, n_b)`` for J ≥ t — identical rows
    to :func:`ngram_jaccard_pairs` with the df cap disabled.
    """
    from pyspark.sql import Window

    if sh is None:
        sh = persist_tracked(
            doc_shingle_hashes(docs, id_col=id_col, text_col=text_col, n=n)
        )
    sh = sh.withColumn("n_sh", F.size("hs").cast("bigint"))
    inv = sh.select("doc_id", "n_sh", F.explode("hs").alias("s"))
    # df via hash agg + BROADCAST join-back: the post-agg df table is one
    # row per distinct shingle (tiny next to the exploded index), so the
    # join costs no shuffle of inv — and a hash agg beats a count-over-
    # window, which would push all 260k+ index rows through a sort.
    df_ = inv.groupBy("s").agg(F.count("*").cast("bigint").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "s")
    plen = F.expr(f"((100 - {int(min_jaccard_pct)}) * n_sh) div 100") + 1
    pref = (
        inv.join(F.broadcast(df_), "s")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= plen)
        .select("s", "doc_id", "n_sh", "rn")
    )
    # Bucketed pair generation (ONE shuffle — a self-join would shuffle the
    # prefix index twice and re-run its window per side) with the LOSSLESS
    # length filter applied inline: J >= t implies min(|A|,|B|)/max >= t
    # (n_common <= min and union >= max), so size-incompatible pairs can
    # never verify — pruning them here changes nothing in the output but
    # skips the expensive array_intersect verification for them.
    pct = int(min_jaccard_pct)
    # r13: the bucket grouping is a user-sized exchange — the pair-gen
    # below is CPU-dense per shuffle BYTE, and AQE's min-partition-size
    # floor otherwise coalesced it to ~6 partitions (sweep log: 5.2 s of
    # run time on 6 tasks)
    n_part = pref.sparkSession.sparkContext.defaultParallelism
    buckets = pref.repartition(n_part, "s").groupBy("s").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "n_sh", "rn"))).alias("ds")
    )
    # NOTE (r14, measured): a mapInArrow/NumPy rewrite of this pair-gen
    # fold (VERDICT r13 #1) was built, pinned equal and REVERTED on
    # numbers: isolated over persisted buckets the interpreted fold runs
    # 0.19-0.24 s vs 0.36-0.41 s for the Arrow pass — at sf0.1 the
    # enumerated pair volume (19k buckets, 431k pairs, max k=10) is
    # below the Python-boundary floor (32 task dispatches + two Arrow
    # serializations cost more than 431k interpreted lambda evals).
    pair_structs = F.explode(
        F.flatten(
            F.expr(
                "transform(ds, (x, i) -> filter("
                "transform(slice(ds, i + 2, size(ds)), "
                "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
                "x.n_sh AS na, y.n_sh AS nb, x.rn AS pa, y.rn AS pb)), "
                f"p -> {pct} * greatest(p.na, p.nb) <= 100 * least(p.na, p.nb)))"
            )
        )
    )
    cand = (
        buckets.where(F.size("ds") >= 2)
        .select(pair_structs.alias("p"))
        .select("p.doc_a", "p.doc_b", "p.na", "p.nb", "p.pa", "p.pb")
    )
    # PPJoin positional filter (Xiao et al. 2008 §3.2) — one pair-keyed
    # agg that BOTH dedupes the candidate stream and computes a provably
    # safe overlap upper bound. Both shingle lists are sorted by the same
    # global (df, s) rarity order, so the max prefix ranks (pa_max,
    # pb_max) are achieved by the SAME shingle — the globally largest
    # common prefix shingle s*; every common shingle not already counted
    # in the prefix intersection is > s* in BOTH lists, hence
    #   n_common <= n_pref_common + min(na − pa_max, nb − pb_max).
    # Pairs whose bound falls below alpha = ceil(t·(na+nb)/(100+t))
    # (the minimum overlap J >= t requires) can NEVER verify — dropping
    # them changes nothing (r5 measured: 59% of candidates pruned,
    # q126 5.6s → 2.8s at sf0.1).
    agg = cand.groupBy("doc_a", "doc_b").agg(
        F.count("*").cast("bigint").alias("npc"),
        F.max("na").alias("na"),
        F.max("nb").alias("nb"),
        F.max("pa").alias("pa_max"),
        F.max("pb").alias("pb_max"),
    )
    alpha = F.expr(f"({pct} * (na + nb) + {100 + pct} - 1) div {100 + pct}")
    ubound = F.col("npc") + F.least(
        F.col("na") - F.col("pa_max"), F.col("nb") - F.col("pb_max")
    )
    kept = agg.where(ubound >= alpha).select("doc_a", "doc_b")
    ha = sh.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    hb = sh.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    ver = (
        kept.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint").alias("n_common"),
            F.size("hs_a").cast("bigint").alias("n_a"),
            F.size("hs_b").cast("bigint").alias("n_b"),
        )
    )
    return ver.where(
        F.col("n_common") * 100
        >= F.lit(int(min_jaccard_pct)) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    )


def keep_longest_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_chars",
    max_iters: int = 20,
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Survivor POLICY variant of :func:`dedup_survivors`: per near-dup
    cluster keep the LONGEST member (ties → smallest id) →
    ``(cluster_id, keep_id, keep_len, n_members)``. Min-id survival is
    arbitrary; keep-longest is the policy production pipelines usually
    want (the longest variant of a template family carries the most
    content). Clustered groups only — singletons have no policy to
    apply.

    One window argmax over the (small) clustered-node set joined to the
    corpus lengths; ids and lengths shuffle, bodies never. Pass a
    precomputed ``clusters`` labelling to skip the CC loop."""
    from pyspark.sql import Window

    if clusters is None:
        clusters = near_dup_clusters(pairs, max_iters=max_iters)
    lens = docs.select(F.col(id_col).alias("doc_id"), F.col(len_col).alias("_len"))
    j = clusters.join(lens, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("_len").desc(), "doc_id")
    wn = Window.partitionBy("cluster_id")
    return (
        j.withColumn("rn", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wn).cast("bigint"))
        .where(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").cast("bigint").alias("keep_id"),
            F.col("_len").cast("bigint").alias("keep_len"),
            "n_members",
        )
    )


def containment_drop_list(
    docs: DataFrame,
    min_containment_pct: int = 90,
    sh: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Excerpt-dedup DECISION: from the containment pairs
    (:func:`ngram_containment_pairs`), the documents to DROP — always
    the CONTAINED side (smaller shingle set; equal sizes → the larger
    id) → ``(dropped_id, n_containers)``. The screen that removes
    quotes/excerpts wholesale while their source documents survive.
    Deterministic policy expression, mirrored exactly by the oracle."""
    pairs = ngram_containment_pairs(
        docs, id_col=id_col, text_col=text_col,
        min_containment_pct=min_containment_pct, sh=sh, pairs=pairs,
    )
    dropped = F.when(
        (F.col("n_a") < F.col("n_b"))
        | ((F.col("n_a") == F.col("n_b")) & (F.col("doc_a") > F.col("doc_b"))),
        F.col("doc_a"),
    ).otherwise(F.col("doc_b"))
    return (
        pairs.select(dropped.alias("dropped_id"))
        .groupBy("dropped_id")
        .agg(F.count("*").cast("bigint").alias("n_containers"))
    )


def lsh_band_histogram(
    docs: DataFrame,
    sh: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    max_bucket: int | None = MAX_BUCKET,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """LSH health telemetry, oracle-checkable → ``(bucket_size,
    n_buckets, is_dropped)``: the distribution of MinHash band-bucket
    sizes, with the ``max_bucket`` cap's verdict per size class — the
    report that says whether the banding still discriminates (a fat tail
    of near-cap buckets means n_bands/rows_per_band need retuning BEFORE
    the pair join degenerates). Same signature pipeline as
    :func:`minhash_near_dup_pairs`; two tiny aggs after it. Pass a
    precomputed ``(doc_id, sig)`` table as ``sigs`` (the materialized
    signature artifact, built exactly as the ``sh`` path builds it) to
    skip the fold."""
    check_params(
        "sigs", sigs, MINHASH_SIG_PARAMS,
        n_perm=n_perm, n_bands=n_bands, rows_per_band=rows_per_band,
    )
    sigs = doc_signatures(docs, id_col, text_col, n_perm, sh=sh, sigs=sigs)
    bands = sigs.select(
        F.explode(lsh_band_keys("sig", n_bands, rows_per_band)).alias("band")
    )
    sizes = bands.groupBy("band").agg(F.count("*").cast("bigint").alias("sz"))
    cap = F.lit(max_bucket if max_bucket is not None else (1 << 62))
    return (
        sizes.groupBy(F.col("sz").alias("bucket_size"))
        .agg(F.count("*").cast("bigint").alias("n_buckets"))
        .select(
            "bucket_size",
            "n_buckets",
            (F.col("bucket_size") > cap).cast("bigint").alias("is_dropped"),
        )
    )


def medoid_survivors(
    docs: DataFrame,
    pairs: DataFrame,
    sh: DataFrame | None = None,
    clusters: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """Survivor POLICY #3 (after min-id and keep-longest): per near-dup
    cluster keep the MEDOID — the member with the highest total exact
    Jaccard similarity (integer ppm) to its fellow members, ties →
    smallest id → ``(cluster_id, keep_id, sim_sum_ppm, n_members)``.
    The most-central member is the best single representative of a
    template family (min-id is arbitrary, longest biases toward
    concatenations); this is the canonical exemplar-selection rule.

    Exactness: per ordered member pair, jppm = (10^6·|A∩B|) div |A∪B| —
    all-integer, so the per-member sum is order-free and engine-exact.
    Shape: the pairwise step is quadratic ONLY within a cluster, and
    cluster sizes are bounded by the upstream LSH band caps (the same
    bound every cluster consumer relies on); shingle-hash sets come from
    the shared ``sh`` base pass — one self-join on cluster_id over the
    clustered members (≪ corpus), one partitioned argmax window.
    """
    from pyspark.sql import Window

    if clusters is None:
        clusters = near_dup_clusters(pairs, max_iters=max_iters)
    if sh is None:
        sh = doc_shingle_hashes(docs, id_col=id_col)
    # LEFT join + empty-set default: a clustered member too short to have
    # shingles (< n words, or pairs from a non-shingle source) must still
    # count toward n_members and remain medoid-eligible (its similarities
    # are 0) — an inner join would silently drop it, and a cluster of all
    # short members would vanish with no survivor at all (review r8)
    mem = (
        clusters.join(sh, "doc_id", "left")
        .withColumn(
            "hs", F.coalesce("hs", F.expr("CAST(array() AS ARRAY<BIGINT>)"))
        )
        .select("cluster_id", "doc_id", "hs")
    )
    a = mem.select(
        "cluster_id", F.col("doc_id").alias("a_id"), F.col("hs").alias("a_hs")
    )
    b = mem.select(
        "cluster_id", F.col("doc_id").alias("b_id"), F.col("hs").alias("b_hs")
    )
    sim = (
        a.join(b, "cluster_id")
        .where(F.col("a_id") != F.col("b_id"))
        .withColumn("_i", F.size(F.array_intersect("a_hs", "b_hs")).cast("bigint"))
        .select(
            "cluster_id",
            "a_id",
            F.expr(
                "CASE WHEN CAST(size(a_hs) AS BIGINT) + CAST(size(b_hs) AS BIGINT)"
                " - _i > 0 THEN (1000000 * _i) div "
                "(CAST(size(a_hs) AS BIGINT) + CAST(size(b_hs) AS BIGINT) - _i) "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("jppm"),
        )
    )
    per = sim.groupBy("cluster_id", "a_id").agg(
        F.sum("jppm").cast("bigint").alias("sim_sum_ppm"),
        (F.count("*") + 1).cast("bigint").alias("n_members"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("sim_sum_ppm").desc(), F.col("a_id")
    )
    return (
        per.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(
            "cluster_id",
            F.col("a_id").cast("bigint").alias("keep_id"),
            "sim_sum_ppm",
            "n_members",
        )
    )


def dup_window_positions(
    docs: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positions of every DUPLICATED ``window``-token span: each window
    is keyed by the h60 of its space-joined tokens; a window occurring
    ≥2 times anywhere in the corpus (cross- or within-doc) is
    duplicated — the ExactSubstr signal of Lee et al., "Deduplicating
    Training Data Makes Language Models Better" (arXiv:2107.06499),
    re-expressed relationally (the suffix-array byte machinery becomes
    a window-hash groupBy; at W tokens the semantics match their
    length-threshold spans at window granularity).

    Scale shape: the window pass is a narrow in-row transform (one
    slice + one md5 per window, O(tokens) rows of fixed-width bigints);
    the df≥2 filter is ONE groupBy on the hash; no string ever shuffles.

    → ``(doc_id, n, p, h)``: 0-based start position ``p`` of each
    duplicated window in a doc of ``n`` tokens, plus the window's h60
    (kept so cross-doc/source overlap reports need no re-hash).
    """
    wins = all_window_positions(docs, window, text_col=text_col, id_col=id_col)
    dup_h = wins.groupBy("h").agg(F.count("*").alias("_c")).where(F.col("_c") >= 2)
    return wins.join(dup_h.select("h"), "h").select("doc_id", "n", "p", "h")


def all_window_positions(
    docs: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EVERY ``window``-token span position ``(doc_id, n, p, h)`` — the
    pre-df-filter stage of :func:`dup_window_positions`, exposed so the
    df=1 consumers (the q278 occurrence spectrum) share the same scan
    definition instead of re-implementing it (review r10; the sh=
    shared-base-pass stance from CLAUDE.md)."""
    from tagtree_spark.functions.hashing import h60
    from tagtree_spark.session import spread

    t = (
        spread(docs)
        .select(F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("ws"))
        .withColumn("n", F.size("ws").cast("bigint"))
        .where(F.col("n") >= window)
    )
    return t.select(
        "doc_id",
        "n",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), (F.col("n") - window).cast("int")),
                lambda p: h60(F.concat_ws(" ", F.slice("ws", p + 1, window))),
            )
        ).alias("p", "h"),
    ).select("doc_id", "n", F.col("p").cast("bigint").alias("p"), "h")


def exactsubstr_trim(
    docs: DataFrame,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    dup: DataFrame | None = None,
) -> DataFrame:
    """ExactSubstr span REMOVAL (Lee et al. semantics at window
    granularity): excise every token position covered by some duplicated
    ``window``-token span and emit the TRIMMED corpus — the removal step
    on top of the q260 coverage signal (VERDICT r9 #4). ALL occurrences
    of a duplicated span are removed (the paper's ExactSubstr policy —
    surviving text contains each long span at most 0 times; re-running
    the coverage scan on the output finds none of the original
    duplicated windows, though excision can create new token
    ADJACENCIES across seams, which is the paper's known artifact).

    Relational shape: only AFFECTED docs (those with >=1 duplicated
    window — bounded by dup density, not corpus size) are exploded to
    token positions, LEFT-ANTI-joined against the covered-position set
    (duplicated windows exploded to their ``window`` indices, deduped;
    both sides keyed (doc_id, idx)) and reassembled order-preservingly
    via array_sort over (idx, token) structs; every UNAFFECTED doc
    passes through as a narrow map-only projection of its original
    text — at 100 TB the reassembly shuffle is proportional to the
    duplicated subset, never the corpus. A fully-duplicated doc emits
    an empty string.

    → ``(doc_id, n_tokens_before, n_tokens_after, trimmed_text)``.
    """
    from tagtree_spark.session import persist_tracked, spread

    # dup= lets call sites share one duplicated-window pass (the
    # dup_windows artifact) instead of re-scanning
    check_params("dup", dup, DUP_WINDOW_PARAMS, window=window)
    if dup is None:
        dup = persist_tracked(
            dup_window_positions(docs, window, text_col, id_col)
        )
    cov = persist_tracked(
        dup.select(
            "doc_id",
            F.explode(F.sequence(F.col("p"), F.col("p") + window - 1)).alias("idx"),
        ).distinct()
    )
    affected = cov.select("doc_id").distinct()
    # r13: base feeds THREE branches (tok semi-join, untouched anti-join,
    # hit token counts) — persist, or the scan+split re-runs per branch
    # (sweep log: three identical 32-task stages)
    base = persist_tracked(
        spread(docs).select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("_text"),
            F.split(F.col(text_col), " ").alias("ws"),
        )
    )
    tok = (
        base.join(affected, "doc_id", "left_semi")
        .select("doc_id", F.posexplode("ws").alias("idx", "w"))
        .select("doc_id", F.col("idx").cast("bigint").alias("idx"), "w")
    )
    keep = tok.join(cov, ["doc_id", "idx"], "left_anti")
    trimmed = keep.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens_after"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("trimmed_text"),
    )
    untouched = base.join(affected, "doc_id", "left_anti").select(
        "doc_id",
        F.size("ws").cast("bigint").alias("n_tokens_before"),
        F.size("ws").cast("bigint").alias("n_tokens_after"),
        F.col("_text").alias("trimmed_text"),
    )
    hit = (
        base.join(affected, "doc_id", "left_semi")
        .select("doc_id", F.size("ws").cast("bigint").alias("n_tokens_before"))
        .join(trimmed, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens_before",
            F.coalesce("n_tokens_after", F.lit(0)).cast("bigint").alias(
                "n_tokens_after"
            ),
            F.coalesce("trimmed_text", F.lit("")).alias("trimmed_text"),
        )
    )
    return untouched.unionByName(hit)

"""Deduplication operators for the LLM-training-data pipeline.

Four families over a ``documents(doc_id, text, ...)`` table:

- **exact**: hash-groupBy on a normalized-text fingerprint (md5).
- **MinHash + LSH near-dup**: shingle → minhash signature → banded
  bucket keys → candidate pairs ONLY within buckets (never all-pairs)
  → exact n-gram Jaccard verification on the shingle-hash sets.
- **SimHash**: 32-bit signature per doc with identical-signature
  buckets; a 64-bit signature (two 32-bit halves) with 16-bit banding
  for the Hamming≤3 near-dup search.
- **n-gram Jaccard**: the verification stage, exposed standalone.

Scale design (100 TB): the per-doc stages (tokenize/shingle/hash/sign)
are narrow (no shuffle).  The LSH stage shuffles (band_id, band_key)
— md5-uniform keys, so no skew salting needed; ``BUCKET_CAP`` drops
degenerate buckets (boilerplate duplicates collapsing into one bucket
would otherwise go quadratic — at cap 64 a bucket contributes ≤ 2016
pairs).  The pair join is an equi-join on doc_id against the compact
signature table.  Every stage is expressible to Catalyst — filters and
projections push into the parquet scan.

Reference parity: the reference engine has only keyed dedup
(src/dumper/postgres.rs:53-66, etl_result.rs:205-248 — D1/D2/D4); the
near-dup family is the LLM-data extension required by BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize as _materialize
from ..functions.text import (
    BUCKET_CAP,
    LSH_BANDS,
    LSH_ROWS,
    MERSENNE31,
    N_PERMS,
    PERMS,
    SHINGLE_K,
    fingerprint,
    hash32,
    md5_long,
    tokens,
)


def with_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    return docs.withColumn("fingerprint", fingerprint(text_col))


def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-duplicate groups: one row per fingerprint having >1 doc.

    Output: fingerprint, n_dups, keep_doc_id (min), dup_doc_ids (sorted).
    """
    return (
        with_fingerprint(docs, text_col)
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
            F.sort_array(F.collect_list("doc_id")).alias("dup_doc_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def exploded_shingle_hashes(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, h) — one row per k-word shingle occurrence.

    Shingling is relational: posexplode the tokens, window-lead the next
    k-1 tokens per doc, hash the joined shingle — every step whole-stage
    codegen (the equivalent nested higher-order functions evaluate
    interpreted and were ~4× slower).  Docs with < SHINGLE_K tokens drop
    out naturally (no complete shingle)."""
    ex = docs.select(
        "doc_id", F.posexplode(tokens(text_col)).alias("_pos", "_t0")
    )
    w = Window.partitionBy("doc_id").orderBy("_pos")
    for i in range(1, SHINGLE_K):
        ex = ex.withColumn(f"_t{i}", F.lead("_t0", i).over(w))
    shingle = F.concat_ws(" ", *[f"_t{i}" for i in range(SHINGLE_K)])
    return ex.filter(
        F.col(f"_t{SHINGLE_K - 1}").isNotNull()
    ).select("doc_id", hash32(shingle).alias("h"))


def shingle_hashes(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id + distinct sorted shingle-hash set; docs with < SHINGLE_K
    tokens are excluded (no shingles → no near-dup signal)."""
    return (
        exploded_shingle_hashes(docs, text_col)
        .groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_set("h")).alias("shingle_set")
        )
    )


def minhash_signatures(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id, shingle_set, minhash signature (N_PERMS longs), band keys.

    The signature is computed by EXPLODING the shingle-hash sets and
    taking 16 ``min((a·h+b) mod p)`` aggregates in one codegen'd hash
    aggregate — ~10× faster than nested higher-order-function
    expressions, which Spark evaluates interpreted.  Map-side partial
    mins mean the shuffle carries one row per (doc, perm-min), not the
    exploded shingles.

    No persist: the two consumers of ``sh`` share one canonical subplan,
    so a single action dedups it via ReusedExchange — measured ~2.7×
    faster than persist(), which forces materialization and blocks AQE
    pipelining, and leaves nothing cached behind the caller's back."""
    sh = shingle_hashes(docs, text_col)
    return _signatures_from_sets(sh).join(sh, on="doc_id")


def _signatures_from_sets(sh: DataFrame) -> DataFrame:
    """shingle_hashes output → doc_id, signature, bands (no shingle_set)."""
    exploded = sh.select("doc_id", F.explode("shingle_set").alias("_h"))
    aggs = [
        F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MERSENNE31)).alias(
            f"_mh{i}"
        )
        for i, (a, b) in enumerate(PERMS)
    ]
    sigs = exploded.groupBy("doc_id").agg(*aggs)
    band_cols = [
        F.concat_ws(
            "-",
            *[
                F.col(f"_mh{b * LSH_ROWS + r}").cast("string")
                for r in range(LSH_ROWS)
            ],
        )
        for b in range(LSH_BANDS)
    ]
    return sigs.select(
        "doc_id",
        F.array(*[F.col(f"_mh{i}") for i in range(N_PERMS)]).alias(
            "signature"
        ),
        F.array(*band_cols).alias("bands"),
    )


def lsh_candidate_pairs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing ≥1 LSH band bucket.

    Buckets larger than BUCKET_CAP are dropped (skew guard — documented
    coverage trade-off, identical in the oracle)."""
    return _pairs_from_sigs(minhash_signatures(docs, text_col))


def _pairs_from_sigs(sigs: DataFrame) -> DataFrame:
    buckets = sigs.select(
        "doc_id",
        F.posexplode("bands").alias("band_id", "band_key"),
    )
    sized = buckets.withColumn(
        "_n",
        F.count(F.lit(1)).over(Window.partitionBy("band_id", "band_key")),
    ).filter(F.col("_n") <= BUCKET_CAP)
    a = sized.select("band_id", "band_key", F.col("doc_id").alias("doc_a"))
    b = sized.select("band_id", "band_key", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, on=["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def near_dup_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash/LSH candidates verified by exact n-gram Jaccard on the
    distinct shingle-hash sets.  Output: doc_a, doc_b, jaccard (double).

    The three consumers of the shingle sets (signatures, pair sides a/b)
    share one canonical subplan — ReusedExchange dedups it within the
    action, so no persist (see minhash_signatures).
    """
    sets_ = shingle_hashes(docs, text_col)
    pairs = _pairs_from_sigs(_signatures_from_sets(sets_))
    sa = sets_.select(
        F.col("doc_id").alias("doc_a"), F.col("shingle_set").alias("_set_a")
    )
    sb = sets_.select(
        F.col("doc_id").alias("doc_b"), F.col("shingle_set").alias("_set_b")
    )
    inter = F.size(F.array_intersect(F.col("_set_a"), F.col("_set_b")))
    union = F.size(F.col("_set_a")) + F.size(F.col("_set_b")) - inter
    return (
        pairs.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .withColumn(
            "jaccard",
            inter.cast("double") / union.cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_calibration(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """MinHash estimator calibration — the dedup tier's analog of the
    ANN recall harnesses (measure, don't guess): for every LSH
    candidate pair, compare the signature-based Jaccard ESTIMATE
    (matching components / N_PERMS — the unbiased MinHash estimator)
    against the TRUE shingle-set Jaccard, rolled up per true-Jaccard
    decile.  This is the figure that justifies the signature width: a
    16-perm signature estimates J with sd ≈ sqrt(J(1-J)/16) ≈ 0.12 at
    J=0.5, and this harness shows whether the deployed corpus actually
    sees that error — before anyone trusts a threshold on the estimate.

    Exactness: estimates are /16 rationals (exact doubles); per-bin
    means are DECIMAL(20,6) sums of 6-dp-rounded terms divided at the
    end — order-independent, so bit-identical to the oracle.  Scale:
    candidate pairs only (bucket-capped LSH, never all-pairs); one
    ≤10-row rollup.

    Output: bin (floor(true_j·10) capped at 9), n_pairs, avg_est,
    avg_true, avg_abs_err.
    """
    # the corpus shingle pass materializes ONCE, then signature+set
    # rows materialize from it ONCE, and all three downstream consumers
    # (pair generation, scoring sides a and b) read checkpointed rows.
    # Materializing only the signatures left ``sets_`` unmaterialized
    # inside the sa/sb join branches, so the scoring action re-ran the
    # corpus shingle pass per side (4 parquet-scan instances in its
    # plan); now the raw corpus is scanned exactly once per calibration.
    sets_ = _materialize(shingle_hashes(docs, text_col))
    both = _materialize(
        _signatures_from_sets(sets_).join(sets_, on="doc_id")
    )
    pairs = _pairs_from_sigs(both)
    sa = both.select(
        F.col("doc_id").alias("doc_a"),
        F.col("signature").alias("_sig_a"),
        F.col("shingle_set").alias("_set_a"),
    )
    sb = both.select(
        F.col("doc_id").alias("doc_b"),
        F.col("signature").alias("_sig_b"),
        F.col("shingle_set").alias("_set_b"),
    )
    inter = F.size(F.array_intersect(F.col("_set_a"), F.col("_set_b")))
    union = (
        F.size(F.col("_set_a")) + F.size(F.col("_set_b")) - inter
    )
    matches = F.expr(
        "size(filter(zip_with(_sig_a, _sig_b, (x, y) -> x = y), b -> b))"
    )
    scored = (
        pairs.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .select(
            (matches.cast("double") / F.lit(float(N_PERMS))).alias("_est"),
            (inter.cast("double") / union.cast("double")).alias("_true"),
        )
    )

    def _dsum(col: Column) -> Column:
        return F.sum(F.round(col, 6).cast("decimal(20,6)")).cast("double")

    n = F.count(F.lit(1))
    return (
        scored.withColumn(
            "bin",
            F.least(F.lit(9), F.floor(F.col("_true") * 10)).cast("int"),
        )
        .groupBy("bin")
        .agg(
            n.alias("n_pairs"),
            F.round(_dsum(F.col("_est")) / n, 6).alias("avg_est"),
            F.round(_dsum(F.col("_true")) / n, 6).alias("avg_true"),
            F.round(
                _dsum(F.abs(F.col("_est") - F.col("_true"))) / n, 6
            ).alias("avg_abs_err"),
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Standalone n-gram-Jaccard similarity for LSH candidates (no
    threshold) — the 'verify' stage exposed as its own operator."""
    return near_dup_pairs(docs, text_col, threshold=0.0)


def edit_distance_pairs(
    docs: DataFrame, text_col: str = "text", prefix_len: int = 256
) -> DataFrame:
    """Character-level verify stage: exact Levenshtein distance between
    the ``prefix_len``-char prefixes of every LSH candidate pair, plus
    the normalized similarity ``1 - dist/max(len)``.

    Jaccard on shingle sets (``ngram_jaccard_pairs``) is order-blind
    and misses small in-place edits (a changed date, a swapped name);
    edit distance is the complementary signal near-dup triage wants.
    It is O(n·m) per pair, so it is only ever computed on the LSH
    candidate list (bucket-capped, never all-pairs) and on bounded
    prefixes — the standard scale discipline for quadratic verifiers.
    ``F.levenshtein`` runs JVM-side inside codegen; no Python.

    Unicode caveat (pinned in ``tests/test_dedup_graph.py``): Spark
    counts CODEPOINT edits, DuckDB counts BYTE edits — e.g.
    'café'→'cafe' is 1 in Spark, 2 in DuckDB.  The engine semantics
    (codepoints) are the correct ones; the DuckDB oracle is exact only
    for ASCII corpora (which the driver fixtures are).

    Output: doc_a, doc_b, edit_dist (long), edit_sim (double, round 6).
    """
    pa = F.substring(F.col("_ta"), 1, prefix_len)
    pb = F.substring(F.col("_tb"), 1, prefix_len)
    sa = docs.select(F.col("doc_id").alias("doc_a"), F.col(text_col).alias("_ta"))
    sb = docs.select(F.col("doc_id").alias("doc_b"), F.col(text_col).alias("_tb"))
    dist = F.levenshtein(pa, pb)
    denom = F.greatest(F.length(pa), F.length(pb))
    return (
        lsh_candidate_pairs(docs, text_col)
        .join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            dist.cast("long").alias("edit_dist"),
            # Two empty texts are identical (sim 1.0); the guard only
            # matters for callers feeding pre-built candidate pairs —
            # shingle-less docs never become LSH candidates here.
            F.when(
                denom > 0,
                F.round(
                    F.lit(1.0) - dist.cast("double") / denom.cast("double"), 6
                ),
            )
            .otherwise(F.lit(1.0))
            .alias("edit_sim"),
        )
    )


def simhash_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id + 32-bit simhash over the token-hash multiset (docs with no
    tokens drop out — explode emits nothing for them, matching the
    oracle's len(toks) >= 1 filter).

    Explode + 32 conditional-sum aggregates: one codegen'd hash
    aggregate with map-side partials, instead of interpreted per-row
    higher-order functions."""
    exploded = docs.select(
        "doc_id", F.explode(tokens(text_col)).alias("_t")
    ).select("doc_id", hash32(F.col("_t")).alias("_h"))
    bit_aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)
        ).alias(f"_b{b}")
        for b in range(32)
    ]
    agg = exploded.groupBy("doc_id").agg(*bit_aggs)
    val = F.lit(0).cast("long")
    for b in range(32):
        val = val + F.when(
            F.col(f"_b{b}") >= 0, F.lit(2**b).cast("long")
        ).otherwise(0)
    return agg.select("doc_id", val.alias("simhash"))


def simhash_buckets(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Identical-simhash buckets with >1 member (near-dup clusters at
    Hamming distance 0)."""
    return (
        simhash_docs(docs, text_col)
        .groupBy("simhash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list("doc_id")).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


#: Rounds the most recent ``connected_components`` call ran before its
#: fixed point — instrumentation for the pointer-jumping complexity pin
#: (``tests/test_plan_shapes.py``): a chain of diameter d must converge
#: in O(log d) rounds, not O(d).
LAST_CC_ROUNDS = 0


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 15,
) -> DataFrame:
    """Connected components over an undirected pair list via min-label
    propagation: every vertex converges to the smallest doc_id reachable
    from it.  Output: doc_id, component_id (only vertices that appear in
    ``pairs`` — singletons are trivially their own component).

    Scale shape: the edge list is symmetrized once, hash-partitioned by
    neighbor and persisted; each round is ONE equi-join against the
    current labels (both sides partitioned on the same key, so the
    persisted edge side does not re-shuffle), ONE min-aggregate, and
    ONE pointer-jumping self-join (label := label-of-label) that
    squares the propagation distance — convergence in O(log diameter)
    rounds, so ``max_iters`` = 15 covers diameters past 2^15 and
    adversarial boilerplate chains can't exhaust it.  Each round
    truncates lineage with ``localCheckpoint`` so plan size stays
    constant.  Convergence is detected by the label-sum (labels only
    ever decrease, so an unchanged sum ⇒ a fixed point) — one scalar
    per round to the driver, never the labels themselves — and the
    scalar rides the round's OWN materialization as an ``observe``
    metric (CollectMetrics fires under the eager checkpoint), so a
    round is exactly one distributed action, not
    materialize-then-rescan.
    """
    from pyspark.sql import Observation
    global LAST_CC_ROUNDS
    LAST_CC_ROUNDS = 0
    fwd = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    rev = pairs.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    edges = fwd.union(rev).distinct().repartition("v").persist()
    # label init folds the first propagation step: starting from
    # min(self, neighbors) instead of identity saves one full
    # join+aggregate+checkpoint round — the same state round 1 of
    # identity-init would reach before its pointer jump, at the cost of
    # one map-side-combined groupBy over the persisted edges
    labels = _materialize(
        edges.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select(
            F.col("u").alias("vid"),
            F.least(F.col("u"), F.col("_mn")).alias("label"),
        )
    )
    prev_sum = None
    try:
        for _ in range(max_iters):
            LAST_CC_ROUNDS += 1
            nbr = edges.join(
                labels, edges["v"] == labels["vid"]
            ).select(F.col("u").alias("vid"), "label")
            merged = (
                labels.union(nbr)
                .groupBy("vid")
                .agg(F.min("label").alias("label"))
            )
            # pointer jumping: every label is itself a vertex, so one
            # self-join hops to the label's label — doubling how far a
            # minimum travels per round
            chase = merged.select(
                F.col("vid").alias("_cv"), F.col("label").alias("_cl")
            )
            obs = Observation()
            labels = _materialize(
                merged.join(chase, merged["label"] == chase["_cv"], "left")
                .select(
                    "vid",
                    F.least(
                        F.coalesce(F.col("_cl"), F.col("label")),
                        F.col("label"),
                    ).alias("label"),
                )
                .observe(
                    obs,
                    F.sum(F.col("label").cast("decimal(38,0)")).alias("s"),
                )
            )
            cur = obs.get["s"]
            if cur == prev_sum:
                break
            prev_sum = cur
    finally:
        edges.unpersist()
    return labels.select(
        F.col("vid").alias("doc_id"), F.col("label").alias("component_id")
    )


def near_dup_components(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Transitive near-duplicate clusters: connected components over the
    verified MinHash/LSH pair graph — the stage that turns pairwise
    near-dup evidence into a drop list (keep the smallest doc_id per
    cluster, drop the rest).

    Output: doc_id, component_id, component_size, is_keep (int).
    """
    comp = connected_components(near_dup_pairs(docs, text_col, threshold))
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    return (
        comp.join(sizes, on="component_id")
        .select(
            "doc_id",
            "component_id",
            "component_size",
            (F.col("doc_id") == F.col("component_id"))
            .cast("int")
            .alias("is_keep"),
        )
    )


def contamination(
    docs: DataFrame,
    holdout: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing ≥1 k-word
    shingle with a holdout/evaluation set.

    Output (contaminated docs only): doc_id, n_shingles (distinct),
    n_contaminated, contamination_frac.

    Scale shape: the holdout shingle set is the small side (benchmark
    suites are MBs against a 100 TB corpus) — distinct-ed and BROADCAST,
    so the training side is never shuffled for the probe.  Shingle
    occurrences are deduped by an explicit (doc_id, h) groupBy BEFORE
    counting — map-side partials collapse repeats, and the final rollup
    is a plain count/conditional-sum.  (Two ``count_distinct`` in one
    agg would instead compile to an Expand that doubles every exploded
    row through the shuffle — measured and rejected.)
    """
    train_sh = exploded_shingle_hashes(docs, text_col).distinct()
    hold_sh = (
        exploded_shingle_hashes(holdout, text_col)
        .select("h").distinct()
        .withColumn("_hit", F.lit(1))
    )
    marked = train_sh.join(F.broadcast(hold_sh), on="h", how="left")
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("_hit") == 1, 1).otherwise(0)
            ).alias("n_contaminated"),
        )
        .filter(F.col("n_contaminated") > 0)
        .withColumn(
            "contamination_frac",
            F.col("n_contaminated").cast("double")
            / F.col("n_shingles").cast("double"),
        )
    )


#: Banded-SimHash parameters: a 64-bit signature in 4 bands of 16 bits.
#: Two signatures within Hamming distance 3 differ in ≤3 bits, which can
#: dirty at most 3 of the 4 bands — at least one band is identical, so
#: the band equi-join finds every such pair (no false negatives up to
#: distance SIMHASH_BANDS - 1).  16-bit bands give 65,536 keys per band:
#: on a uniform corpus the mean bucket crosses BUCKET_CAP only past
#: ~4M docs *per band key space* (vs ~16K for the old 8-bit bands) and
#: ``simhash_band_stats`` surfaces the loss when it happens.
SIMHASH64_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH64_BITS // SIMHASH_BANDS
SIMHASH_MAX_DIST = SIMHASH_BANDS - 1


def simhash64_docs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """doc_id + 64-bit simhash carried as two 32-bit halves
    (``sim_lo`` = bits 0-31, ``sim_hi`` = bits 32-63, each in
    [0, 2^32)).  Two halves because a single BIGINT signature with bit
    63 set would overflow the signed range in both Spark and DuckDB;
    all downstream math (band keys, XOR popcount) splits the same way.

    Token-hash bits come from md5 hex digits 1-8 (lo) and 9-16 (hi) —
    two independent 32-bit hashes from one md5 evaluation per token.
    Same shape as ``simhash_docs`` (one codegen'd hash aggregate with
    map-side partials; docs with no tokens drop out since explode emits
    nothing) but branch-free: instead of 64 ±1 conditional sums it
    aggregates the raw bit sums ``s_b = Σ (h >> b) & 1`` plus one token
    count ``n``, and sets signature bit b iff ``2*s_b >= n`` — exactly
    the "±1 majority is >= 0" rule, with no CASE per bit per row.
    """
    exploded = docs.select(
        "doc_id", F.explode(tokens(text_col)).alias("_t")
    ).select(
        "doc_id",
        md5_long(F.col("_t"), 1, 8).alias("_hlo"),
        md5_long(F.col("_t"), 9, 8).alias("_hhi"),
    )
    bit_aggs = [
        F.sum(
            F.shiftright(F.col(src), b).bitwiseAND(F.lit(1))
        ).alias(f"_{half}{b}")
        for half, src in (("lo", "_hlo"), ("hi", "_hhi"))
        for b in range(32)
    ]
    agg = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n_tok"), *bit_aggs
    )

    def _assemble(half: str) -> Column:
        val = F.lit(0).cast("long")
        for b in range(32):
            val = val + F.when(
                F.col(f"_{half}{b}") * 2 >= F.col("_n_tok"),
                F.lit(2**b).cast("long"),
            ).otherwise(0)
        return val

    return agg.select(
        "doc_id",
        _assemble("lo").alias("sim_lo"),
        _assemble("hi").alias("sim_hi"),
    )


def _simhash_band_key(b: int) -> Column:
    """16-bit band key ``b`` of a (sim_lo, sim_hi) signature: bands 0-1
    from the low half, 2-3 from the high half."""
    src = "sim_lo" if b < SIMHASH_BANDS // 2 else "sim_hi"
    shift = (b % (SIMHASH_BANDS // 2)) * SIMHASH_BAND_BITS
    return (
        F.shiftright(F.col(src), shift)
        .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1))
    )


def _simhash_bands(docs: DataFrame, text_col: str) -> DataFrame:
    """(doc_id, sim_lo, sim_hi, band_id, band_key) — one row per band,
    with the per-bucket size ``_n`` attached (pre-cap) via a
    band-keyed count window — the same sizing shape as the MinHash
    path.  (A groupBy + broadcast-join-back was measured as the
    alternative: the count table is bounded by the 4 × 2^16 key space
    so it broadcasts by construction, but the extra plan branch
    re-evaluates the signature aggregate, which costs more than the
    window's sort of the 4-rows-per-doc band table.)
    """
    return _simhash_bands_raw(docs, text_col, materialize=True).withColumn(
        "_n",
        F.count(F.lit(1)).over(Window.partitionBy("band_id", "band_key")),
    )


def _simhash_bands_raw(
    docs: DataFrame, text_col: str, materialize: bool = False
) -> DataFrame:
    """(doc_id, sim_lo, sim_hi, band_id, band_key) — one row per band,
    no bucket sizing attached.

    ``materialize=True`` localCheckpoints the signature table first —
    callers whose downstream plan references the bands on BOTH sides of
    a self-join (the near-dup pair join) would otherwise evaluate the
    64-sum signature aggregate once per side.  The checkpoint is cheap
    by construction: one row per doc, doc_id + two ints (the same
    small-table reasoning as ``connected_components``' per-round
    labels).  Single-consumer callers (band stats) skip it.
    """
    sigs = simhash64_docs(docs, text_col)
    if materialize:
        sigs = _materialize(sigs)
    return sigs.select(
        "doc_id",
        "sim_lo",
        "sim_hi",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        _simhash_band_key(b).alias("band_key"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("_b"),
    ).select(
        "doc_id",
        "sim_lo",
        "sim_hi",
        F.col("_b.band_id").alias("band_id"),
        F.col("_b.band_key").alias("band_key"),
    )


def simhash_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    max_dist: int = SIMHASH_MAX_DIST,
) -> DataFrame:
    """Near-duplicate pairs at SimHash Hamming distance ≤ ``max_dist``
    — the multi-table banding upgrade over ``simhash_buckets``'s
    distance-0 clusters.

    Output: doc_a, doc_b, hamming (int).

    Scale shape: the signature table is tiny (doc_id + two ints); each
    doc explodes into ``SIMHASH_BANDS`` (band_id, band_key) rows — the
    same banded equi-join as MinHash-LSH — and candidates are verified
    with one split-XOR popcount projection.  By the pigeonhole bound
    the bands are exhaustive for ``max_dist`` ≤ SIMHASH_BANDS - 1;
    larger distances need more bands (same table, wider explode).
    ``BUCKET_CAP`` still drops degenerate buckets (boilerplate corpora
    collapsing one key), but with 65,536 keys per band uniform traffic
    no longer saturates the cap at realistic corpus sizes — and
    ``simhash_band_stats`` reports exactly how many docs the cap
    dropped, so the coverage trade-off is observable, not silent.
    """
    bands = _simhash_bands(docs, text_col).filter(
        F.col("_n") <= BUCKET_CAP
    )
    a = bands.select(
        "band_id",
        "band_key",
        F.col("doc_id").alias("doc_a"),
        F.col("sim_lo").alias("_lo_a"),
        F.col("sim_hi").alias("_hi_a"),
    )
    b = bands.select(
        "band_id",
        "band_key",
        F.col("doc_id").alias("doc_b"),
        F.col("sim_lo").alias("_lo_b"),
        F.col("sim_hi").alias("_hi_b"),
    )
    hamming = (
        F.bit_count(F.col("_lo_a").bitwiseXOR(F.col("_lo_b")))
        + F.bit_count(F.col("_hi_a").bitwiseXOR(F.col("_hi_b")))
    ).cast("int")
    return (
        a.join(b, on=["band_id", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_dist)
    )


def simhash_band_stats(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Per-band coverage report for the banded SimHash search: how many
    buckets exist, how many exceed ``BUCKET_CAP`` (and are therefore
    dropped by ``simhash_near_dups``), and how many doc-slots that
    drop forfeits.  ``max_bucket`` shows how close the hottest key is
    to the cap.  This is the ADVICE-mandated visibility hook: capped
    coverage loss is a reported number, never a silent collapse.

    Output: band_id, n_buckets, n_dropped_buckets, n_docs_dropped,
    max_bucket.
    """
    per_bucket = (
        _simhash_bands_raw(docs, text_col)
        .groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        per_bucket.groupBy("band_id")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum(
                F.when(F.col("_n") > BUCKET_CAP, 1).otherwise(0)
            ).cast("long").alias("n_dropped_buckets"),
            F.sum(
                F.when(F.col("_n") > BUCKET_CAP, F.col("_n")).otherwise(0)
            ).cast("long").alias("n_docs_dropped"),
            F.max("_n").alias("max_bucket"),
        )
        .orderBy("band_id")
    )


def cross_source_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Which sources copy from each other: the near-dup pair graph
    rolled up to an (source_a, source_b) matrix — the corpus-curation
    view that decides which feeds to de-prioritize or dedup against
    each other (same-source pairs report internal duplication).

    Output: source_a <= source_b (unordered pair, canonically sorted),
    n_pairs, avg_jaccard (6 dp, decimal-summed so the mean is
    order-independent).

    Scale shape: the pair list is the already-bucketed LSH output
    (never all-pairs); attaching sources is two BROADCAST-able joins
    against the (doc_id, source) projection — at corpus scale that
    projection is big, but the pair list is the small side by
    construction, so the planner broadcasts IT; the rollup is one
    grouped aggregate on a key space bounded by |sources|^2.
    """
    pairs = near_dup_pairs(docs, text_col, threshold)
    src = docs.select("doc_id", "source")
    labelled = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"),
                F.col("source").alias("_sa"),
            ),
            on="doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"),
                F.col("source").alias("_sb"),
            ),
            on="doc_b",
        )
    )
    return (
        labelled.select(
            F.least("_sa", "_sb").alias("source_a"),
            F.greatest("_sa", "_sb").alias("source_b"),
            "jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(
                F.sum(F.col("jaccard").cast("decimal(38,12)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_jaccard"),
        )
    )


def dup_span_profile(
    docs: DataFrame, text_col: str = "text", n: int = 8
) -> DataFrame:
    """Cross-document duplicated-substring coverage — the scalable
    approximation of suffix-array substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): a word
    ``n``-gram that occurs in more than one document marks a duplicated
    span; a doc's ``dup_fraction`` is the share of its n-gram positions
    covered by such spans, the signal an exact-substring dedup pass
    cuts on.

    Output: doc_id, n_grams, n_dup_grams, dup_fraction (round 6).  Docs
    shorter than ``n`` tokens drop out.

    Scale shape: no suffix array, no sort over the corpus, no join of
    raw gram STRINGS.  Grams are hashed to 64 bits immediately
    (xxhash64 — JVM-side, never shuffled as text), then two stacked
    map-side-combined aggregates: per-(gram, doc) occurrence counts
    (the big shuffle, dedup-compressed), per-gram doc counts (small),
    and an equi-join of the two on the gram hash feeding the final
    per-doc rollup.  Collisions add ~n_grams²/2⁶⁴ false dup marks —
    immaterial as a dedup *signal*, and the exact pass that acts on it
    re-verifies bytes anyway."""
    toks = F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " ")),
        " ",
    )
    base = docs.select("doc_id", toks.alias("_w")).filter(
        F.size("_w") >= n
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("_w") - n + 1),
                lambda i: F.xxhash64(
                    F.array_join(F.slice(F.col("_w"), i, F.lit(n)), " ")
                ),
            )
        ).alias("_g64"),
    )
    per_gram_doc = grams.groupBy("_g64", "doc_id").agg(
        F.count(F.lit(1)).alias("_occ")
    )
    per_gram = per_gram_doc.groupBy("_g64").agg(
        F.count(F.lit(1)).alias("_n_docs")
    )
    joined = per_gram_doc.join(per_gram, "_g64")
    return (
        joined.groupBy("doc_id")
        .agg(
            F.sum("_occ").alias("n_grams"),
            F.sum(
                F.when(F.col("_n_docs") > 1, F.col("_occ")).otherwise(0)
            ).alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_dup_grams").cast("long").alias("n_dup_grams"),
            F.round(
                F.col("n_dup_grams").cast("double") / F.col("n_grams"), 6
            ).alias("dup_fraction"),
        )
    )


def bloom_decontaminate(
    docs: DataFrame,
    holdout: DataFrame,
    text_col: str = "text",
    m_bits: int = 1 << 17,
    k_hashes: int = 5,
) -> DataFrame:
    """``contamination`` semantics behind a Bloom-filter prefilter — the
    100 TB shape of benchmark decontamination.

    The exact path broadcasts the holdout's distinct shingle set to
    every task; that broadcast grows with the holdout.  Here the holdout
    is folded into an ``m_bits`` Bloom bitmap instead — built
    DISTRIBUTED, as a bit_or aggregate over (word, mask) rows with
    map-side partials, then collected as ≤ m/64 longs (a
    codebook-sized, holdout-size-INDEPENDENT collect) and inlined as an
    array literal.  Corpus shingles probe ``k_hashes`` bits JVM-side
    (Kirsch–Mitzenmacher double hashing: pos_i = h1 + i·h2 mod m); only
    the surviving ~FPR fraction reaches the exact verify join, so the
    result is byte-identical to ``contamination`` (a Bloom filter has
    no false negatives) while the holdout never rides the broadcast
    path.  Same output: doc_id, n_shingles, n_contaminated,
    contamination_frac for contaminated docs only.
    """
    if m_bits % 64:  # pragma: no cover
        raise ValueError("m_bits must be a multiple of 64")
    train_sh = exploded_shingle_hashes(docs, text_col).distinct()
    hold_sh = exploded_shingle_hashes(holdout, text_col).select("h").distinct()

    h1 = F.pmod(F.xxhash64(F.col("h")), F.lit(m_bits))
    h2 = F.pmod(F.xxhash64(F.col("h"), F.lit(1)), F.lit(m_bits))

    def _pos(i: int) -> Column:
        return F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits))

    _mask = "shiftleft(CAST(1 AS BIGINT), CAST({p} % 64 AS INT))"
    bits = hold_sh.select(
        F.explode(
            F.array(*[_pos(i) for i in range(k_hashes)])
        ).alias("_pos")
    ).select(
        (F.col("_pos") / 64).cast("long").alias("_word"),
        F.expr(_mask.format(p="_pos")).alias("_m"),
    )
    words = [0] * (m_bits // 64)
    for row in bits.groupBy("_word").agg(
        F.bit_or("_m").alias("_bits")
    ).collect():
        words[row["_word"]] = row["_bits"]
    # the bitmap reaches the probe as a BROADCAST one-row table, not a
    # plan literal: an inlined 2k-element array would be re-emitted by
    # codegen at every probe term and dominates compile time
    bitmap = train_sh.sparkSession.createDataFrame(
        [(words,)], "_bloom array<bigint>"
    )

    probed = train_sh.join(F.broadcast(bitmap))
    cond = F.lit(True)
    for i in range(k_hashes):
        probed = probed.withColumn(f"_bp{i}", _pos(i))
        word = F.element_at(
            F.col("_bloom"), (F.col(f"_bp{i}") / 64).cast("int") + 1
        )
        cond = cond & (
            word.bitwiseAND(F.expr(_mask.format(p=f"_bp{i}"))) != 0
        )

    per_doc = train_sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    hits = (
        probed.filter(cond)  # Bloom prefilter: definite-miss drops here
        .select("doc_id", "h")
        .join(F.broadcast(hold_sh), on="h", how="left_semi")  # exact verify
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    return (
        per_doc.join(hits, "doc_id")
        .filter(F.col("n_contaminated") > 0)
        .withColumn(
            "contamination_frac",
            F.col("n_contaminated").cast("double")
            / F.col("n_shingles").cast("double"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental-ingestion diff of two corpus snapshots: classify every
    key as ``added`` (new only), ``removed`` (old only), ``changed``
    (both, content fingerprint differs) or ``unchanged`` — the decision
    table an incremental dedup/refresh pipeline acts on (recompute
    features for added+changed, tombstone removed, skip unchanged).

    Output: key, status, old_fp, new_fp (md5 fingerprints, null on the
    missing side).

    Scale shape: fingerprints are computed in the narrow projection
    (content never shuffles — 32-hex fp instead of the document), then
    ONE full-outer hash equi-join on the key; both sides shuffle once,
    statuses derive from null-ness JVM-side.  At 100 TB both snapshot
    scans are pruned to (key, fp) columns and the join is the only
    exchange."""
    o = with_fingerprint(old, text_col).select(
        F.col(key), F.col("fingerprint").alias("old_fp")
    )
    n = with_fingerprint(new, text_col).select(
        F.col(key), F.col("fingerprint").alias("new_fp")
    )
    joined = o.join(n, on=key, how="full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select(key, status.alias("status"), "old_fp", "new_fp")


def corpus_signature_index(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The persisted half of ingest-time incremental dedup: one row per
    (doc_id, band_id, band_key) with the doc's full minhash signature —
    the LSH index a production corpus builder maintains NEXT TO the
    corpus so each arriving batch is checked against it, instead of
    re-running full-corpus dedup per ingest (O(batch × corpus-bands),
    never O(corpus²) per trigger).  Persist with
    ``sinks.append_files``/``update_stats_index`` so index growth rides
    the same exactly-once snapshot commits as the data."""
    sigs = _signatures_from_sets(shingle_hashes(docs, text_col))
    return sigs.select(
        "doc_id",
        "signature",
        F.posexplode("bands").alias("band_id", "band_key"),
    )


def ingest_dedup_labels(
    batch: DataFrame,
    index: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Label an incoming BATCH against the persisted corpus signature
    index (``corpus_signature_index`` rows): a batch doc sharing ≥1 LSH
    band bucket with an indexed doc whose signature-estimated Jaccard
    (matching minhash components / N_PERMS — the estimator calibrated
    by ``minhash_calibration``) reaches ``threshold`` is marked a
    near-dup of the best-matching indexed doc; everything else is kept.
    This is ingest-time dedup: per trigger the work is the batch's band
    keys equi-joined against the index — the candidate set, never
    all-pairs, never a corpus rescan.

    Two mutually-near-dup docs arriving in ONE batch are also resolved
    (intra-batch leg): every batch doc additionally sees LOWER-doc_id
    batch docs sharing a band bucket as candidate matches — the
    deterministic sequential-arrival order — so a batch can never land
    two copies the index would have caught had they arrived one
    trigger apart.

    Buckets larger than ``BUCKET_CAP`` are dropped on each side (the
    tier's standard skew guard, identical in the oracle): index-side
    sized over the WHOLE index bucket, batch-side over the batch's own
    rows.  Docs too short to shingle carry no near-dup signal and are
    kept.  The best match is deterministic: highest estimate, ties to
    the lowest doc_id (across both legs).

    Scale shape (the serve path runs per micro-batch, so the plan must
    be batch-sized, not index-sized): the index is left-semi-joined to
    the BATCH's distinct band keys FIRST — a broadcast of the tiny
    batch key set — so the bucket-sizing Window shuffles only the
    touched buckets' rows, never the whole persisted index; sizing
    stays exact because the semi-join keeps every index row of a
    touched bucket.  The candidate join then broadcasts the batch
    side, so index rows cross exactly one (touched-only) Exchange per
    trigger.  Pinned by tests/test_plan_shapes.py.

    Output: doc_id (every batch doc), keep (1/0), dup_of (indexed or
    lower batch doc_id, -1 when kept), est (0.0 when kept).
    """
    bs = _signatures_from_sets(shingle_hashes(batch, text_col))
    # materialized ONCE: the batch band table feeds four consumers
    # (key distinct, candidate join, both intra-batch legs) — without
    # this the batch's shingle+minhash pass recomputes per consumer
    # (the r8 semantic_dedup lesson, batch-sized here but still 4x)
    nb = _materialize(
        bs.select(
            F.col("doc_id").alias("new_id"),
            F.col("signature").alias("_sn"),
            F.posexplode("bands").alias("band_id", "band_key"),
        )
    )
    # index leg: prune FIRST (broadcast semi-join on the batch's band
    # keys), THEN size only the touched buckets — counts stay exact
    batch_keys = nb.select("band_id", "band_key").distinct()
    touched = index.join(
        F.broadcast(batch_keys), on=["band_id", "band_key"], how="left_semi"
    )
    sized = touched.withColumn(
        "_n",
        F.count(F.lit(1)).over(Window.partitionBy("band_id", "band_key")),
    ).filter(F.col("_n") <= BUCKET_CAP)
    old = sized.select(
        "band_id",
        "band_key",
        F.col("doc_id").alias("old_id"),
        F.col("signature").alias("_so"),
    )
    est = (
        F.expr(
            "size(filter(zip_with(_sn, _so, (x, y) -> x = y), b -> b))"
        ).cast("double")
        / F.lit(float(N_PERMS))
    )
    idx_hits = (
        F.broadcast(nb)
        .join(old, on=["band_id", "band_key"])
        # self-pair guard (defense in depth — ingest_batch_dedup also
        # anti-joins the index on the batch's doc_ids, so a REPLAYED
        # batch never rejects its docs against their own index rows)
        .filter(F.col("new_id") != F.col("old_id"))
        .select("new_id", "old_id", "_sn", "_so")
    )
    # intra-batch leg: lower-id batch docs as candidate matches, with
    # the same per-bucket cap applied over the batch's own rows
    bcap = nb.withColumn(
        "_n",
        F.count(F.lit(1)).over(Window.partitionBy("band_id", "band_key")),
    ).filter(F.col("_n") <= BUCKET_CAP)
    # no broadcast hint here: nb is materialized, so AQE has exact
    # sizes and converts this to a broadcast join for real (small)
    # micro-batches at runtime; at bench scale the 12.5k-doc pseudo
    # batch self-joins cheaper as a shuffled join of band rows
    intra_hits = (
        bcap.select("band_id", "band_key", "new_id", "_sn")
        .join(
            bcap.select(
                "band_id",
                "band_key",
                F.col("new_id").alias("old_id"),
                F.col("_sn").alias("_so"),
            ),
            on=["band_id", "band_key"],
        )
        .filter(F.col("old_id") < F.col("new_id"))
        .select("new_id", "old_id", "_sn", "_so")
    )
    hits = (
        idx_hits.unionByName(intra_hits)
        .dropDuplicates(["new_id", "old_id"])
        .withColumn("est", F.round(est, 6))
        .filter(F.col("est") >= threshold)
    )
    w = Window.partitionBy("new_id").orderBy(
        F.col("est").desc(), F.col("old_id").asc()
    )
    best = (
        hits.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("new_id").alias("doc_id"),
            F.col("old_id").alias("_dup"),
            F.col("est").alias("_est"),
        )
    )
    return (
        batch.select("doc_id")
        .join(best, on="doc_id", how="left")
        .select(
            "doc_id",
            F.when(F.col("_dup").isNull(), 1).otherwise(0)
            .cast("int")
            .alias("keep"),
            F.coalesce(F.col("_dup"), F.lit(-1)).cast("long").alias("dup_of"),
            F.coalesce(F.col("_est"), F.lit(0.0)).alias("est"),
        )
    )


def ingest_batch_dedup(
    spark,
    batch: DataFrame,
    index_path: str,
    threshold: float = 0.5,
    text_col: str = "text",
    txn: tuple[str, int] | None = None,
) -> DataFrame:
    """The effectful composition: label ``batch`` against the PERSISTED
    index at ``index_path`` (a manifest-tracked table of
    ``corpus_signature_index`` rows), then append the ACCEPTED docs'
    index rows through the exactly-once snapshot commit
    (``sinks.append_files`` — a replayed ``txn`` batch id is a no-op,
    so a crash/retry can neither double-index nor double-accept).

    Replay label-stability: the index side EXCLUDES the batch's own
    doc_ids (broadcast anti-join) — a checkpoint-replayed batch whose
    docs already entered the index is labeled against the index as it
    stood BEFORE the batch, so every doc (including two mutual
    near-dups resolved by the intra-batch leg on the first run) gets
    the identical keep/dup_of on replay.  Tested with a mutual-near-dup
    batch in tests/test_dedup_graph.py.

    Returns the label DataFrame (already materialized — the decisions
    feed the append, so they must not be recomputed against the
    now-grown index)."""
    from ..session import materialize as _mat
    from ..sinks import append_files, read_table

    index = read_table(spark, index_path).select(
        "doc_id", "signature", "band_id", "band_key"
    ).join(
        F.broadcast(batch.select("doc_id")), on="doc_id", how="left_anti"
    )
    labels = _mat(ingest_dedup_labels(batch, index, threshold, text_col))
    accepted = batch.join(
        labels.filter(F.col("keep") == 1).select("doc_id"), on="doc_id"
    )
    rows = corpus_signature_index(accepted, text_col)
    append_files(spark, rows, index_path, txn=txn)
    return labels

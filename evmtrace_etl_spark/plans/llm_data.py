"""LLM-training-data pipeline queries over ``documents.parquet`` and
``embeddings.parquet``, with DuckDB oracle SQL generated from the SAME
shared constants (``functions.text``) as the Spark plans — minhash
permutations, LSH banding, hyperplanes, stopword sets are identical on
both sides, so every query is value-hash checkable.

Cross-engine determinism contract:
- integer hash = first 7 hex chars of md5 → int (bit-identical);
- all float math is double precision with identical sequential
  accumulation order (Spark ``aggregate`` ≡ DuckDB ``list_reduce``);
- double aggregates that cross a groupBy are decimal-cast first;
- arrays are sorted and comma-joined before output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    BPE_REGEX,
    BUCKET_CAP,
    EMB_BANDS,
    EMBED_DIM,
    HYPERPLANES,
    HYPERPLANES_WIDE,
    LANG_ORDER,
    LSH_BANDS,
    LSH_ROWS,
    MERSENNE31,
    N_PERMS,
    PERMS,
    SEM_CELL_CAP,
    SHINGLE_K,
    STOPWORDS,
)
from ..operators import dedup, multimodal, sampling, similarity, text_analysis
from ..session import par_legs


def _fan_out(df: DataFrame) -> DataFrame:
    """Spread a small-file scan across the cluster's cores.

    The file source splits by ``maxPartitionBytes``, so a corpus that
    arrives as a few small parquet files yields fewer scan partitions
    than cores — and a per-doc CPU-heavy operator downstream
    (winnowing, SimHash signatures, per-doc n-gram profiles) then runs
    effectively single-threaded.  One round-robin repartition of the
    (narrow) source columns unlocks full-width execution for a few
    milliseconds of shuffle on a small input.  At real scale the scan
    already yields >= one partition per core and this is a NO-OP — no
    Exchange is added.

    Opt-IN per query (``wide=True`` on the loaders): measured on the
    68-query bench, it pays off only where the dominant cost is narrow
    per-row compute directly over the scan; plans that consume the
    source through several branches (vocab + scoring, signatures +
    self-join) or feed an immediate aggregate get slower — the extra
    Exchange breaks reuse or just adds latency."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _docs(
    spark: SparkSession, sf_dir: str, wide: bool = False
) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return _fan_out(df) if wide else df


def _emb(spark: SparkSession, sf_dir: str, wide: bool = False) -> DataFrame:
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return _fan_out(df) if wide else df


def _join_longs(col: str) -> F.Column:
    return F.array_join(
        F.transform(F.col(col), lambda x: x.cast("string")), ","
    ).alias(col)


# ---------------------------------------------------------------------------
# Spark-side registered queries
# ---------------------------------------------------------------------------

def llm_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.exact_dup_groups(_docs(spark, sf_dir))
    return out.select(
        "fingerprint", "n_dups", "keep_doc_id", _join_longs("dup_doc_ids")
    )


def llm_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.near_dup_pairs(_docs(spark, sf_dir), threshold=0.5)


def llm_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time incremental dedup (see
    ``operators/dedup.py:ingest_dedup_labels``): the even-doc_id half
    of the corpus plays the PERSISTED signature index, the odd half the
    arriving batch; every batch doc is labeled keep/dup_of/est by
    banding against the index and thresholding the minhash Jaccard
    ESTIMATE (the estimator whose error `llm_minhash_calibration`
    measures), and intra-batch mutual near-dups resolve against the
    LOWER doc_id (sequential-arrival order).  Per trigger the index is
    semi-join-pruned to the batch's band keys BEFORE bucket sizing, so
    the serve plan never shuffles the whole persisted index — never a
    corpus rescan, never all-pairs — which is how a production corpus
    builder keeps a 100 TB corpus near-dup-free without re-running
    full dedup per ingest.  The effectful composition (accepted docs'
    index rows appended through the exactly-once snapshot commit,
    replay-stable via the batch-doc_id anti-join) is pinned by
    tests/test_dedup_graph.py.  The oracle recomputes the split, both
    bucket caps, both candidate legs, the estimates, and the
    deterministic best-match rule relationally."""
    docs = _docs(spark, sf_dir)
    index = dedup.corpus_signature_index(
        docs.filter(F.col("doc_id") % 2 == 0)
    )
    return dedup.ingest_dedup_labels(
        docs.filter(F.col("doc_id") % 2 == 1), index, threshold=0.5
    )


def llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verify stage standalone: exact n-gram Jaccard for every LSH
    candidate pair, no threshold."""
    return dedup.ngram_jaccard_pairs(_docs(spark, sf_dir))


def llm_edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verify stage: exact Levenshtein over 256-char
    prefixes of the LSH candidate pairs — the order-sensitive
    complement of the Jaccard verify (see
    ``operators/dedup.py:edit_distance_pairs``)."""
    return dedup.edit_distance_pairs(_docs(spark, sf_dir))


def llm_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.simhash_buckets(_docs(spark, sf_dir))
    return out.select("simhash", "n_docs", _join_longs("doc_ids"))


def llm_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    prof = text_analysis.doc_profile(_docs(spark, sf_dir))
    return prof.select(
        "doc_id",
        F.col("n_chars_actual").cast("long").alias("n_chars_actual"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("alpha_chars").cast("long").alias("alpha_chars"),
        F.col("punct_chars").cast("long").alias("punct_chars"),
        F.col("stopword_hits_en").cast("long").alias("stopword_hits_en"),
        "stopword_ratio",
        "punct_ratio",
        "avg_token_len",
        "pred_lang",
        "fingerprint",
        "quality_bucket",
    )


def llm_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.corpus_stats(_docs(spark, sf_dir))


def llm_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.winnow_fingerprints(_docs(spark, sf_dir, wide=True))


def llm_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_analysis.lang_confusion(_docs(spark, sf_dir))


def llm_media_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.media_rollup(_docs(spark, sf_dir))


def llm_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(_emb(spark, sf_dir))


def llm_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_topk(_emb(spark, sf_dir))


def llm_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_near_dup_pairs(_emb(spark, sf_dir), 0.4)


def llm_banded_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-plane / 3-band LSH near-dups — the recall-preserving scale
    variant of llm_embedding_near_dups."""
    return similarity.banded_near_dup_pairs(_emb(spark, sf_dir), 0.4)


def llm_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(_emb(spark, sf_dir))


def llm_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.decode_media_parts(
        multimodal.as_media_table(_docs(spark, sf_dir))
    )


def llm_media_png_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-corpus PNG round-trip (stdlib zlib codec): deflate-encode
    one real PNG per doc, spec-decode it back (CRC, inflate, filter
    reconstruction), roll up the decoded sums the oracle recomputes in
    closed form."""
    return multimodal.png_media_rollup(_docs(spark, sf_dir))


def llm_media_mp4_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-corpus MP4 round-trip (stdlib ISO-BMFF demux): build one
    genuine MP4 container per doc, box-walk it back (mvhd/mdhd timing,
    stts ticks, stsz-vs-mdat cross-check, sample slicing), roll up.
    The oracle recomputes every total — including the exact file byte
    size via the encoder's ``MP4_OVERHEAD`` — in closed form."""
    return multimodal.mp4_media_rollup(_docs(spark, sf_dir))


def llm_media_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize over the real-codec corpus: stdlib-decode every
    blob, box-downsample images (floor-mean over 2×2 blocks; audio
    clips to its first 32 samples).  Flat fixture pixels give the
    oracle closed forms; box-filter arithmetic on varied pixels is
    pinned by unit tests."""
    return multimodal.media_thumbnails(_docs(spark, sf_dir))


def llm_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling over the MP4 corpus: demux every container,
    slice 3 evenly spaced samples out of mdat, emit each actual
    slice's length and byte sum (1→N mapInPandas UDTF)."""
    return multimodal.media_frame_samples(_docs(spark, sf_dir))


def llm_media_codec_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stdlib-codec path (L12): synthesize genuine WAV/BMP/PPM
    blobs per document, struct-decode every one of them, and roll up
    the decoded features.  The oracle recomputes all totals in closed
    form from ``synth_media_params``, so any codec bug (header layout,
    BMP row padding, channel order, PCM16 widths, RIFF chunk walking)
    breaks the hash match."""
    return multimodal.real_media_rollup(_docs(spark, sf_dir))


#: Memoized exact brute-force top-k panels, keyed by (sf_dir, corpus
#: variant).  Every recall harness measures a DIFFERENT approximate
#: path against the SAME exact panel — nine registered queries were
#: each re-running an identical 50-query × full-corpus exact scan
#: (~1.5–2 s apiece per bench run).  The panel is harness fixture, not
#: the operator under measurement, so it is computed once per process
#: and materialized (the same sanctioned sharing as the sink-parity
#: replay batches); every query remains independently runnable.
_exact_panel_cache: dict = {}


def _exact_panel(
    spark: SparkSession, sf_dir: str, clustered: bool
) -> DataFrame:
    key = (sf_dir, clustered)
    if key not in _exact_panel_cache:
        from ..session import materialize

        emb = (
            _clustered_emb(spark, sf_dir)
            if clustered
            else _emb(spark, sf_dir)
        )
        _exact_panel_cache[key] = materialize(
            similarity.brute_force_topk(emb, n_queries=RECALL_QUERIES)
        )
    return _exact_panel_cache[key]


def llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the LSH ANN path vs exact brute force."""
    approx = similarity.lsh_topk(
        _emb(spark, sf_dir), n_queries=RECALL_QUERIES
    )
    return similarity._recall_rollup(
        _exact_panel(spark, sf_dir, clustered=False), approx
    )


def llm_train_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-shard manifest for training-data export."""
    return sampling.train_shards(_docs(spark, sf_dir))


def llm_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-stratified deterministic sample, audited per stratum."""
    return sampling.stratified_sample_stats(_docs(spark, sf_dir))


def llm_repetition_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/boilerplate metrics per document."""
    return text_analysis.repetition_profile(_docs(spark, sf_dir, wide=True))


#: Pseudo-benchmark split for the decontamination query: every 13th
#: doc_id plays the holdout set (same predicate in the oracle).
DECON_MOD = 13


def llm_shard_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured resharding cost of rendezvous (HRW) sharding scaling
    32 → 33 shards: moved fraction ≈ 1/33 vs ≈ 32/33 for mod-hash —
    the consistent-sharding property, measured not asserted."""
    return sampling.rendezvous_stability(_docs(spark, sf_dir))


def llm_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional deterministic sample (A-ES exponential
    sort): 100 docs drawn with P ∝ token count, no RNG state."""
    return sampling.weighted_sample(_docs(spark, sf_dir))


def llm_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (hashed unigram importance ratios,
    target = English): the top-200 most-target-like raw-pool docs with
    their avg log importance ratio — the selection step of a
    domain-targeted training-data pipeline."""
    return sampling.dsir_weights(_docs(spark, sf_dir))


def llm_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimate vs true Jaccard per decile — the dedup tier's
    measured answer to 'can a threshold on the 16-perm estimate be
    trusted on this corpus'."""
    return dedup.minhash_calibration(_docs(spark, sf_dir))


def llm_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters (connected components over the
    verified LSH pair graph) with keep/drop decision per doc."""
    return dedup.near_dup_components(_docs(spark, sf_dir))


def llm_component_exemplars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware exemplar selection per near-dup cluster — the
    corpus-builder refinement of the keep-lowest-id rule: compose the
    transitive near-dup components (L18) with the quality-classifier
    score (L33) and keep the HIGHEST-QUALITY doc of each cluster (ties
    to the lowest doc_id; ranks computed on the 6-dp-rounded score per
    the repo's ranks-after-rounding rule).  The per-cluster window runs
    over clustered docs only — a corpus-scale window never happens; at
    100 TB the added cost over the component build is one equi-join
    against the (doc, score) projection and a window bounded by
    cluster sizes.

    Output: doc_id, component_id, component_size, quality_score,
    keep (1 for the cluster's exemplar, else 0).
    """
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    comp = dedup.near_dup_components(docs).select(
        "doc_id", "component_id", "component_size"
    )
    q = text_analysis.quality_classifier_scores(docs).select(
        "doc_id", "quality_score"
    )
    w = Window.partitionBy("component_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return (
        comp.join(q, on="doc_id")
        .withColumn("_rn", F.row_number().over(w))
        .select(
            "doc_id",
            "component_id",
            "component_size",
            "quality_score",
            (F.col("_rn") == 1).cast("int").alias("keep"),
        )
    )


def llm_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs sharing ≥1 k-shingle with the pseudo-holdout."""
    docs = _docs(spark, sf_dir)
    hold = docs.filter(F.col("doc_id") % DECON_MOD == 0)
    train = docs.filter(F.col("doc_id") % DECON_MOD != 0)
    return dedup.contamination(train, hold)


def llm_pii_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc email/URL/IPv4 counts for scrub-or-drop decisions."""
    return text_analysis.pii_profile(_docs(spark, sf_dir))


def llm_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length distribution with exact percentiles."""
    return text_analysis.length_quantiles(_docs(spark, sf_dir))


#: Lloyd iterations for the registered IVF-training query (the oracle
#: SQL is unrolled to the same depth).  Measured choice (sf0.01, 50
#: queries, n_probe=2): recall@5 seed 0.524 / 1 iter 0.556 / 2 iters
#: 0.532 / 4 iters 0.520 — the synthetic corpus is uniform on the
#: sphere (no cluster structure), so extra Lloyd rounds over-smooth
#: centroids toward cap centers and recall decays past one round.
IVF_TRAIN_ITERS = 1

#: Queries in the recall harnesses.  10 queries = 50 hit slots, where a
#: ±4-hit run-to-run wobble reads as an 8-point recall swing (round 4
#: chased exactly that phantom); 50 queries resolve seed-vs-trained
#: differences above the noise floor at these corpus sizes.
RECALL_QUERIES = 50


def llm_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means refinement of the IVF codebook (Lloyd's)."""
    return similarity.ivf_train(_emb(spark, sf_dir), n_iters=IVF_TRAIN_ITERS)


def llm_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pair counts per unordered source pair — which feeds
    copy from each other."""
    return dedup.cross_source_near_dups(_docs(spark, sf_dir, wide=True))


def llm_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted (sqrt) training mixture over sources."""
    return sampling.source_mixture(_docs(spark, sf_dir))


def llm_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the codebook, then serve top-k from the fitted cells."""
    return similarity.ivf_trained_topk(
        _emb(spark, sf_dir), n_iters=IVF_TRAIN_ITERS
    )


#: Memoized persisted-index location per sf_dir: the index is BUILT
#: once per process (the build-once half of the cost model this query
#: demonstrates) and every call serves from it — the same sanctioned
#: shared-fixture pattern as the exact panels and the replay batches.
#: Each query invocation remains independently runnable.
_ivf_index_cache: dict = {}


def llm_ivf_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once/serve-many IVF: persist the trained codebook + the
    cell-partitioned corpus (write_ivf_index, once per process), then
    serve top-k reading ONLY the probed cells back (static partition
    pruning on the index scan).  Bit-equal to llm_ivf_trained_topk —
    the two share one oracle; what this row MEASURES is the
    persisted-index serve path (the build is amortized fixture, per
    the production cost model)."""
    from .sink_parity import _workdir

    emb = _emb(spark, sf_dir)
    if sf_dir not in _ivf_index_cache:
        path = _workdir("ivf_index")
        similarity.write_ivf_index(emb, path, n_iters=IVF_TRAIN_ITERS)
        _ivf_index_cache[sf_dir] = path
    return similarity.ivf_index_topk(spark, _ivf_index_cache[sf_dir], emb)


def llm_ivf_trained_recall(
    spark: SparkSession, sf_dir: str, _seed=None
) -> DataFrame:
    """Recall@k of the TRAINED IVF path vs exact brute force — closes
    the measure-don't-guess loop on the Lloyd's fit (compare against
    llm_ivf_recall's seed-codebook figure).  Round 4's apparent
    trained-recall drop (0.86 vs 0.94) was the 10-query harness's noise
    floor; at ``RECALL_QUERIES`` the trained codebook measures at or
    above the seed at equal n_probe (see ``IVF_TRAIN_ITERS``) — and
    catching a real fit regression before a production index re-fit is
    exactly what this harness is for."""
    approx = similarity.ivf_trained_topk(
        _emb(spark, sf_dir),
        n_queries=RECALL_QUERIES,
        n_iters=IVF_TRAIN_ITERS,
        seed=_seed,
    )
    return similarity._recall_rollup(
        _exact_panel(spark, sf_dir, clustered=False), approx
    )


def llm_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-pretraining manifest: fixed-token-budget packs per shard."""
    return sampling.pack_sequences(_docs(spark, sf_dir))


def llm_ivf_recall(
    spark: SparkSession, sf_dir: str, _seed=None
) -> DataFrame:
    """Recall@k of the seed-codebook IVF path vs exact brute force.

    ``_seed`` lets the recall LADDER pass the already-collected seed
    codebook so the seed and trained legs share one collect (the seed
    is identical by construction); standalone calls collect it
    themselves."""
    approx = similarity.ivf_topk(
        _emb(spark, sf_dir), n_queries=RECALL_QUERIES, cents=_seed
    )
    return similarity._recall_rollup(
        _exact_panel(spark, sf_dir, clustered=False), approx
    )


#: Cluster count for the structured recall corpus (see
#: ``similarity.clustered_corpus``).
CLUSTER_K = 8

#: DuckDB mirror of ``similarity.clustered_corpus`` — bit-identical
#: doubles (integer centroid pattern, power-of-two blend weights).  The
#: CTE shadows the ``embeddings`` view for the rest of the statement;
#: ``main.embeddings`` inside the body bypasses the shadowing.
_CLUSTERED_EMB_CTE = f"""embeddings AS (
  SELECT vec_id,
    list_transform(range(1, {EMBED_DIM + 1}), i ->
      0.5 * (CASE WHEN ((vec_id % {CLUSTER_K}) * 31 + (i - 1)) % 7 < 4
             THEN 1.0 ELSE -1.0 END)
      + 0.5 * CAST(embedding[i] AS DOUBLE)) AS embedding
  FROM main.embeddings)"""


def _with_clustered_corpus(sql: str) -> str:
    """Rewrite an embeddings-reading oracle to run over the clustered
    corpus: prepend the shadowing CTE to the statement's WITH list."""
    head, sep, tail = sql.lstrip().partition("WITH ")
    assert head == "" and sep, "oracle must start with a WITH clause"
    return f"WITH {_CLUSTERED_EMB_CTE},\n{tail}"


def _clustered_emb(
    spark: SparkSession, sf_dir: str, wide: bool = False
) -> DataFrame:
    return similarity.clustered_corpus(
        _emb(spark, sf_dir, wide=wide), n_clusters=CLUSTER_K
    )


def llm_ivf_recall_clustered(
    spark: SparkSession, sf_dir: str, _seed=None
) -> DataFrame:
    """Seed-IVF recall on the CLUSTERED corpus — the structured-data
    leg of the sizing harness (the uniform fixture has no clusters, so
    its recall figures sit at the index's noise floor; this one shows
    what the index does on data shaped like real embeddings)."""
    approx = similarity.ivf_topk(
        _clustered_emb(spark, sf_dir), n_queries=RECALL_QUERIES,
        cents=_seed,
    )
    return similarity._recall_rollup(
        _exact_panel(spark, sf_dir, clustered=True), approx
    )


def llm_ivf_trained_recall_clustered(
    spark: SparkSession, sf_dir: str, _seed=None
) -> DataFrame:
    """Trained-IVF recall on the clustered corpus — paired with
    ``llm_ivf_recall_clustered`` so a Lloyd's-fit regression shows up
    on data where training has structure to find."""
    approx = similarity.ivf_trained_topk(
        _clustered_emb(spark, sf_dir),
        n_queries=RECALL_QUERIES,
        n_iters=IVF_TRAIN_ITERS,
        seed=_seed,
    )
    return similarity._recall_rollup(
        _exact_panel(spark, sf_dir, clustered=True), approx
    )


def llm_pq_recall_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC recall on the clustered corpus — where the 3-bit/subspace
    code budget must beat its uniform-corpus noise floor."""
    approx = similarity.pq_topk(
        _clustered_emb(spark, sf_dir), n_queries=RECALL_QUERIES
    )
    return similarity._recall_rollup(
        _exact_panel(spark, sf_dir, clustered=True), approx
    )


#: Cosine threshold for the registered semantic-dedup query — chosen
#: on the clustered corpus so the keep/drop split is non-degenerate
#: (0.988 keeps 209/500 at sf0.01; lower collapses each cell to one
#: exemplar, higher keeps everything).
SEMANTIC_DEDUP_T = 0.988


def llm_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style per-cell semantic dedup over the clustered
    corpus: keep flag + chosen exemplar per vector.  ``wide=True``:
    the per-vector norm/assignment math dominates and runs over the
    scan, so the fan-out repartition unlocks full-width execution
    (measured 2.42 → 1.63 s at sf0.1; bit-identical output)."""
    return similarity.semantic_dedup(
        _clustered_emb(spark, sf_dir, wide=True), threshold=SEMANTIC_DEDUP_T
    )


#: Cell cap for the REGISTERED stats query — deliberately inside the
#: fixture's cell-size range (clustered sf0.01 cells run 17–46) so the
#: drop accounting is non-degenerate: 6 of 16 cells exceed it and the
#: oracle must agree on every dropped-cell count.  The operational
#: default stays ``SEM_CELL_CAP`` (a single-task pair-scoring bound,
#: far above any balanced cell).
SEM_STATS_CAP = 32


def llm_semantic_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coverage accounting for semantic_dedup's skew cap on the
    clustered corpus: cells over the cap are excluded from pair
    scoring, and this row says how many cells/vectors that forfeits.

    NOTE: this registered row runs at ``SEM_STATS_CAP=32`` — a
    deliberately tight TEST cap so the fixture exercises non-zero drop
    accounting — while the registered ``llm_semantic_dedup`` runs at
    the operational ``SEM_CELL_CAP=10000``, under which NO fixture
    cell is dropped.  The 6 'dropped' cells reported here are what the
    cap WOULD forfeit at 32, not what the paired dedup query actually
    excluded; read the two rows together only with that in mind."""
    return similarity.semantic_cell_stats(
        _clustered_emb(spark, sf_dir), cell_cap=SEM_STATS_CAP
    )


def llm_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-SimHash near-dup pairs at Hamming distance ≤ 3."""
    return dedup.simhash_near_dups(_docs(spark, sf_dir, wide=True))


def llm_simhash_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band bucket/drop coverage report for the banded SimHash
    search — surfaces what BUCKET_CAP forfeits instead of hiding it."""
    return dedup.simhash_band_stats(_docs(spark, sf_dir, wide=True))


def llm_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram log-probability (perplexity-filter proxy)."""
    return text_analysis.unigram_logprob_scores(_docs(spark, sf_dir))


def llm_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-k bigram report (boilerplate discovery)."""
    return text_analysis.top_ngrams(_docs(spark, sf_dir))


def llm_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token windows per doc (training chunks)."""
    return sampling.chunk_docs(_docs(spark, sf_dir))


def llm_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recurring chunk fingerprints (sub-document boilerplate dedup)."""
    return sampling.chunk_dup_groups(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Oracle SQL generation (same constants as the Spark plans)
# ---------------------------------------------------------------------------

def _sql_h32(expr: str) -> str:
    """md5-hex→int hash identical to functions.text.hash32."""
    return (
        "list_reduce(list_transform(string_split_regex("
        f"substr(md5({expr}),1,7), ''), "
        "c -> strpos('0123456789abcdef', c) - 1), (a,b) -> a*16 + b)"
    )


def _sql_md5_long(expr: str, start: int, length: int) -> str:
    """md5 hex digits [start, start+length) as BIGINT — identical to
    functions.text.md5_long (length <= 15 stays in signed range)."""
    return (
        "list_reduce(list_transform(string_split_regex("
        f"substr(md5({expr}),{start},{length}), ''), "
        "c -> strpos('0123456789abcdef', c) - 1), (a,b) -> a*16 + b)"
    )


_TOKS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
    "x -> x <> '')"
)
_FP = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(range(1, {EMBED_DIM + 1}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
        "(x, y) -> x + y)"
    )


def _sql_cos(a: str, b: str) -> str:
    return (
        f"round({_sql_dot(a, b)} / "
        f"(sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)})), 6)"
    )


def _sql_plane_dot(plane: list[float]) -> str:
    lit = "[" + ", ".join(repr(v) for v in plane) + "]"
    return (
        f"list_reduce(list_transform(range(1, {EMBED_DIM + 1}), "
        f"i -> CAST(embedding[i] AS DOUBLE) * ({lit})[i]), (x, y) -> x + y)"
    )


_BUCKET = " + ".join(
    f"(CASE WHEN {_sql_plane_dot(p)} >= 0 THEN {2 ** j} ELSE 0 END)"
    for j, p in enumerate(HYPERPLANES)
)


def _shingle_ctes() -> str:
    """CTE prefix doc_base → sh (distinct sorted shingle-hash sets)."""
    k = SHINGLE_K
    return f"""
doc_base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id, list_sort(list_distinct(list_transform(
    list_transform(range(1, len(toks)-{k}+2),
                   i -> array_to_string(toks[i:i+{k - 1}], ' ')),
    s -> {_sql_h32('s')}))) AS sset
  FROM doc_base WHERE len(toks) >= {k}
)"""


def _candidate_pair_ctes() -> str:
    """CTE chain ``doc_base`` → … → ``pairs`` (the bucket-capped LSH
    candidate list) — shared by the Jaccard and edit-distance verify
    oracles so both check the IDENTICAL candidate generation."""
    mh = ", ".join(
        f"list_min(list_transform(sset, x -> ({a}*x + {b}) % {MERSENNE31}))"
        for a, b in PERMS
    )
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_id, array_to_string(list_transform("
        f"signature[{b * LSH_ROWS + 1}:{b * LSH_ROWS + LSH_ROWS}], "
        "x -> CAST(x AS VARCHAR)), '-') AS band_key FROM sig"
        for b in range(LSH_BANDS)
    )
    return f"""{_shingle_ctes()},
sig AS (SELECT doc_id, sset, [{mh}] AS signature FROM sh),
bands AS ({bands}),
sized AS (SELECT doc_id, band_id, band_key,
                 count(*) OVER (PARTITION BY band_id, band_key) AS _n
          FROM bands),
capped AS (SELECT * FROM sized WHERE _n <= {BUCKET_CAP}),
pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM capped a JOIN capped b
            ON a.band_id = b.band_id AND a.band_key = b.band_key
          WHERE a.doc_id < b.doc_id)"""


def _ingest_dedup_sql(threshold: float) -> str:
    """Oracle for ``llm_ingest_dedup``: parity split, per-side bucket
    caps, index + intra-batch (lower-id) candidate legs,
    minhash-component estimates, deterministic best match."""
    mh = ", ".join(
        f"list_min(list_transform(sset, x -> ({a}*x + {b}) % {MERSENNE31}))"
        for a, b in PERMS
    )
    bands = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_id, array_to_string(list_transform("
        f"signature[{b * LSH_ROWS + 1}:{b * LSH_ROWS + LSH_ROWS}], "
        "x -> CAST(x AS VARCHAR)), '-') AS band_key FROM sig"
        for b in range(LSH_BANDS)
    )
    return f"""
WITH {_shingle_ctes()},
sig AS (SELECT doc_id, sset, [{mh}] AS signature FROM sh),
bands AS ({bands}),
idx AS (SELECT doc_id, band_id, band_key,
               count(*) OVER (PARTITION BY band_id, band_key) AS _n
        FROM bands WHERE doc_id % 2 = 0),
capped AS (SELECT * FROM idx WHERE _n <= {BUCKET_CAP}),
newb AS (SELECT * FROM bands WHERE doc_id % 2 = 1),
newcap AS (SELECT doc_id, band_id, band_key,
                  count(*) OVER (PARTITION BY band_id, band_key) AS _n
           FROM newb),
ncap AS (SELECT * FROM newcap WHERE _n <= {BUCKET_CAP}),
cand AS (SELECT DISTINCT new_id, old_id FROM (
         SELECT n.doc_id AS new_id, o.doc_id AS old_id
         FROM newb n JOIN capped o
           ON n.band_id = o.band_id AND n.band_key = o.band_key
         UNION ALL
         SELECT n.doc_id AS new_id, o.doc_id AS old_id
         FROM ncap n JOIN ncap o
           ON n.band_id = o.band_id AND n.band_key = o.band_key
          AND o.doc_id < n.doc_id)),
est AS (SELECT new_id, old_id,
  round(CAST(len(list_filter(range(1, {N_PERMS + 1}),
       i -> sn.signature[i] = so.signature[i])) AS DOUBLE)
        / {N_PERMS}, 6) AS est
  FROM cand JOIN sig sn ON sn.doc_id = cand.new_id
            JOIN sig so ON so.doc_id = cand.old_id),
best AS (SELECT new_id, old_id, est,
         row_number() OVER (PARTITION BY new_id
                            ORDER BY est DESC, old_id ASC) AS rn
         FROM est WHERE est >= {threshold})
SELECT d.doc_id,
  CAST(CASE WHEN b.old_id IS NULL THEN 1 ELSE 0 END AS INT) AS keep,
  CAST(coalesce(b.old_id, -1) AS BIGINT) AS dup_of,
  coalesce(b.est, 0.0) AS est
FROM documents d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = d.doc_id
WHERE d.doc_id % 2 = 1
"""


def _near_dup_sql(threshold: float) -> str:
    return f"""
WITH {_candidate_pair_ctes()},
jac AS (SELECT doc_a, doc_b,
  CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) /
  CAST(len(sa.sset) + len(sb.sset)
       - len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) AS jaccard
  FROM pairs
  JOIN sh sa ON sa.doc_id = pairs.doc_a
  JOIN sh sb ON sb.doc_id = pairs.doc_b)
SELECT doc_a, doc_b, jaccard FROM jac WHERE jaccard >= {threshold}
"""


_RDV_H = _sql_h32(
    "'rdv#' || CAST(doc_id AS VARCHAR) || '#' || CAST(s AS VARCHAR)"
)

SHARD_STABILITY_SQL = f"""
WITH h AS (
  SELECT doc_id,
    list_transform(range(0, 32), s -> {_RDV_H}) AS ha,
    list_transform(range(0, 33), s -> {_RDV_H}) AS hb
  FROM documents
),
a AS (
  SELECT doc_id,
    list_position(ha, list_max(ha)) - 1 AS sa,
    list_position(hb, list_max(hb)) - 1 AS sb
  FROM h
),
g AS (
  SELECT sa, count(*) AS n,
    sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS m
  FROM a GROUP BY sa
)
SELECT CAST(sum(n) AS BIGINT) AS n_docs,
  CAST(sum(m) AS BIGINT) AS n_moved,
  round(CAST(sum(m) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS moved_frac,
  CAST(max(n) AS BIGINT) AS max_shard_a
FROM g
"""


WEIGHTED_SAMPLE_SQL = f"""
WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
wt AS (SELECT doc_id, source, len(toks) AS n_toks,
         CAST({_sql_h32("'wsamp#' || CAST(doc_id AS VARCHAR)")} + 1
              AS DOUBLE) / 268435457.0 AS u
       FROM t WHERE len(toks) >= 1),
kd AS (SELECT doc_id, source, CAST(n_toks AS BIGINT) AS n_toks,
         round(-ln(u) / CAST(n_toks AS DOUBLE), 6) AS sample_key
       FROM wt),
r AS (SELECT *, row_number()
        OVER (ORDER BY sample_key ASC, doc_id ASC) AS rank
      FROM kd)
SELECT CAST(rank AS INT) AS rank, doc_id, source, n_toks, sample_key
FROM r WHERE rank <= 100
"""


# Mirrors sampling.dsir_weights: hashed unigram importance model with
# add-one smoothing; per-bucket log ratios decimal(38,12)-truncated to
# absorb ln's ulp wobble, per-doc sums decimal-exact, ranks taken on
# the 6-dp-rounded score with a doc_id tie-break.
DSIR_SELECTION_SQL = f"""
WITH tk AS (
  SELECT doc_id, lang, {_sql_h32('t')} % {sampling.DSIR_DIM} AS bucket
  FROM (SELECT doc_id, lang, unnest({_TOKS}) AS t FROM documents)
),
hist AS (SELECT doc_id, bucket, count(*) AS c FROM tk GROUP BY 1, 2),
rc AS (SELECT bucket, count(*) AS rc FROM tk GROUP BY 1),
tc AS (SELECT bucket, count(*) AS tc FROM tk WHERE lang = 'en' GROUP BY 1),
tot AS (SELECT count(*) AS s,
          sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS t
        FROM tk),
model AS (
  SELECT r.range AS bucket,
    CAST(CAST(ln(
      CAST((coalesce(tc.tc, 0) + 1) * (tot.s + {sampling.DSIR_DIM})
           AS DOUBLE)
      / CAST((coalesce(rc.rc, 0) + 1) * (tot.t + {sampling.DSIR_DIM})
             AS DOUBLE)
    ) AS DECIMAL(38,12)) AS DOUBLE) AS lr
  FROM range({sampling.DSIR_DIM}) r
  LEFT JOIN rc ON r.range = rc.bucket
  LEFT JOIN tc ON r.range = tc.bucket, tot
),
scored AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
    round(CAST(sum(CAST(CAST(c AS DOUBLE) * lr AS DECIMAL(38,12)))
               AS DOUBLE)
          / CAST(sum(c) AS BIGINT), 6) AS avg_logratio
  FROM hist JOIN model USING (bucket) GROUP BY doc_id
)
SELECT doc_id, n_tokens, avg_logratio FROM scored
ORDER BY avg_logratio DESC, doc_id ASC LIMIT {sampling.DSIR_K}
"""


MINHASH_CALIBRATION_SQL = f"""
WITH {_candidate_pair_ctes()},
m AS (
  SELECT pairs.doc_a, pairs.doc_b,
    len(list_filter(range(1, {N_PERMS} + 1),
        i -> sa.signature[i] = sb.signature[i])) AS matches,
    len(list_intersect(sa.sset, sb.sset)) AS inter,
    len(sa.sset) + len(sb.sset)
      - len(list_intersect(sa.sset, sb.sset)) AS uni
  FROM pairs
  JOIN sig sa ON sa.doc_id = pairs.doc_a
  JOIN sig sb ON sb.doc_id = pairs.doc_b
),
sc AS (
  SELECT CAST(matches AS DOUBLE) / {float(N_PERMS)!r} AS est,
         CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS truej
  FROM m
)
SELECT least(9, CAST(floor(truej * 10) AS INT)) AS bin,
  CAST(count(*) AS BIGINT) AS n_pairs,
  round(CAST(sum(CAST(round(est, 6) AS DECIMAL(20,6))) AS DOUBLE)
        / count(*), 6) AS avg_est,
  round(CAST(sum(CAST(round(truej, 6) AS DECIMAL(20,6))) AS DOUBLE)
        / count(*), 6) AS avg_true,
  round(CAST(sum(CAST(round(abs(est - truej), 6) AS DECIMAL(20,6)))
        AS DOUBLE) / count(*), 6) AS avg_abs_err
FROM sc GROUP BY least(9, CAST(floor(truej * 10) AS INT))
"""


EXACT_DUP_GROUPS_SQL = f"""
WITH f AS (SELECT doc_id, {_FP} AS fingerprint FROM documents)
SELECT fingerprint, count(*) AS n_dups, min(doc_id) AS keep_doc_id,
       array_to_string(list_sort(list(doc_id)), ',') AS dup_doc_ids
FROM f GROUP BY fingerprint HAVING count(*) > 1
"""

NEAR_DUP_PAIRS_SQL = _near_dup_sql(0.5)

EDIT_DISTANCE_PAIRS_SQL = f"""
WITH {_candidate_pair_ctes()},
ed AS (
  SELECT doc_a, doc_b,
         levenshtein(left(da.text, 256), left(db.text, 256)) AS edit_dist,
         greatest(len(left(da.text, 256)), len(left(db.text, 256))) AS mx
  FROM pairs
  JOIN documents da ON da.doc_id = pairs.doc_a
  JOIN documents db ON db.doc_id = pairs.doc_b
)
SELECT doc_a, doc_b, CAST(edit_dist AS BIGINT) AS edit_dist,
       round(1.0 - CAST(edit_dist AS DOUBLE) / CAST(mx AS DOUBLE), 6)
         AS edit_sim
FROM ed
"""

_SIMHASH_BITS_SQL = " + ".join(
    f"(CASE WHEN coalesce(list_sum(list_transform(th, "
    f"x -> CASE WHEN ((x >> {b}) & 1) = 1 THEN 1 ELSE -1 END)), 0) >= 0 "
    f"THEN {2 ** b} ELSE 0 END)"
    for b in range(32)
)

SIMHASH_BUCKETS_SQL = f"""
WITH doc_base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
th AS (SELECT doc_id, list_transform(toks, t -> {_sql_h32('t')}) AS th
       FROM doc_base WHERE len(toks) >= 1),
s AS (SELECT doc_id, CAST({_SIMHASH_BITS_SQL} AS BIGINT) AS simhash FROM th)
SELECT simhash, count(*) AS n_docs,
       array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
FROM s GROUP BY simhash HAVING count(*) > 1
"""


def _sql_stop_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return f"len(list_filter(toks, x -> x IN ({words})))"


def _sql_lang_case() -> str:
    branches = []
    for i, lang in enumerate(LANG_ORDER):
        conds = [f"{_sql_stop_hits(lang)} > 0"] + [
            f"{_sql_stop_hits(lang)} >= {_sql_stop_hits(o)}"
            for o in LANG_ORDER[i + 1:]
        ]
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


_PUNCT = "length(regexp_replace(text, '[^!-/:-@[-`{-~]', '', 'g'))"
_ALPHA = "length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))"
_BPE = (
    "len(regexp_extract_all(lower(text), "
    f"'{BPE_REGEX.replace(chr(39), chr(39) * 2)}'))"
)

_PROFILE_CTE = f"""
prof AS (
  SELECT doc_id, text, lang, source, {_TOKS} AS toks,
    CAST(length(text) AS BIGINT) AS n_chars_actual,
    CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
    CAST({_BPE} AS BIGINT) AS n_bpe_tokens,
    CAST({_ALPHA} AS BIGINT) AS alpha_chars,
    CAST({_PUNCT} AS BIGINT) AS punct_chars,
    {_FP} AS fingerprint
  FROM documents
),
prof2 AS (
  SELECT *,
    CAST({_sql_stop_hits('en')} AS BIGINT) AS stopword_hits_en,
    CASE WHEN n_tokens > 0
         THEN CAST({_sql_stop_hits('en')} AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         ELSE 0.0 END AS stopword_ratio,
    CASE WHEN n_chars_actual > 0
         THEN CAST(punct_chars AS DOUBLE) / CAST(n_chars_actual AS DOUBLE)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN n_tokens > 0
         THEN CAST(alpha_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         ELSE 0.0 END AS avg_token_len,
    {_sql_lang_case()} AS pred_lang
  FROM prof
),
prof3 AS (
  SELECT *,
    CASE WHEN n_tokens < 10 THEN 'too_short'
         WHEN punct_ratio > 0.2 THEN 'punct_heavy'
         WHEN stopword_ratio < 0.01 THEN 'low_signal'
         ELSE 'ok' END AS quality_bucket
  FROM prof2
)"""

TEXT_PROFILE_SQL = f"""
WITH {_PROFILE_CTE}
SELECT doc_id, n_chars_actual, n_tokens, n_bpe_tokens, alpha_chars,
       punct_chars, stopword_hits_en, stopword_ratio, punct_ratio,
       avg_token_len, pred_lang, fingerprint, quality_bucket
FROM prof3
"""

CORPUS_STATS_SQL = f"""
WITH {_PROFILE_CTE}
SELECT source, count(*) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
  CAST(sum(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
  count(DISTINCT fingerprint) AS n_unique_fingerprints,
  CAST(sum(CASE WHEN quality_bucket = 'ok' THEN 1 ELSE 0 END) AS BIGINT)
    AS n_quality_ok
FROM prof3 GROUP BY source
"""

LANG_CONFUSION_SQL = f"""
WITH {_PROFILE_CTE}
SELECT lang, pred_lang, count(*) AS n_docs
FROM prof3 GROUP BY lang, pred_lang
"""

_WINNOW_K = 5
_WINNOW_W = 4

WINNOW_FINGERPRINTS_SQL = f"""
WITH nd AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
  FROM documents
),
g AS (
  SELECT doc_id, i,
         {_sql_h32(f"substr(norm, CAST(i AS INT), {_WINNOW_K})")} AS h,
         length(norm) - {_WINNOW_K} + 1 AS n_grams
  FROM nd, LATERAL (
    SELECT unnest(range(1, greatest(length(norm) - {_WINNOW_K} + 2, 1))) AS i
  )
),
m AS (
  SELECT doc_id, i, n_grams,
    min(h) OVER (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS mn
  FROM g
)
SELECT doc_id,
  CAST(count(DISTINCT mn) AS BIGINT) AS n_fingerprints,
  array_to_string(list_sort(list(DISTINCT mn)), ',') AS fingerprints
FROM m WHERE i <= n_grams - {_WINNOW_W} + 1
GROUP BY doc_id
"""

_MEDIA_TYPES_SQL = "['image/png', 'audio/wav', 'video/mp4']"

MEDIA_ROLLUP_SQL = f"""
WITH m AS (
  SELECT doc_id,
    ({_MEDIA_TYPES_SQL})[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
    md5(text) AS content_md5
  FROM documents
),
f AS (SELECT *, (n_bytes % 997) / 997.0 AS fake_feature FROM m)
SELECT media_type, count(*) AS n_media,
  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
  count(DISTINCT content_md5) AS n_unique,
  CAST(CAST(sum(CAST(fake_feature AS DECIMAL(20,6))) AS DECIMAL(38,6))
       AS VARCHAR) AS feature_sum
FROM f GROUP BY media_type
"""

# Mirrors multimodal.synth_media_params — every total below is the
# closed form of what the stdlib codec must decode from real blob
# bytes: flat-per-channel image sums, telescoped base+(i%97) audio
# sums, and exact file sizes (BMP 54+h*stride4, WAV 44+2n, PPM
# 9+digits(w)+digits(h)+3wh).
MEDIA_CODEC_ROLLUP_SQL = """
WITH p AS (
  SELECT doc_id, doc_id % 3 AS k,
    4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
    64 + doc_id % 129 AS n,
    doc_id % 256 AS pr, (doc_id*7) % 256 AS pg, (doc_id*13) % 256 AS pb,
    doc_id % 97 AS base
  FROM documents
),
f AS (
  SELECT
    CASE k WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
           ELSE 'image/ppm' END AS media_type,
    CASE k WHEN 0 THEN 54 + h*((3*w + 3)//4*4)
           WHEN 1 THEN 44 + 2*n
           ELSE 9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
                + 3*w*h END AS n_bytes,
    CASE WHEN k = 1 THEN n ELSE w*h END AS n_units,
    CASE WHEN k = 1
         THEN n*base + (n//97)*4656 + (n%97)*((n%97)-1)//2
         ELSE w*h*(pr+pg+pb) END AS value_sum,
    CASE WHEN k <> 1 THEN w*h*pr END AS sum_r,
    CASE WHEN k <> 1 THEN w*h*pg END AS sum_g,
    CASE WHEN k <> 1 THEN w*h*pb END AS sum_b
  FROM p
)
SELECT media_type,
  CAST(count(*) AS BIGINT) AS n_media,
  CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
  CAST(sum(n_units) AS BIGINT) AS total_units,
  CAST(sum(value_sum) AS BIGINT) AS value_total,
  CAST(sum(sum_r) AS BIGINT) AS r_total,
  CAST(sum(sum_g) AS BIGINT) AS g_total,
  CAST(sum(sum_b) AS BIGINT) AS b_total
FROM f GROUP BY media_type
"""

MEDIA_PNG_ROLLUP_SQL = """
WITH p AS (
  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
    doc_id % 256 AS pr, (doc_id*7) % 256 AS pg, (doc_id*13) % 256 AS pb
  FROM documents
)
SELECT 'image/png' AS media_type,
  CAST(count(*) AS BIGINT) AS n_media,
  CAST(sum(w*h) AS BIGINT) AS total_units,
  CAST(sum(w*h*(pr+pg+pb)) AS BIGINT) AS value_total,
  CAST(sum(w*h*pr) AS BIGINT) AS r_total,
  CAST(sum(w*h*pg) AS BIGINT) AS g_total,
  CAST(sum(w*h*pb) AS BIGINT) AS b_total
FROM p
"""

# Mirrors media_thumbnails over synth_media_params: flat pixels make
# the floor-mean box filter exact-closed-form (every thumb pixel = the
# flat value); audio clips are the first CLIP of base+(i%97), which
# telescopes to CLIP*base + CLIP*(CLIP-1)/2 while CLIP <= 97 <= n
# (fixture n >= 64; transform constants interpolated from the
# operator module so the two sides cannot drift).
_THUMB_F = multimodal.THUMB_FACTOR
_CLIP = multimodal.AUDIO_CLIP_LEN
MEDIA_THUMBS_SQL = f"""
WITH p AS (
  SELECT doc_id, doc_id % 3 AS k,
    4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h,
    doc_id % 256 AS pr, (doc_id*7) % 256 AS pg, (doc_id*13) % 256 AS pb,
    doc_id % 97 AS base
  FROM documents
)
SELECT doc_id,
  CASE k WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'audio/wav'
         ELSE 'image/ppm' END AS media_type,
  CAST(CASE WHEN k = 1 THEN {_CLIP} ELSE w//{_THUMB_F} END AS BIGINT)
    AS out_w,
  CAST(CASE WHEN k = 1 THEN 1 ELSE h//{_THUMB_F} END AS BIGINT) AS out_h,
  CAST(CASE WHEN k = 1 THEN {_CLIP}
       ELSE (w//{_THUMB_F})*(h//{_THUMB_F}) END AS BIGINT) AS n_units,
  CAST(CASE WHEN k = 1 THEN {_CLIP}*base + {_CLIP * (_CLIP - 1) // 2}
       ELSE (w//{_THUMB_F})*(h//{_THUMB_F})*(pr+pg+pb) END AS BIGINT)
    AS value_sum
FROM p
"""

# Mirrors media_frame_samples over synth_mp4_params: sampled index
# j*n//FRAMES, size sbase + (idx % 13), constant-fill byte sums.
_NFRAMES = multimodal.FRAME_SAMPLES
MEDIA_FRAMES_SQL = f"""
WITH p AS (
  SELECT doc_id, 5 + doc_id % 11 AS n, 10 + doc_id % 29 AS sbase,
    doc_id % 251 AS fill
  FROM documents
)
SELECT doc_id, CAST(j.range AS BIGINT) AS frame_no,
  CAST(j.range*n//{_NFRAMES} AS BIGINT) AS sample_idx,
  CAST(sbase + (j.range*n//{_NFRAMES}) % 13 AS BIGINT) AS frame_bytes,
  CAST((sbase + (j.range*n//{_NFRAMES}) % 13) * fill AS BIGINT)
    AS frame_sum
FROM p CROSS JOIN range({_NFRAMES}) j
"""

# Mirrors multimodal.synth_mp4_params — telescoped sample-size sums,
# constant-fill mdat value sums, and the exact file size via the
# encoder-derived MP4_OVERHEAD constant (pins the on-disk box layout).
MEDIA_MP4_ROLLUP_SQL = f"""
WITH p AS (
  SELECT doc_id,
    600*(1 + doc_id % 7) AS duration,
    5 + doc_id % 11 AS n,
    10 + doc_id % 29 AS sbase,
    doc_id % 251 AS fill
  FROM documents
),
f AS (
  SELECT duration, n, 100*n AS ticks, fill,
    n*sbase + (n//13)*78 + (n%13)*((n%13)-1)//2 AS sample_bytes
  FROM p
)
SELECT 'video/mp4' AS media_type,
  CAST(count(*) AS BIGINT) AS n_media,
  CAST(sum({multimodal.MP4_OVERHEAD} + 4*n + sample_bytes) AS BIGINT)
    AS total_bytes,
  CAST(sum(n) AS BIGINT) AS total_samples,
  CAST(sum(sample_bytes) AS BIGINT) AS total_sample_bytes,
  CAST(sum(duration) AS BIGINT) AS total_duration,
  CAST(sum(ticks) AS BIGINT) AS ticks_total,
  CAST(sum(sample_bytes * fill) AS BIGINT) AS mdat_value_total
FROM f
"""

COSINE_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_sql_cos('q.qv', 'e.embedding')} AS sim
  FROM embeddings e, q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""

ANN_TOPK_SQL = f"""
WITH eb AS (SELECT vec_id, embedding, {_BUCKET} AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
      FROM eb WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         {_sql_cos('q.qv', 'e.embedding')} AS sim
  FROM eb e JOIN q ON e.bucket = q.bucket
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""

_IVF_CENTROIDS = 16
_IVF_PROBE = 2

IVF_TOPK_SQL = f"""
WITH c AS (SELECT vec_id AS cen_id, embedding AS cv
           FROM embeddings WHERE vec_id < {_IVF_CENTROIDS}),
s AS (SELECT e.vec_id, e.embedding, c.cen_id,
             {_sql_cos('e.embedding', 'c.cv')} AS cs
      FROM embeddings e CROSS JOIN c),
r AS (SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cs DESC, cen_id ASC) AS rk FROM s),
assigned AS (SELECT vec_id, embedding, cen_id AS cell FROM r WHERE rk = 1),
probes AS (SELECT vec_id AS query_id, embedding AS qv, cen_id AS cell
           FROM r WHERE vec_id < 10 AND rk <= {_IVF_PROBE}),
sc AS (SELECT p.query_id, a.vec_id AS neighbor_id,
              {_sql_cos('p.qv', 'a.embedding')} AS sim
       FROM assigned a JOIN probes p ON a.cell = p.cell
       WHERE a.vec_id <> p.query_id)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM sc
) WHERE rank <= 5
"""

MEDIA_DECODE_SQL = f"""
WITH m AS (
  SELECT doc_id,
    ({_MEDIA_TYPES_SQL})[CAST(doc_id % 3 + 1 AS INT)] AS media_type,
    text,
    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
)
SELECT doc_id, media_type, 'frame' AS part_kind,
       CAST(i AS BIGINT) AS part_idx,
       md5(text || '#' || CAST(i AS VARCHAR)) AS part_md5,
       n_bytes AS part_bytes
FROM m, LATERAL (SELECT unnest(range(0, 3)) AS i)
WHERE media_type = 'video/mp4'
UNION ALL
SELECT doc_id, media_type, 'thumb', 0, md5(text || '#thumb'), n_bytes
FROM m WHERE media_type = 'image/png'
UNION ALL
SELECT doc_id, media_type, 'clip', 0, md5(text || '#clip'), n_bytes
FROM m WHERE media_type = 'audio/wav'
"""

EMBEDDING_NEAR_DUPS_SQL = f"""
WITH eb AS (SELECT vec_id, embedding, {_BUCKET} AS bucket FROM embeddings),
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_sql_cos('a.embedding', 'b.embedding')} AS sim
  FROM eb a JOIN eb b ON a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, sim FROM p WHERE sim >= 0.4
"""

_BANDED_R = len(HYPERPLANES_WIDE) // EMB_BANDS


def _band_bucket_sql(band: int) -> str:
    sl = HYPERPLANES_WIDE[band * _BANDED_R : (band + 1) * _BANDED_R]
    return " + ".join(
        f"(CASE WHEN {_sql_plane_dot(p)} >= 0 THEN {2 ** j} ELSE 0 END)"
        for j, p in enumerate(sl)
    )


_BANDED_UNION = "\nUNION ALL\n".join(
    f"SELECT vec_id, embedding, {b} AS band_id, {_band_bucket_sql(b)} "
    "AS band_key FROM embeddings"
    for b in range(EMB_BANDS)
)

BANDED_NEAR_DUPS_SQL = f"""
WITH bands AS ({_BANDED_UNION}),
sized AS (SELECT *, count(*) OVER (PARTITION BY band_id, band_key) AS _n
          FROM bands),
capped AS (SELECT * FROM sized WHERE _n <= {BUCKET_CAP}),
p AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM capped a JOIN capped b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
      WHERE a.vec_id < b.vec_id),
s AS (SELECT vec_a, vec_b, {_sql_cos('ea.embedding', 'eb.embedding')} AS sim
      FROM p
      JOIN embeddings ea ON ea.vec_id = p.vec_a
      JOIN embeddings eb ON eb.vec_id = p.vec_b)
SELECT vec_a, vec_b, sim FROM s WHERE sim >= 0.4
"""


ANN_RECALL_SQL = f"""
WITH eb AS (SELECT vec_id, embedding, {_BUCKET} AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
      FROM eb WHERE vec_id < {RECALL_QUERIES}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_sql_cos('q.qv', 'e.embedding')} DESC, e.vec_id ASC) AS rank
    FROM embeddings e, q WHERE e.vec_id <> q.query_id
  ) WHERE rank <= 5
),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_sql_cos('q.qv', 'e.embedding')} DESC, e.vec_id ASC) AS rank
    FROM eb e JOIN q ON e.bucket = q.bucket
    WHERE e.vec_id <> q.query_id
  ) WHERE rank <= 5
)
SELECT exact.query_id, count(*) AS n_exact,
  CAST(sum(CASE WHEN approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS n_hit,
  round(CAST(sum(CASE WHEN approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM exact LEFT JOIN approx
  ON exact.query_id = approx.query_id
 AND exact.neighbor_id = approx.neighbor_id
GROUP BY exact.query_id
"""

_SHARD_HASH = _sql_h32("'shard#' || CAST(doc_id AS VARCHAR)")
_SAMPLE_HASH = _sql_h32("'sample#' || CAST(doc_id AS VARCHAR)")

TRAIN_SHARDS_SQL = f"""
WITH s AS (
  SELECT doc_id, source, {_TOKS} AS toks,
         {_SHARD_HASH} % {sampling.N_SHARDS} AS shard_id
  FROM documents
)
SELECT shard_id, count(*) AS n_docs,
  CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
  count(DISTINCT source) AS n_sources,
  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM s GROUP BY shard_id
"""

_SAMPLE_RATE_CASE = "CASE " + " ".join(
    f"WHEN quality_bucket = '{b}' THEN {pct}"
    for b, pct in sorted(sampling.SAMPLE_RATES.items())
) + " ELSE NULL END"

QUALITY_SAMPLE_SQL = f"""
WITH {_PROFILE_CTE},
k AS (
  SELECT *, ({_SAMPLE_HASH} % 100) < ({_SAMPLE_RATE_CASE}) AS _keep
  FROM prof3
)
SELECT quality_bucket, count(*) AS n_total,
  CAST(sum(CASE WHEN _keep THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
  CAST(sum(CASE WHEN _keep THEN n_tokens ELSE 0 END) AS BIGINT)
    AS sampled_tokens,
  min(CASE WHEN _keep THEN doc_id END) AS min_sampled_doc_id,
  max(CASE WHEN _keep THEN doc_id END) AS max_sampled_doc_id
FROM k GROUP BY quality_bucket
"""


def _gram_union_sql() -> str:
    """UNION ALL of (doc_id, n, gram) rows for n ∈ {1, 2, 3, 5}."""
    parts = ["SELECT doc_id, 1 AS n, unnest(toks) AS gram FROM base"]
    for n in (2, 3, 5):
        parts.append(
            f"SELECT doc_id, {n}, unnest(list_transform("
            f"range(1, len(toks)-{n}+2), "
            f"i -> array_to_string(toks[i:i+{n - 1}], ' '))) "
            f"FROM base WHERE len(toks) >= {n}"
        )
    return "\nUNION ALL\n".join(parts)


REPETITION_PROFILE_SQL = f"""
WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
g AS ({_gram_union_sql()}),
c AS (SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY doc_id, n, gram),
d AS (SELECT doc_id,
  CAST(sum(CASE WHEN n=1 THEN cnt END) AS BIGINT) AS n_tokens,
  CAST(count(CASE WHEN n=1 THEN 1 END) AS BIGINT) AS n_distinct_tokens,
  CAST(max(CASE WHEN n=2 THEN cnt END) AS BIGINT) AS top2,
  CAST(sum(CASE WHEN n=2 THEN cnt END) AS BIGINT) AS tot2,
  CAST(max(CASE WHEN n=3 THEN cnt END) AS BIGINT) AS top3,
  CAST(sum(CASE WHEN n=3 THEN cnt END) AS BIGINT) AS tot3,
  CAST(coalesce(sum(CASE WHEN n=5 AND cnt>1 THEN length(gram)*cnt END), 0)
       AS BIGINT) AS dup5chars,
  CAST(sum(CASE WHEN n=5 THEN length(gram)*cnt END) AS BIGINT) AS tot5chars
  FROM c GROUP BY doc_id),
e AS (SELECT doc_id, n_tokens, n_distinct_tokens,
  CASE WHEN n_tokens > 0
       THEN CAST(n_tokens - n_distinct_tokens AS DOUBLE)
            / CAST(n_tokens AS DOUBLE) ELSE 0.0 END AS dup_token_frac,
  CASE WHEN tot2 > 0 THEN CAST(top2 AS DOUBLE) / CAST(tot2 AS DOUBLE)
       ELSE 0.0 END AS top_bigram_frac,
  CASE WHEN tot3 > 0 THEN CAST(top3 AS DOUBLE) / CAST(tot3 AS DOUBLE)
       ELSE 0.0 END AS top_trigram_frac,
  CASE WHEN tot5chars > 0
       THEN CAST(dup5chars AS DOUBLE) / CAST(tot5chars AS DOUBLE)
       ELSE 0.0 END AS dup_5gram_char_frac
  FROM d)
SELECT *,
  CAST(CASE WHEN top_bigram_frac > {text_analysis.TOP_BIGRAM_MAX}
             OR dup_5gram_char_frac > {text_analysis.DUP_5GRAM_CHAR_MAX}
       THEN 1 ELSE 0 END AS INT) AS repetition_flag
FROM e
"""


DEDUP_COMPONENTS_SQL = f"""
WITH RECURSIVE nd AS ({_near_dup_sql(0.5)}),
edges AS (SELECT doc_a AS s, doc_b AS d FROM nd
          UNION SELECT doc_b, doc_a FROM nd),
reach AS (
  SELECT s AS v, s AS r FROM edges
  UNION
  SELECT e.d AS v, reach.r FROM reach JOIN edges e ON e.s = reach.v
),
comp AS (SELECT v AS doc_id, min(r) AS component_id FROM reach GROUP BY v),
sizes AS (SELECT component_id, CAST(count(*) AS BIGINT) AS component_size
          FROM comp GROUP BY component_id)
SELECT doc_id, component_id, component_size,
       CAST(CASE WHEN doc_id = component_id THEN 1 ELSE 0 END AS INT)
         AS is_keep
FROM comp JOIN sizes USING (component_id)
"""


DECONTAMINATION_SQL = f"""
WITH {_shingle_ctes()},
hold AS (SELECT DISTINCT unnest(sset) AS h FROM sh
         WHERE doc_id % {DECON_MOD} = 0),
tr AS (SELECT doc_id, unnest(sset) AS h FROM sh
       WHERE doc_id % {DECON_MOD} <> 0)
SELECT tr.doc_id,
  CAST(count(*) AS BIGINT) AS n_shingles,
  CAST(count(hold.h) AS BIGINT) AS n_contaminated,
  CAST(count(hold.h) AS DOUBLE) / CAST(count(*) AS DOUBLE)
    AS contamination_frac
FROM tr LEFT JOIN hold ON tr.h = hold.h
GROUP BY tr.doc_id
HAVING count(hold.h) > 0
"""


PII_PROFILE_SQL = f"""
WITH c AS (SELECT doc_id,
  CAST(len(regexp_extract_all(lower(text),
    '{text_analysis.PII_EMAIL_RX}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(text,
    '{text_analysis.PII_URL_RX}')) AS INT) AS n_urls,
  CAST(len(regexp_extract_all(text,
    '{text_analysis.PII_IPV4_RX}')) AS INT) AS n_ipv4
  FROM documents)
SELECT * FROM c WHERE n_emails + n_urls + n_ipv4 > 0
"""


LENGTH_QUANTILES_SQL = f"""
WITH base AS (SELECT source, len({_TOKS}) AS n_tokens FROM documents)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(n_tokens) AS DOUBLE) / count(*) AS mean_tokens,
  {", ".join(
    f"quantile_cont(n_tokens, {q}) AS p{int(q * 100)}"
    for q in text_analysis.LENGTH_QUANTILES
  )}
FROM base GROUP BY source
"""


def _ivf_assign_ctes(tag: str, cent_src: str) -> str:
    """CTE chain: cosine vs the ``cent_src(cen_id, cv)`` table →
    nearest-cell assignment (same rounding/tie-break as Spark)."""
    return f"""
s{tag} AS (SELECT e.vec_id, e.embedding, c.cen_id,
              {_sql_cos('e.embedding', 'c.cv')} AS cs
       FROM embeddings e CROSS JOIN {cent_src} c),
r{tag} AS (SELECT *, row_number() OVER (
         PARTITION BY vec_id ORDER BY cs DESC, cen_id ASC) AS rk FROM s{tag}),
a{tag} AS (SELECT vec_id, embedding, cen_id AS cell FROM r{tag} WHERE rk = 1)"""


_IVF_MEAN_COLS = ", ".join(
    f"round(CAST(sum(CAST(embedding[{i + 1}] AS DECIMAL(38,12))) AS DOUBLE)"
    f" / count(*), 6) AS d{i}"
    for i in range(EMBED_DIM)
)


def _ivf_mean_ctes(tag: str) -> str:
    """M-step CTE pair: per-cell per-dimension decimal-exact means of
    assignment ``a{tag}`` → codebook table ``c{tag}(cen_id, cv)``."""
    return f"""m{tag} AS (SELECT cell, i AS pos,
              round(CAST(sum(CAST(embedding[i] AS DECIMAL(38,12))) AS DOUBLE)
                    / count(*), 6) AS mv
       FROM a{tag}, LATERAL (SELECT unnest(range(1, {EMBED_DIM} + 1)) AS i) t
       GROUP BY cell, i),
c{tag} AS (SELECT cell AS cen_id, list(mv ORDER BY pos) AS cv
       FROM m{tag} GROUP BY cell)"""


def _ivf_lloyd_ctes(n_iters: int) -> str:
    """Lloyd's unrolled to ``n_iters`` assignment rounds: seed codebook
    c0 (first ``_IVF_CENTROIDS`` vectors), then alternate assignment
    (a{r}) and mean (c{r}) CTEs, ending on assignment a{n_iters} —
    mirroring ``similarity.ivf_train``'s loop round for round."""
    parts = [
        f"""c0 AS (SELECT vec_id AS cen_id, embedding AS cv
            FROM embeddings WHERE vec_id < {_IVF_CENTROIDS})"""
    ]
    for r in range(1, n_iters + 1):
        parts.append(_ivf_assign_ctes(str(r), f"c{r - 1}"))
        if r < n_iters:
            parts.append(_ivf_mean_ctes(str(r)))
    return ",\n".join(parts)


#: Final training assignment / serving tags for IVF_TRAIN_ITERS rounds.
_IVF_LAST = IVF_TRAIN_ITERS
_IVF_SERVE = IVF_TRAIN_ITERS + 1

IVF_TRAIN_SQL = f"""
WITH {_ivf_lloyd_ctes(IVF_TRAIN_ITERS)}
SELECT cell AS cen_id, CAST(count(*) AS BIGINT) AS n_members,
       {_IVF_MEAN_COLS}
FROM a{_IVF_LAST} GROUP BY cell
"""

# train → serve composition: the final round's cell means become the
# serving codebook, then the same assign/probe/score/rank chain as
# IVF_TOPK_SQL runs against the FITTED cells.
IVF_TRAINED_TOPK_SQL = f"""
WITH {_ivf_lloyd_ctes(IVF_TRAIN_ITERS)},
{_ivf_mean_ctes(str(_IVF_LAST))},
{_ivf_assign_ctes(str(_IVF_SERVE), f"c{_IVF_LAST}")},
probes AS (SELECT vec_id AS query_id, embedding AS qv, cen_id AS cell
           FROM r{_IVF_SERVE} WHERE vec_id < 10 AND rk <= {_IVF_PROBE}),
sc AS (SELECT p.query_id, a.vec_id AS neighbor_id,
              {_sql_cos('p.qv', 'a.embedding')} AS sim
       FROM a{_IVF_SERVE} a JOIN probes p ON a.cell = p.cell
       WHERE a.vec_id <> p.query_id)
SELECT query_id, neighbor_id, rank, sim FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
  FROM sc
) WHERE rank <= 5
"""


# 64-bit SimHash as two 32-bit halves (sim_lo = md5 hex digits 1-8,
# sim_hi = digits 9-16) — a single BIGINT signature with bit 63 set
# would overflow the signed range, so both engines split identically.
def _simhash_half_bits(th_col: str) -> str:
    return " + ".join(
        f"(CASE WHEN coalesce(list_sum(list_transform({th_col}, "
        f"x -> CASE WHEN ((x >> {b}) & 1) = 1 THEN 1 ELSE -1 END)), 0) >= 0 "
        f"THEN {2 ** b} ELSE 0 END)"
        for b in range(32)
    )


def _simhash64_band_key(b: int) -> str:
    src = "sim_lo" if b < dedup.SIMHASH_BANDS // 2 else "sim_hi"
    shift = (b % (dedup.SIMHASH_BANDS // 2)) * dedup.SIMHASH_BAND_BITS
    return f"({src} >> {shift}) & {(1 << dedup.SIMHASH_BAND_BITS) - 1}"


_SIMHASH64_BANDS_UNION = "\nUNION ALL\n".join(
    f"SELECT doc_id, sim_lo, sim_hi, {b} AS band_id, "
    f"{_simhash64_band_key(b)} AS band_key FROM s"
    for b in range(dedup.SIMHASH_BANDS)
)

SIMHASH_NEAR_DUPS_SQL = f"""
WITH doc_base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
th AS (SELECT doc_id,
              list_transform(toks, t -> {_sql_md5_long('t', 1, 8)}) AS th_lo,
              list_transform(toks, t -> {_sql_md5_long('t', 9, 8)}) AS th_hi
       FROM doc_base WHERE len(toks) >= 1),
s AS (SELECT doc_id,
             CAST({_simhash_half_bits('th_lo')} AS BIGINT) AS sim_lo,
             CAST({_simhash_half_bits('th_hi')} AS BIGINT) AS sim_hi
      FROM th),
bands0 AS ({_SIMHASH64_BANDS_UNION}),
sized AS (SELECT *, count(*) OVER (PARTITION BY band_id, band_key) AS _n
          FROM bands0),
bands AS (SELECT * FROM sized WHERE _n <= {BUCKET_CAP})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sim_lo, b.sim_lo))
            + bit_count(xor(a.sim_hi, b.sim_hi)) AS INT) AS hamming
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.sim_lo, b.sim_lo))
      + bit_count(xor(a.sim_hi, b.sim_hi)) <= {dedup.SIMHASH_MAX_DIST}
"""

TOP_NGRAMS_SQL = f"""
WITH doc_base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
grams AS (SELECT doc_id,
                 unnest(list_transform(range(1, len(toks)),
                        i -> array_to_string(toks[i:i+1], ' '))) AS ngram
          FROM doc_base WHERE len(toks) >= 2),
per_doc AS (SELECT ngram, doc_id, count(*) AS _c
            FROM grams GROUP BY ngram, doc_id)
SELECT ngram, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(_c) AS BIGINT) AS n_occurrences
FROM per_doc GROUP BY ngram
ORDER BY n_occurrences DESC, ngram ASC
LIMIT {text_analysis.TOP_NGRAMS_K}
"""

_CHUNK = sampling.CHUNK_TOKENS
_STRIDE = sampling.CHUNK_STRIDE

DOC_CHUNKS_SQL = f"""
WITH doc_base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
base AS (SELECT doc_id, toks, len(toks) AS n
         FROM doc_base WHERE len(toks) >= 1)
SELECT doc_id,
       CAST((s - 1) // {_STRIDE} AS BIGINT) AS chunk_id,
       CAST(s AS BIGINT) AS start_tok,
       CAST(len(toks[s:s+{_CHUNK - 1}]) AS BIGINT) AS n_tokens,
       md5(array_to_string(toks[s:s+{_CHUNK - 1}], ' ')) AS chunk_fp
FROM base, LATERAL (
  SELECT unnest(range(1, greatest(n - {_CHUNK} + 1, 1) + 1, {_STRIDE})) AS s
) t
"""

CROSS_SOURCE_DUPS_SQL = f"""
WITH nd AS ({_near_dup_sql(0.5)}),
src AS (SELECT doc_id, source FROM documents)
SELECT least(sa.source, sb.source) AS source_a,
       greatest(sa.source, sb.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       round(CAST(sum(CAST(jaccard AS DECIMAL(38,12))) AS DOUBLE)
             / count(*), 6) AS avg_jaccard
FROM nd
JOIN src sa ON sa.doc_id = nd.doc_a
JOIN src sb ON sb.doc_id = nd.doc_b
GROUP BY least(sa.source, sb.source), greatest(sa.source, sb.source)
"""

SOURCE_MIXTURE_SQL = f"""
WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(CAST(len({_TOKS}) AS BIGINT)) AS BIGINT)
                      AS total_tokens
             FROM documents GROUP BY source),
p AS (SELECT *, sqrt(CAST(total_tokens AS DOUBLE)) AS pw FROM per),
t AS (SELECT CAST(sum(CAST(pw AS DECIMAL(38,12))) AS DOUBLE) AS tot
      FROM p)
SELECT source, n_docs, total_tokens,
       round(pw / tot, 6) AS weight,
       CAST(floor(pw / tot * 100000.0) AS BIGINT) AS docs_per_epoch
FROM p, t
"""

CHUNK_DEDUP_SQL = f"""
WITH doc_base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
base AS (SELECT doc_id, toks, len(toks) AS n
         FROM doc_base WHERE len(toks) >= 1),
chunks AS (
  SELECT doc_id,
         md5(array_to_string(toks[s:s+{_CHUNK - 1}], ' ')) AS chunk_fp
  FROM base, LATERAL (
    SELECT unnest(range(1, greatest(n - {_CHUNK} + 1, 1) + 1, {_STRIDE}))
           AS s
  ) t),
per_doc AS (SELECT chunk_fp, doc_id, count(*) AS _c
            FROM chunks GROUP BY chunk_fp, doc_id)
SELECT chunk_fp, CAST(sum(_c) AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS n_docs,
       array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
FROM per_doc GROUP BY chunk_fp HAVING sum(_c) > 1
"""

SIMHASH_BAND_STATS_SQL = f"""
WITH doc_base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
th AS (SELECT doc_id,
              list_transform(toks, t -> {_sql_md5_long('t', 1, 8)}) AS th_lo,
              list_transform(toks, t -> {_sql_md5_long('t', 9, 8)}) AS th_hi
       FROM doc_base WHERE len(toks) >= 1),
s AS (SELECT doc_id,
             CAST({_simhash_half_bits('th_lo')} AS BIGINT) AS sim_lo,
             CAST({_simhash_half_bits('th_hi')} AS BIGINT) AS sim_hi
      FROM th),
bands0 AS ({_SIMHASH64_BANDS_UNION}),
per_bucket AS (SELECT band_id, band_key, count(*) AS _n
               FROM bands0 GROUP BY band_id, band_key)
SELECT band_id, count(*) AS n_buckets,
       CAST(sum(CASE WHEN _n > {BUCKET_CAP} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped_buckets,
       CAST(sum(CASE WHEN _n > {BUCKET_CAP} THEN _n ELSE 0 END)
            AS BIGINT) AS n_docs_dropped,
       max(_n) AS max_bucket
FROM per_bucket GROUP BY band_id ORDER BY band_id
"""


IVF_RECALL_SQL = f"""
WITH c AS (SELECT vec_id AS cen_id, embedding AS cv
           FROM embeddings WHERE vec_id < {_IVF_CENTROIDS}),
s AS (SELECT e.vec_id, e.embedding, c.cen_id,
             {_sql_cos('e.embedding', 'c.cv')} AS cs
      FROM embeddings e CROSS JOIN c),
r AS (SELECT *, row_number() OVER (
        PARTITION BY vec_id ORDER BY cs DESC, cen_id ASC) AS rk FROM s),
assigned AS (SELECT vec_id, embedding, cen_id AS cell FROM r WHERE rk = 1),
probes AS (SELECT vec_id AS query_id, embedding AS qv, cen_id AS cell
           FROM r WHERE vec_id < {RECALL_QUERIES} AND rk <= {_IVF_PROBE}),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY p.query_id ORDER BY
             {_sql_cos('p.qv', 'a.embedding')} DESC, a.vec_id ASC) AS rank
    FROM assigned a JOIN probes p ON a.cell = p.cell
    WHERE a.vec_id <> p.query_id
  ) WHERE rank <= 5
),
q2 AS (SELECT vec_id AS query_id, embedding AS qv
       FROM embeddings WHERE vec_id < {RECALL_QUERIES}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q2.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q2.query_id ORDER BY
             {_sql_cos('q2.qv', 'e.embedding')} DESC, e.vec_id ASC) AS rank
    FROM embeddings e, q2 WHERE e.vec_id <> q2.query_id
  ) WHERE rank <= 5
)
SELECT exact.query_id, count(*) AS n_exact,
  CAST(sum(CASE WHEN approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS n_hit,
  round(CAST(sum(CASE WHEN approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM exact LEFT JOIN approx
  ON exact.query_id = approx.query_id
 AND exact.neighbor_id = approx.neighbor_id
GROUP BY exact.query_id
"""


IVF_TRAINED_RECALL_SQL = f"""
WITH {_ivf_lloyd_ctes(IVF_TRAIN_ITERS)},
{_ivf_mean_ctes(str(_IVF_LAST))},
{_ivf_assign_ctes(str(_IVF_SERVE), f"c{_IVF_LAST}")},
probes AS (SELECT vec_id AS query_id, embedding AS qv, cen_id AS cell
           FROM r{_IVF_SERVE}
           WHERE vec_id < {RECALL_QUERIES} AND rk <= {_IVF_PROBE}),
approx AS (
  SELECT query_id, neighbor_id FROM (
    SELECT p.query_id, a.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY p.query_id ORDER BY
             {_sql_cos('p.qv', 'a.embedding')} DESC, a.vec_id ASC) AS rank
    FROM a{_IVF_SERVE} a JOIN probes p ON a.cell = p.cell
    WHERE a.vec_id <> p.query_id
  ) WHERE rank <= 5
),
q2 AS (SELECT vec_id AS query_id, embedding AS qv
       FROM embeddings WHERE vec_id < {RECALL_QUERIES}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q2.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q2.query_id ORDER BY
             {_sql_cos('q2.qv', 'e.embedding')} DESC, e.vec_id ASC) AS rank
    FROM embeddings e, q2 WHERE e.vec_id <> q2.query_id
  ) WHERE rank <= 5
)
SELECT exact.query_id, count(*) AS n_exact,
  CAST(sum(CASE WHEN approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS n_hit,
  round(CAST(sum(CASE WHEN approx.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM exact LEFT JOIN approx
  ON exact.query_id = approx.query_id
 AND exact.neighbor_id = approx.neighbor_id
GROUP BY exact.query_id
"""


UNIGRAM_LOGPROB_SQL = f"""
WITH base AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
tk AS (SELECT doc_id, unnest(toks) AS t FROM base),
c AS (SELECT t, count(*) AS cnt FROM tk GROUP BY t),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
v AS (SELECT t, cnt FROM (
    SELECT t, cnt, row_number() OVER (ORDER BY cnt DESC, t ASC) AS rk
    FROM c
  ) WHERE rk <= {text_analysis.VOCAB_SIZE}),
m AS (SELECT tk.doc_id, v.cnt FROM tk LEFT JOIN v ON tk.t = v.t)
SELECT m.doc_id,
  CAST(count(*) AS BIGINT) AS n_tokens,
  CAST(sum(CASE WHEN m.cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
  CAST(sum(CASE WHEN m.cnt IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS oov_frac,
  round(CAST(sum(CAST(ln(
      coalesce(CAST(m.cnt AS DOUBLE), {text_analysis.OOV_NUM})
      / CAST(tot.total AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE)
    / count(*), 6) AS avg_logprob
FROM m, tot GROUP BY m.doc_id
"""


_PACK_ORD = _sql_h32("'pack#' || CAST(doc_id AS VARCHAR)")

SEQ_PACKING_SQL = f"""
WITH base AS (SELECT doc_id,
    CAST(len({_TOKS}) AS BIGINT) AS tok,
    {_PACK_ORD} AS ord,
    {_sql_h32("'shard#' || CAST(doc_id AS VARCHAR)")}
      % {sampling.N_SHARDS} AS shard_id
  FROM documents),
nz AS (SELECT * FROM base WHERE tok > 0),
pl AS (SELECT shard_id, tok,
    sum(tok) OVER (PARTITION BY shard_id ORDER BY ord, doc_id
                   ROWS UNBOUNDED PRECEDING) - tok AS start
  FROM nz)
SELECT shard_id,
  CAST(floor(start / {sampling.PACK_BUDGET}) AS BIGINT) AS pack_id,
  CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(tok) AS BIGINT) AS pack_tokens,
  CAST(max(CASE WHEN start % {sampling.PACK_BUDGET} + tok
                     > {sampling.PACK_BUDGET}
           THEN 1 ELSE 0 END) AS INT) AS crosses_boundary
FROM pl GROUP BY shard_id, pack_id
"""



def llm_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc duplicated 8-gram coverage per doc (substring-dedup
    signal, Lee et al. 2022 exact-substring approximation)."""
    return dedup.dup_span_profile(_docs(spark, sf_dir, wide=True))


DUP_SPANS_SQL = """
WITH toks AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                      ' ') AS w
  FROM documents
),
grams AS (
  SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
  FROM toks, UNNEST(generate_series(1, len(w) - 7)) AS t(i)
  WHERE len(w) >= 8
),
per_gram_doc AS (
  SELECT gram, doc_id, count(*) AS occ FROM grams GROUP BY gram, doc_id
),
per_gram AS (
  SELECT gram, count(*) AS n_docs FROM per_gram_doc GROUP BY gram
)
SELECT d.doc_id,
       CAST(sum(d.occ) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN g.n_docs > 1 THEN d.occ ELSE 0 END) AS BIGINT)
         AS n_dup_grams,
       round(CAST(sum(CASE WHEN g.n_docs > 1 THEN d.occ ELSE 0 END)
                  AS DOUBLE) / sum(d.occ), 6) AS dup_fraction
FROM per_gram_doc d JOIN per_gram g USING (gram)
GROUP BY d.doc_id
"""



def llm_bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_decontamination through the Bloom-prefilter scale path —
    bitmap built as a distributed bit_or aggregate, exact verify after;
    byte-identical result (no false negatives), same oracle."""
    docs = _docs(spark, sf_dir)
    hold = docs.filter(F.col("doc_id") % DECON_MOD == 0)
    train = docs.filter(F.col("doc_id") % DECON_MOD != 0)
    return dedup.bloom_decontaminate(train, hold)



def llm_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per source (subcorpus signature vocabulary)."""
    return text_analysis.tfidf_top_terms(_docs(spark, sf_dir))


TFIDF_TOP_TERMS_SQL = f"""
WITH t AS (
  SELECT doc_id, source, unnest({_TOKS}) AS term FROM documents
),
pdt AS (
  SELECT term, doc_id, source, count(*) AS tf FROM t GROUP BY 1, 2, 3
),
dfx AS (SELECT term, count(*) AS df FROM pdt GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
st AS (
  SELECT source, term, CAST(sum(tf) AS BIGINT) AS tf
  FROM pdt GROUP BY source, term
),
scored AS (
  SELECT st.source, st.term, st.tf, CAST(dfx.df AS BIGINT) AS df,
         round(st.tf * (ln((n.n_docs + 1.0) / (dfx.df + 1.0)) + 1.0), 6)
           AS score
  FROM st JOIN dfx USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY source ORDER BY score DESC, term ASC) AS rn
  FROM scored
)
SELECT source, term, tf, df, score, CAST(rn AS INT) AS rank
FROM ranked WHERE rn <= 5
"""



def llm_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (8 subspaces x 8 codes, seeded
    sub-codebooks) — the code-compressed ANN serve path."""
    return similarity.pq_topk(_emb(spark, sf_dir))


_PQ_M = 8   # subspaces (embedding dim 64 -> 8 dims each)
_PQ_KS = 8  # codes per sub-codebook
_PQ_D = EMBED_DIM // _PQ_M

def _pq_ctes(nq: int) -> str:
    return f"""cb AS (
  SELECT vec_id AS c, embedding AS cv FROM embeddings WHERE vec_id < {_PQ_KS}
),
ms AS (SELECT unnest(range({_PQ_M})) AS m),
subs AS (
  SELECT ms.m, cb.c,
         list_transform(range(1, {_PQ_D + 1}),
                        i -> CAST(cb.cv[ms.m * {_PQ_D} + i] AS DOUBLE)) AS sv
  FROM ms CROSS JOIN cb
),
dists AS (
  SELECT e.vec_id, s.m, s.c,
    CAST(round(list_reduce(list_transform(range(1, {_PQ_D + 1}),
      i -> (CAST(e.embedding[s.m * {_PQ_D} + i] AS DOUBLE) - s.sv[i])
           * (CAST(e.embedding[s.m * {_PQ_D} + i] AS DOUBLE) - s.sv[i])),
      (x, y) -> x + y), 6) AS DECIMAL(20,6)) AS dd
  FROM embeddings e CROSS JOIN subs s
),
codes AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT vec_id, m, c, row_number() OVER (
      PARTITION BY vec_id, m ORDER BY dd ASC, c ASC) AS rn
    FROM dists)
  WHERE rn = 1
),
pq_approx AS (
  SELECT qd.vec_id AS query_id, x.vec_id AS neighbor_id,
         CAST(sum(qd.dd) AS DOUBLE) AS adist
  FROM codes x JOIN dists qd ON qd.m = x.m AND qd.c = x.code
  WHERE qd.vec_id < {nq} AND x.vec_id <> qd.vec_id
  GROUP BY qd.vec_id, x.vec_id
),
pq_ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS rank
  FROM pq_approx
)"""

PQ_TOPK_SQL = f"""
WITH {_pq_ctes(10)}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adist
FROM pq_ranked WHERE rank <= 5
"""



def llm_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion diff: snapshot A (drops doc_id%10==9) vs
    snapshot B (drops doc_id%10==0, revises doc_id%7==3) classified
    added/removed/changed/unchanged per doc via one full-outer join of
    the fingerprint projections."""
    docs = _docs(spark, sf_dir)
    old = docs.filter(F.col("doc_id") % 10 != 9)
    new = docs.filter(F.col("doc_id") % 10 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 3,
            F.concat(F.col("text"), F.lit(" [rev2]")),
        ).otherwise(F.col("text")),
    )
    return dedup.snapshot_diff(old, new)


_FP_REV = (
    "md5(trim(regexp_replace(lower(CASE WHEN doc_id % 7 = 3 "
    "THEN text || ' [rev2]' ELSE text END), '\\s+', ' ', 'g')))"
)

SNAPSHOT_DIFF_SQL = f"""
WITH o AS (
  SELECT doc_id, {_FP} AS old_fp FROM documents WHERE doc_id % 10 <> 9
),
n AS (
  SELECT doc_id, {_FP_REV} AS new_fp FROM documents WHERE doc_id % 10 <> 0
)
SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
  CASE WHEN old_fp IS NULL THEN 'added'
       WHEN new_fp IS NULL THEN 'removed'
       WHEN old_fp <> new_fp THEN 'changed'
       ELSE 'unchanged' END AS status,
  old_fp, new_fp
FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
"""



def llm_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the PQ/ADC path against exact brute force — the
    code-budget sizing loop (subspaces x codes vs recall), measured on
    the shipped operators like the LSH/IVF harnesses (same 50-query
    panel, so the noise floor matches theirs)."""
    approx = similarity.pq_topk(
        _emb(spark, sf_dir), n_queries=RECALL_QUERIES
    )
    return similarity._recall_rollup(
        _exact_panel(spark, sf_dir, clustered=False), approx
    )


PQ_RECALL_SQL = f"""
WITH {{pq}},
q AS (SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id < {RECALL_QUERIES}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_sql_cos('q.qv', 'e.embedding')} DESC, e.vec_id ASC) AS rank
    FROM embeddings e, q WHERE e.vec_id <> q.query_id
  ) WHERE rank <= 5
),
pq AS (SELECT query_id, neighbor_id FROM pq_ranked WHERE rank <= 5)
SELECT exact.query_id, count(*) AS n_exact,
  CAST(sum(CASE WHEN pq.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS n_hit,
  round(CAST(sum(CASE WHEN pq.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM exact LEFT JOIN pq
  ON exact.query_id = pq.query_id
 AND exact.neighbor_id = pq.neighbor_id
GROUP BY exact.query_id
""".format(pq=_pq_ctes(RECALL_QUERIES))



def llm_pq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ train -> serve: one per-subspace Lloyd refinement of the
    seeded sub-codebooks (codebook-only collects), trained centroids
    re-inlined as plan literals feeding the same ADC serve plan."""
    return similarity.pq_trained_topk(_emb(spark, sf_dir))


def _pq_trained_ctes(nq: int) -> str:
    """Seed-assignment CTEs + one Lloyd mean step + the serve chain
    re-run against the trained centroids (empty cells keep seeds)."""
    D = _PQ_D
    return f"""{_pq_ctes(nq)},
cvec AS (
  SELECT e.vec_id, ms.m, t.i,
         CAST(e.embedding[ms.m * {D} + t.i] AS DOUBLE) AS v
  FROM embeddings e CROSS JOIN ms
  CROSS JOIN UNNEST(range(1, {D + 1})) AS t(i)
),
tmeans AS (
  SELECT c.m, c.code AS c, cv.i,
         CAST(sum(CAST(cv.v AS DECIMAL(30,6))) AS DOUBLE) / count(*) AS mv
  FROM codes c JOIN cvec cv ON cv.vec_id = c.vec_id AND cv.m = c.m
  GROUP BY c.m, c.code, cv.i
),
scaffold AS (
  SELECT s.m, s.c, t.i, s.sv[t.i] AS seedv
  FROM subs s CROSS JOIN UNNEST(range(1, {D + 1})) AS t(i)
),
centvals AS (
  SELECT sc.m, sc.c, sc.i, coalesce(tm.mv, sc.seedv) AS v
  FROM scaffold sc LEFT JOIN tmeans tm
    ON tm.m = sc.m AND tm.c = sc.c AND tm.i = sc.i
),
cent2 AS (SELECT m, c, list(v ORDER BY i) AS sv FROM centvals GROUP BY m, c),
dists2 AS (
  SELECT e.vec_id, s.m, s.c,
    CAST(round(list_reduce(list_transform(range(1, {D + 1}),
      i -> (CAST(e.embedding[s.m * {D} + i] AS DOUBLE) - s.sv[i])
           * (CAST(e.embedding[s.m * {D} + i] AS DOUBLE) - s.sv[i])),
      (x, y) -> x + y), 6) AS DECIMAL(20,6)) AS dd
  FROM embeddings e CROSS JOIN cent2 s
),
codes2 AS (
  SELECT vec_id, m, c AS code FROM (
    SELECT vec_id, m, c, row_number() OVER (
      PARTITION BY vec_id, m ORDER BY dd ASC, c ASC) AS rn
    FROM dists2)
  WHERE rn = 1
),
pq_approx2 AS (
  SELECT qd.vec_id AS query_id, x.vec_id AS neighbor_id,
         CAST(sum(qd.dd) AS DOUBLE) AS adist
  FROM codes2 x JOIN dists2 qd ON qd.m = x.m AND qd.c = x.code
  WHERE qd.vec_id < {nq} AND x.vec_id <> qd.vec_id
  GROUP BY qd.vec_id, x.vec_id
),
pq_ranked2 AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS rank
  FROM pq_approx2
)"""


PQ_TRAINED_TOPK_SQL = f"""
WITH {_pq_trained_ctes(10)}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adist
FROM pq_ranked2 WHERE rank <= 5
"""



def llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear quality score + keep/drop label per doc."""
    return text_analysis.quality_classifier_scores(_docs(spark, sf_dir))


QUALITY_CLASSIFIER_SQL = f"""
WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
a AS (
  SELECT doc_id, count(*) AS n_tokens, sum({_sql_h32('tok')}) AS hsum
  FROM t GROUP BY doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  round(CAST(hsum AS DOUBLE) / (n_tokens * 134217728.0) - 1.0, 6)
    AS quality_score,
  CASE WHEN round(CAST(hsum AS DOUBLE) / (n_tokens * 134217728.0) - 1.0, 6)
            >= 0
       THEN 'keep' ELSE 'drop' END AS label
FROM a
"""



COMPONENT_EXEMPLARS_SQL = f"""
WITH RECURSIVE nd AS ({_near_dup_sql(0.5)}),
edges AS (SELECT doc_a AS s, doc_b AS d FROM nd
          UNION SELECT doc_b, doc_a FROM nd),
reach AS (
  SELECT s AS v, s AS r FROM edges
  UNION
  SELECT e.d AS v, reach.r FROM reach JOIN edges e ON e.s = reach.v
),
comp AS (SELECT v AS doc_id, min(r) AS component_id FROM reach GROUP BY v),
sizes AS (SELECT component_id, CAST(count(*) AS BIGINT) AS component_size
          FROM comp GROUP BY component_id),
q AS (SELECT doc_id, quality_score FROM ({QUALITY_CLASSIFIER_SQL})),
ranked AS (
  SELECT comp.doc_id, comp.component_id, sizes.component_size,
         q.quality_score,
         row_number() OVER (PARTITION BY comp.component_id
                            ORDER BY q.quality_score DESC,
                                     comp.doc_id ASC) AS rn
  FROM comp
  JOIN sizes USING (component_id)
  JOIN q ON q.doc_id = comp.doc_id
)
SELECT doc_id, component_id, component_size, quality_score,
       CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS INT) AS keep
FROM ranked
"""



def llm_hashed_tf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick TF vectors (sparse long form) — text -> embedding
    bridge feeding the ANN/embedding-dedup family."""
    return text_analysis.hashed_tf_vectors(_docs(spark, sf_dir))


HASHED_TF_SQL = f"""
WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
b AS (SELECT doc_id, {_sql_h32('tok')} % 64 AS bkt FROM t),
g AS (SELECT doc_id, bkt, count(*) AS cnt FROM b GROUP BY doc_id, bkt),
s AS (SELECT doc_id, sum(cnt * cnt) AS ss FROM g GROUP BY doc_id)
SELECT g.doc_id, CAST(g.bkt AS INT) AS bucket,
       round(CAST(g.cnt AS DOUBLE) / sqrt(CAST(s.ss AS DOUBLE)), 6)
         AS weight
FROM g JOIN s ON g.doc_id = s.doc_id
"""



def llm_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean bigram log-probability (add-one smoothing) — the
    word-ORDER-sensitive step past the unigram perplexity proxy."""
    return text_analysis.bigram_logprob_scores(_docs(spark, sf_dir))


BIGRAM_LOGPROB_SQL = f"""
WITH base AS (SELECT doc_id, {_TOKS} AS w FROM documents),
toks AS (
  SELECT doc_id, w[i] AS w2, CASE WHEN i >= 2 THEN w[i-1] END AS w1, i
  FROM base, UNNEST(range(1, len(w) + 1)) AS t(i)
),
u AS (SELECT w2 AS w1, count(*) AS cu FROM toks GROUP BY 1),
b AS (
  SELECT w1, w2, count(*) AS cb FROM toks WHERE i >= 2 GROUP BY w1, w2
),
v AS (SELECT count(DISTINCT w2) AS vv FROM toks),
scored AS (
  SELECT tk.doc_id,
    CAST(ln(CAST(b.cb + 1 AS DOUBLE) / CAST(u.cu + v.vv AS DOUBLE))
         AS DECIMAL(38,12)) AS lp
  FROM toks tk
  JOIN b ON b.w1 = tk.w1 AND b.w2 = tk.w2
  JOIN u ON u.w1 = tk.w1
  CROSS JOIN v
  WHERE tk.i >= 2
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
  round(CAST(sum(lp) AS DOUBLE) / count(*), 6) AS avg_logprob
FROM scored GROUP BY doc_id
"""



def llm_source_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source QA dashboard composing three per-doc signals —
    repetition flags (Gopher thresholds), PII presence, and the
    classifier label — into doc counts, mean quality, and the
    acceptance rate of docs passing ALL gates.  Pure operator
    COMPOSITION: the three inputs are the registered operators reused
    unchanged, left-joined on doc_id and rolled up by source.
    ``wide=True``: all four branches re-scan the same small file and
    run per-doc regex/text math; fanning the shared scan out unlocks
    full-width execution in every branch (measured 3.17 → 1.96 s at
    sf0.1; bit-identical output)."""
    docs = _docs(spark, sf_dir, wide=True)
    rep = text_analysis.repetition_profile(docs).select(
        "doc_id", "repetition_flag"
    )
    pii = text_analysis.pii_profile(docs).select(
        "doc_id", F.lit(1).alias("_has_pii")
    )
    qc = text_analysis.quality_classifier_scores(docs).select(
        "doc_id", "quality_score", "label"
    )
    j = (
        docs.select("doc_id", "source")
        .join(rep, "doc_id", "left")
        .join(pii, "doc_id", "left")
        .join(qc, "doc_id", "left")
    )
    flag = F.coalesce(F.col("repetition_flag"), F.lit(0))
    accepted = F.when(
        (flag == 0)
        & F.col("_has_pii").isNull()
        & (F.col("label") == "keep"),
        1,
    ).otherwise(0)
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(flag).cast("long").alias("n_repetitive"),
        F.sum(F.coalesce(F.col("_has_pii"), F.lit(0)))
        .cast("long")
        .alias("n_with_pii"),
        F.round(
            F.sum(F.col("quality_score").cast("decimal(38,12)"))
            .cast("double")
            / F.count("quality_score"),
            6,
        ).alias("mean_quality"),
        F.sum(accepted).cast("long").alias("n_accepted"),
        F.round(
            F.sum(accepted).cast("double") / F.count(F.lit(1)), 6
        ).alias("acceptance_rate"),
    )


SOURCE_QUALITY_GATE_SQL = f"""
WITH rep AS (
  SELECT doc_id, repetition_flag FROM ({REPETITION_PROFILE_SQL})
),
pii AS (SELECT doc_id, 1 AS has_pii FROM ({PII_PROFILE_SQL})),
qc AS (
  SELECT doc_id, quality_score, label FROM ({QUALITY_CLASSIFIER_SQL})
),
j AS (
  SELECT d.source, d.doc_id, r.repetition_flag, p.has_pii,
         q.quality_score, q.label
  FROM documents d
  LEFT JOIN rep r ON r.doc_id = d.doc_id
  LEFT JOIN pii p ON p.doc_id = d.doc_id
  LEFT JOIN qc q ON q.doc_id = d.doc_id
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(sum(coalesce(repetition_flag, 0)) AS BIGINT) AS n_repetitive,
  CAST(sum(coalesce(has_pii, 0)) AS BIGINT) AS n_with_pii,
  round(CAST(sum(CAST(quality_score AS DECIMAL(38,12))) AS DOUBLE)
        / count(quality_score), 6) AS mean_quality,
  CAST(sum(CASE WHEN coalesce(repetition_flag, 0) = 0
                 AND has_pii IS NULL AND label = 'keep'
            THEN 1 ELSE 0 END) AS BIGINT) AS n_accepted,
  round(CAST(sum(CASE WHEN coalesce(repetition_flag, 0) = 0
                       AND has_pii IS NULL AND label = 'keep'
                  THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
    AS acceptance_rate
FROM j GROUP BY source
"""



def llm_sketch_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source HLL++/t-digest sketch profile (no oracle by design —
    sketches are engine-specific; accuracy gated in local tests and by
    the oracle-paired ``llm_sketch_accuracy`` contract query)."""
    return text_analysis.sketch_profile(_docs(spark, sf_dir))


def llm_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy contract flags vs exact aggregates (the oracle
    asserts every flag as 1 — a drifting sketch fails the hash gate)."""
    return text_analysis.sketch_accuracy(_docs(spark, sf_dir))


SKETCH_ACCURACY_SQL = f"""
WITH toks AS (SELECT source, unnest({_TOKS}) AS tok FROM documents),
d AS (SELECT source, CAST(count(DISTINCT tok) AS BIGINT)
        AS exact_distinct_tokens FROM toks GROUP BY source),
n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source)
SELECT n.source, n.n_docs, d.exact_distinct_tokens,
  CAST(1 AS INTEGER) AS hll_within_3rsd,
  CAST(1 AS INTEGER) AS median_in_iqr,
  CAST(1 AS INTEGER) AS p95_ge_p50
FROM n JOIN d ON n.source = d.source
"""


def llm_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch frequency estimation with its MEASURED error:
    true count, CMS estimate, and overestimate per exact-top-50 token.
    The md5-salted hash rows make the sketch deterministic, so the
    whole report is hash-exact against the oracle (no rows-only
    fallback needed)."""
    return text_analysis.cms_heavy_hitters(_docs(spark, sf_dir))


# Mirrors text_analysis.cms_heavy_hitters: same salted-md5 row hashes,
# same depth×width counter table, min-over-rows estimate.
CMS_HEAVY_HITTERS_SQL = f"""
WITH tk AS (SELECT unnest({_TOKS}) AS t FROM documents),
cnt AS (SELECT t, count(*) AS true_cnt FROM tk GROUP BY t),
cand AS (
  SELECT t, true_cnt FROM (
    SELECT t, true_cnt,
      row_number() OVER (ORDER BY true_cnt DESC, t ASC) AS rk
    FROM cnt
  ) WHERE rk <= {text_analysis.CMS_TOPK}
),
buck AS (
  SELECT d.range AS d,
    {_sql_h32("'cms' || CAST(d.range AS VARCHAR) || '#' || t")}
      % {text_analysis.CMS_WIDTH} AS bucket,
    count(*) AS c
  FROM tk CROSS JOIN range({text_analysis.CMS_DEPTH}) d
  GROUP BY 1, 2
),
est AS (
  SELECT cand.t, cand.true_cnt, min(buck.c) AS est_cnt
  FROM cand
  CROSS JOIN range({text_analysis.CMS_DEPTH}) d
  JOIN buck ON buck.d = d.range
   AND buck.bucket =
     {_sql_h32("'cms' || CAST(d.range AS VARCHAR) || '#' || cand.t")}
       % {text_analysis.CMS_WIDTH}
  GROUP BY 1, 2
)
SELECT t AS token, CAST(true_cnt AS BIGINT) AS true_cnt,
  CAST(est_cnt AS BIGINT) AS est_cnt,
  CAST(est_cnt - true_cnt AS BIGINT) AS overestimate
FROM est
"""


def llm_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split audit per (source, split)."""
    return sampling.split_manifest(_docs(spark, sf_dir))


_SPLIT_HASH = _sql_h32("'split#' || CAST(doc_id AS VARCHAR)")

_SPLIT_CASE = "CASE " + " ".join(
    f"WHEN b < {bound} THEN '{name}'"
    for name, bound in sampling.SPLIT_BOUNDS
) + " ELSE 'test' END"

SPLIT_MANIFEST_SQL = f"""
WITH s AS (
  SELECT doc_id, source, {_TOKS} AS toks,
         {_SPLIT_HASH} % 100 AS b
  FROM documents
)
SELECT source, {_SPLIT_CASE} AS split,
  count(*) AS n_docs,
  CAST(sum(len(toks)) AS BIGINT) AS total_tokens,
  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM s GROUP BY source, 2
"""


#: Near-dup threshold for the leakage audit — ONE constant feeding both
#: the Spark call and the oracle SQL so they cannot drift (ADVICE r6).
SPLIT_LEAKAGE_T = 0.5


def llm_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval near-duplicate leakage audit (L39 splits × L2 pairs)."""
    return sampling.split_leakage(
        _docs(spark, sf_dir), threshold=SPLIT_LEAKAGE_T
    )


SPLIT_LEAKAGE_SQL = f"""
WITH {_candidate_pair_ctes()},
jac AS (SELECT doc_a, doc_b,
  CAST(len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) /
  CAST(len(sa.sset) + len(sb.sset)
       - len(list_intersect(sa.sset, sb.sset)) AS DOUBLE) AS jaccard
  FROM pairs
  JOIN sh sa ON sa.doc_id = pairs.doc_a
  JOIN sh sb ON sb.doc_id = pairs.doc_b),
nd AS (SELECT doc_a, doc_b, jaccard FROM jac
       WHERE jaccard >= {SPLIT_LEAKAGE_T}),
sp AS (SELECT doc_id, {_SPLIT_CASE} AS split
       FROM (SELECT doc_id, {_SPLIT_HASH} % 100 AS b FROM documents)),
lk AS (
  SELECT CASE WHEN sa.split = 'train' THEN sb.split ELSE sa.split END
           AS split,
         CASE WHEN sa.split = 'train' THEN nd.doc_b ELSE nd.doc_a END
           AS leak_doc,
         jaccard
  FROM nd
  JOIN sp sa ON sa.doc_id = nd.doc_a
  JOIN sp sb ON sb.doc_id = nd.doc_b
  WHERE (sa.split = 'train') <> (sb.split = 'train'))
SELECT split, count(*) AS n_leak_pairs,
  CAST(count(DISTINCT leak_doc) AS BIGINT) AS n_leaked_docs,
  round(max(jaccard), 6) AS max_jaccard
FROM lk GROUP BY split
"""


def llm_cell_purity_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell purity against the clustered corpus's generative labels
    (vec_id % CLUSTER_K): measures whether the coarse quantizer RECOVERS
    the corpus structure.  Near 1.0 here (16 seed cells over 8 true
    clusters ⇒ each cell nests inside one cluster); at chance on the
    uniform fixture's stored labels, which carry no geometry.

    Cold-run note: the first IVF-family query in a session pays the
    one-time ~8 s codegen compile of the shared 16-centroid assignment
    expression (llm_ivf_topk cold costs the same); this query itself
    is ~2 s warm."""
    emb = _clustered_emb(spark, sf_dir)
    cents = sorted(
        (r[0], r[1])
        for r in emb.filter(F.col("vec_id") < _IVF_CENTROIDS)
        .select("vec_id", "embedding")
        .collect()
    )
    labeled = emb.withColumn(
        "label", (F.col("vec_id") % CLUSTER_K).cast("int")
    )
    return similarity.cell_label_purity(labeled, cents)


_CELL_PURITY_BODY = """
WITH c0 AS (SELECT vec_id AS cen_id, embedding AS cv
            FROM embeddings WHERE vec_id < {n_cents}),
{assign},
lab AS (SELECT a.cell, CAST(a.vec_id % {k} AS INTEGER) AS _lab,
               count(*) AS n
        FROM acp a GROUP BY 1, 2),
tot AS (SELECT cell, CAST(sum(n) AS BIGINT) AS n_vecs
        FROM lab GROUP BY cell),
rk AS (SELECT cell, _lab, n, row_number() OVER (
         PARTITION BY cell ORDER BY n DESC, _lab ASC) AS rk FROM lab)
SELECT r.cell, t.n_vecs, r._lab AS majority_label,
  CAST(r.n AS BIGINT) AS majority_n,
  round(CAST(r.n AS DOUBLE) / CAST(t.n_vecs AS DOUBLE), 6) AS purity
FROM rk r JOIN tot t ON t.cell = r.cell WHERE r.rk = 1
"""

CELL_PURITY_CLUSTERED_SQL = _with_clustered_corpus(
    _CELL_PURITY_BODY.format(
        n_cents=_IVF_CENTROIDS,
        assign=_ivf_assign_ctes("cp", "c0"),
        k=CLUSTER_K,
    )
)


def llm_zipf_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Head of the token frequency-of-frequencies spectrum."""
    return text_analysis.zipf_spectrum(_docs(spark, sf_dir))


ZIPF_SPECTRUM_SQL = f"""
WITH tk AS (SELECT unnest({_TOKS}) AS t FROM documents),
tf AS (SELECT t, count(*) AS f FROM tk GROUP BY t),
v AS (SELECT count(*) AS v FROM tf)
SELECT CAST(f AS BIGINT) AS f,
  CAST(count(*) AS BIGINT) AS n_tokens,
  round(CAST(count(*) AS DOUBLE) / CAST(v AS DOUBLE), 6) AS vocab_frac
FROM tf CROSS JOIN v
WHERE f <= {text_analysis.ZIPF_MAX_F}
GROUP BY f, v
"""


def _ivfpq_ctes(nq: int) -> str:
    """IVF+PQ residual (IVFADC) CTE chain: coarse assignment → exact
    double residuals → sub-codebooks derived RELATIONALLY from the
    residuals of vec_ids [n_centroids, n_centroids + n_codes) (the same
    rows the Spark operator collects as seeds) → per-(vector, own-cell)
    codes and per-(query, probed-cell) LUTs → cell-joined ADC → rank."""
    D = _PQ_D
    return f"""c0 AS (SELECT vec_id AS cen_id, embedding AS cv
           FROM embeddings WHERE vec_id < {_IVF_CENTROIDS}),
{_ivf_assign_ctes('vp', 'c0')},
resv AS (
  SELECT a.vec_id, a.cell,
    list_transform(range(1, {EMBED_DIM + 1}), i ->
      CAST(a.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) AS rv
  FROM avp a JOIN c0 c ON c.cen_id = a.cell
),
cbr AS (SELECT vec_id - {_IVF_CENTROIDS} AS c, rv
        FROM resv
        WHERE vec_id >= {_IVF_CENTROIDS}
          AND vec_id < {_IVF_CENTROIDS + _PQ_KS}),
ms AS (SELECT unnest(range({_PQ_M})) AS m),
subs AS (
  SELECT ms.m, cbr.c,
         list_transform(range(1, {D + 1}), i -> cbr.rv[ms.m * {D} + i])
           AS sv
  FROM ms CROSS JOIN cbr
),
dists AS (
  SELECT r.vec_id, r.cell, s.m, s.c,
    CAST(round(list_reduce(list_transform(range(1, {D + 1}),
      i -> (r.rv[s.m * {D} + i] - s.sv[i])
           * (r.rv[s.m * {D} + i] - s.sv[i])),
      (x, y) -> x + y), 6) AS DECIMAL(20,6)) AS dd
  FROM resv r CROSS JOIN subs s
),
codes AS (
  SELECT vec_id, cell, m, c AS code FROM (
    SELECT vec_id, cell, m, c, row_number() OVER (
      PARTITION BY vec_id, m ORDER BY dd ASC, c ASC) AS rn
    FROM dists)
  WHERE rn = 1
),
vprobes AS (SELECT vec_id AS query_id, embedding, cen_id AS cell
            FROM rvp WHERE vec_id < {nq} AND rk <= {_IVF_PROBE}),
qres AS (
  SELECT p.query_id, p.cell,
    list_transform(range(1, {EMBED_DIM + 1}), i ->
      CAST(p.embedding[i] AS DOUBLE) - CAST(c.cv[i] AS DOUBLE)) AS rv
  FROM vprobes p JOIN c0 c ON c.cen_id = p.cell
),
qd AS (
  SELECT q.query_id, q.cell, s.m, s.c,
    CAST(round(list_reduce(list_transform(range(1, {D + 1}),
      i -> (q.rv[s.m * {D} + i] - s.sv[i])
           * (q.rv[s.m * {D} + i] - s.sv[i])),
      (x, y) -> x + y), 6) AS DECIMAL(20,6)) AS dd
  FROM qres q CROSS JOIN subs s
),
vp_approx AS (
  SELECT qd.query_id, x.vec_id AS neighbor_id,
         CAST(sum(qd.dd) AS DOUBLE) AS adist
  FROM codes x JOIN qd
    ON qd.cell = x.cell AND qd.m = x.m AND qd.c = x.code
  WHERE x.vec_id <> qd.query_id
  GROUP BY qd.query_id, x.vec_id
),
vp_ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC) AS rank
  FROM vp_approx
)"""


def llm_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ residual (IVFADC) top-k over the raw corpus."""
    return similarity.ivfpq_topk(_emb(spark, sf_dir), n_queries=10)


IVFPQ_TOPK_SQL = f"""
WITH {_ivfpq_ctes(10)}
SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, adist
FROM vp_ranked WHERE rank <= 5
"""


def llm_ivfpq_recall_clustered(
    spark: SparkSession, sf_dir: str, _codebooks=None
) -> DataFrame:
    """IVF+PQ recall on the clustered corpus — the measured answer to
    plain PQ's within-cluster ranking floor (0.192 vs 0.084 at
    sf0.01): residual codes spend the bit budget on within-cell
    offsets instead of re-describing the cluster position.

    ``_codebooks`` lets the ADC/rerank LADDER collect the (identical
    by construction) IVF + PQ dictionaries once for both legs."""
    approx = similarity.ivfpq_topk(
        _clustered_emb(spark, sf_dir), n_queries=RECALL_QUERIES,
        codebooks=_codebooks,
    )
    return similarity._recall_rollup(
        _exact_panel(spark, sf_dir, clustered=True), approx
    )


IVFPQ_RECALL_CLUSTERED_SQL = _with_clustered_corpus(f"""
WITH {_ivfpq_ctes(RECALL_QUERIES)},
q2 AS (SELECT vec_id AS query_id, embedding AS qv
       FROM embeddings WHERE vec_id < {RECALL_QUERIES}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q2.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q2.query_id ORDER BY
             {_sql_cos('q2.qv', 'e.embedding')} DESC, e.vec_id ASC) AS rank
    FROM embeddings e, q2 WHERE e.vec_id <> q2.query_id
  ) WHERE rank <= 5
),
appr AS (SELECT query_id, neighbor_id FROM vp_ranked WHERE rank <= 5)
SELECT exact.query_id, count(*) AS n_exact,
  CAST(sum(CASE WHEN appr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS n_hit,
  round(CAST(sum(CASE WHEN appr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM exact LEFT JOIN appr
  ON exact.query_id = appr.query_id
 AND exact.neighbor_id = appr.neighbor_id
GROUP BY exact.query_id
""")


#: Re-rank candidate budget: ADC top-R fetched and exactly re-scored.
#: Measured ladder on the clustered corpus at sf0.01: plain PQ 0.084 →
#: IVFADC 0.192 → +rerank@20 0.516 → +rerank@50 0.876 (vs the 0.94
#: exact-IVF ceiling) — each stage buys recall with bounded extra work.
_RERANK = 50


def llm_ivfpq_rerank_recall(
    spark: SparkSession, sf_dir: str, _codebooks=None
) -> DataFrame:
    """Two-stage (ADC scan → exact re-rank of top-R) recall on the
    clustered corpus."""
    approx = similarity.ivfpq_rerank_topk(
        _clustered_emb(spark, sf_dir),
        n_queries=RECALL_QUERIES,
        rerank=_RERANK,
        codebooks=_codebooks,
    )
    return similarity._recall_rollup(
        _exact_panel(spark, sf_dir, clustered=True), approx
    )


IVFPQ_RERANK_RECALL_SQL = _with_clustered_corpus(f"""
WITH {_ivfpq_ctes(RECALL_QUERIES)},
cand AS (SELECT query_id, neighbor_id FROM vp_ranked
         WHERE rank <= {_RERANK}),
rr AS (
  SELECT c.query_id, c.neighbor_id,
         row_number() OVER (PARTITION BY c.query_id ORDER BY
           {_sql_cos('q.embedding', 'n.embedding')} DESC,
           c.neighbor_id ASC) AS rank
  FROM cand c
  JOIN embeddings q ON q.vec_id = c.query_id
  JOIN embeddings n ON n.vec_id = c.neighbor_id
),
appr AS (SELECT query_id, neighbor_id FROM rr WHERE rank <= 5),
q2 AS (SELECT vec_id AS query_id, embedding AS qv
       FROM embeddings WHERE vec_id < {RECALL_QUERIES}),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q2.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q2.query_id ORDER BY
             {_sql_cos('q2.qv', 'e.embedding')} DESC, e.vec_id ASC) AS rank
    FROM embeddings e, q2 WHERE e.vec_id <> q2.query_id
  ) WHERE rank <= 5
)
SELECT exact.query_id, count(*) AS n_exact,
  CAST(sum(CASE WHEN appr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS n_hit,
  round(CAST(sum(CASE WHEN appr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS recall
FROM exact LEFT JOIN appr
  ON exact.query_id = appr.query_id
 AND exact.neighbor_id = appr.neighbor_id
GROUP BY exact.query_id
""")


SEMANTIC_DEDUP_SQL = _with_clustered_corpus(f"""
WITH csd AS (SELECT vec_id AS cen_id, embedding AS cv
             FROM embeddings WHERE vec_id < {_IVF_CENTROIDS}),
{_ivf_assign_ctes('sd', 'csd')},
ccap AS (SELECT cell, count(*) AS cn FROM asd GROUP BY cell),
pr AS (
  SELECT x.vec_id AS ia, min(y.vec_id) AS dup_of
  FROM asd x JOIN asd y
    ON x.cell = y.cell AND x.vec_id > y.vec_id
  JOIN ccap ON ccap.cell = x.cell
  WHERE ccap.cn <= {SEM_CELL_CAP}
    AND {_sql_cos('x.embedding', 'y.embedding')} >= {SEMANTIC_DEDUP_T}
  GROUP BY x.vec_id)
SELECT a.vec_id, a.cell,
  CAST(CASE WHEN p.dup_of IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep,
  CAST(coalesce(p.dup_of, -1) AS BIGINT) AS dup_of
FROM asd a LEFT JOIN pr p ON p.ia = a.vec_id
""")


SEMANTIC_CELL_STATS_SQL = _with_clustered_corpus(f"""
WITH csd AS (SELECT vec_id AS cen_id, embedding AS cv
             FROM embeddings WHERE vec_id < {_IVF_CENTROIDS}),
{_ivf_assign_ctes('sd', 'csd')},
pc AS (SELECT cell, count(*) AS _n FROM asd GROUP BY cell)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
  CAST(sum(CASE WHEN _n > {SEM_STATS_CAP} THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dropped_cells,
  CAST(sum(CASE WHEN _n > {SEM_STATS_CAP} THEN _n ELSE 0 END) AS BIGINT)
    AS n_docs_dropped,
  CAST(max(_n) AS BIGINT) AS max_cell
FROM pc
""")


# ---------------------------------------------------------------------------
# Registry-consolidation composites (r14): several recall/serve ladders
# share one fixture and one rollup schema, so each pair verifies through
# ONE registry row — a `leg` column labels the branches, the oracle is
# the union of the legs' SQL, and BOTH machines still run end-to-end on
# every verification.  The leaf functions above remain the callable API
# (and the unit/plan tests pin them individually); consolidation brings
# the registry back under the driver window's 3-round staleness bound.
# ---------------------------------------------------------------------------


def _legs_sql(legs: "list[tuple[str, str]]") -> str:
    """UNION ALL of full oracle statements, each labeled with its leg
    (DuckDB accepts a WITH-headed statement inside the subquery)."""
    return "\nUNION ALL\n".join(
        f"SELECT '{name}' AS leg, t.* FROM (\n{sql}\n) t"
        for name, sql in legs
    )


def _legged(name: str, df: DataFrame) -> DataFrame:
    return df.withColumn("leg", F.lit(name))


def llm_ivf_recall_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-codebook AND trained-codebook IVF recall on the uniform
    corpus as one row (legs 'seed'/'trained') — the Lloyd's-fit
    regression signal of the old ``llm_ivf_trained_recall`` row rides
    the same verification.  The seed codebook (identical in both legs
    by construction) is collected ONCE and shared; the exact panel is
    pre-warmed before the legs build so the memoized fixture is not
    raced."""
    _exact_panel(spark, sf_dir, clustered=False)
    seed = similarity.seed_cents(_emb(spark, sf_dir))
    s, t = par_legs(
        spark,
        lambda: llm_ivf_recall(spark, sf_dir, _seed=seed),
        lambda: llm_ivf_trained_recall(spark, sf_dir, _seed=seed),
    )
    return _legged("seed", s).unionByName(_legged("trained", t))


def llm_ivf_recall_clustered_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seed + trained IVF recall on the CLUSTERED corpus (legs
    'seed'/'trained') — absorbs ``llm_ivf_trained_recall_clustered``.
    Shares one seed-codebook collect across the legs, like
    ``llm_ivf_recall_ladder``."""
    _exact_panel(spark, sf_dir, clustered=True)
    seed = similarity.seed_cents(_clustered_emb(spark, sf_dir))
    s, t = par_legs(
        spark,
        lambda: llm_ivf_recall_clustered(spark, sf_dir, _seed=seed),
        lambda: llm_ivf_trained_recall_clustered(
            spark, sf_dir, _seed=seed
        ),
    )
    return _legged("seed", s).unionByName(_legged("trained", t))


def llm_pq_recall_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC recall on the uniform AND clustered corpora (legs
    'uniform'/'clustered') — absorbs ``llm_pq_recall_clustered``.
    The legs read different corpora (no shareable codebook), so they
    only build concurrently."""
    _exact_panel(spark, sf_dir, clustered=False)
    _exact_panel(spark, sf_dir, clustered=True)
    u, c = par_legs(
        spark,
        lambda: llm_pq_recall(spark, sf_dir),
        lambda: llm_pq_recall_clustered(spark, sf_dir),
    )
    return _legged("uniform", u).unionByName(_legged("clustered", c))


def llm_ivfpq_recall_ladder(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVFADC recall plus the two-stage exact-re-rank recall on the
    clustered corpus (legs 'adc'/'rerank') — absorbs
    ``llm_ivfpq_rerank_recall``; the measured ladder (0.192 ADC →
    0.876 rerank@50 at sf0.01) verifies in one row.  Both legs serve
    from the SAME IVF+PQ dictionaries, so the codebook collect pair
    runs once instead of once per leg."""
    _exact_panel(spark, sf_dir, clustered=True)
    codebooks = similarity.ivfpq_codebooks(_clustered_emb(spark, sf_dir))
    a, r = par_legs(
        spark,
        lambda: llm_ivfpq_recall_clustered(
            spark, sf_dir, _codebooks=codebooks
        ),
        lambda: llm_ivfpq_rerank_recall(
            spark, sf_dir, _codebooks=codebooks
        ),
    )
    return _legged("adc", a).unionByName(_legged("rerank", r))


def llm_ivf_trained_topk_served(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inline trained-IVF serve AND the persisted-index
    (partition-pruned) serve as one row (legs 'inline'/'index') — the
    two paths are bit-equal by contract and shared one oracle already;
    absorbs ``llm_ivf_index_topk``.  The index scan's partition-prune
    plan shape stays pinned by tests/test_plan_shapes.py.  The index
    is built (or found memoized) BEFORE the legs construct in
    parallel, so the build-once fixture is not raced."""
    from .sink_parity import _workdir

    emb = _emb(spark, sf_dir)
    if sf_dir not in _ivf_index_cache:
        path = _workdir("ivf_index")
        similarity.write_ivf_index(emb, path, n_iters=IVF_TRAIN_ITERS)
        _ivf_index_cache[sf_dir] = path
    inline, index = par_legs(
        spark,
        lambda: llm_ivf_trained_topk(spark, sf_dir),
        lambda: llm_ivf_index_topk(spark, sf_dir),
    )
    return _legged("inline", inline).unionByName(_legged("index", index))


IVF_RECALL_LADDER_SQL = _legs_sql(
    [("seed", IVF_RECALL_SQL), ("trained", IVF_TRAINED_RECALL_SQL)]
)
IVF_RECALL_CLUSTERED_LADDER_SQL = _legs_sql(
    [
        ("seed", _with_clustered_corpus(IVF_RECALL_SQL)),
        ("trained", _with_clustered_corpus(IVF_TRAINED_RECALL_SQL)),
    ]
)
PQ_RECALL_LADDER_SQL = _legs_sql(
    [
        ("uniform", PQ_RECALL_SQL),
        ("clustered", _with_clustered_corpus(PQ_RECALL_SQL)),
    ]
)
IVFPQ_RECALL_LADDER_SQL = _legs_sql(
    [
        ("adc", IVFPQ_RECALL_CLUSTERED_SQL),
        ("rerank", IVFPQ_RERANK_RECALL_SQL),
    ]
)
IVF_TRAINED_TOPK_SERVED_SQL = _legs_sql(
    [("inline", IVF_TRAINED_TOPK_SQL), ("index", IVF_TRAINED_TOPK_SQL)]
)


QUERIES = {
    "llm_exact_dup_groups": llm_exact_dup_groups,
    "llm_near_dup_pairs": llm_near_dup_pairs,
    "llm_ingest_dedup": llm_ingest_dedup,
    "llm_ngram_jaccard": llm_ngram_jaccard,
    "llm_edit_distance_pairs": llm_edit_distance_pairs,
    "llm_simhash_buckets": llm_simhash_buckets,
    "llm_text_profile": llm_text_profile,
    "llm_corpus_stats": llm_corpus_stats,
    "llm_winnow_fingerprints": llm_winnow_fingerprints,
    "llm_lang_confusion": llm_lang_confusion,
    "llm_media_rollup": llm_media_rollup,
    "llm_cosine_topk": llm_cosine_topk,
    "llm_ann_topk": llm_ann_topk,
    "llm_ivf_topk": llm_ivf_topk,
    "llm_embedding_near_dups": llm_embedding_near_dups,
    "llm_banded_near_dups": llm_banded_near_dups,
    "llm_media_decode": llm_media_decode,
    "llm_media_codec_rollup": llm_media_codec_rollup,
    "llm_media_png_rollup": llm_media_png_rollup,
    "llm_media_mp4_rollup": llm_media_mp4_rollup,
    "llm_media_thumbs": llm_media_thumbs,
    "llm_media_frames": llm_media_frames,
    "llm_minhash_calibration": llm_minhash_calibration,
    "llm_weighted_sample": llm_weighted_sample,
    "llm_shard_stability": llm_shard_stability,
    "llm_dsir_selection": llm_dsir_selection,
    "llm_ann_recall": llm_ann_recall,
    "llm_train_shards": llm_train_shards,
    "llm_quality_sample": llm_quality_sample,
    "llm_repetition_profile": llm_repetition_profile,
    "llm_dedup_components": llm_dedup_components,
    "llm_component_exemplars": llm_component_exemplars,
    "llm_decontamination": llm_decontamination,
    "llm_bloom_decontamination": llm_bloom_decontamination,
    "llm_pii_profile": llm_pii_profile,
    "llm_length_quantiles": llm_length_quantiles,
    "llm_ivf_train": llm_ivf_train,
    "llm_seq_packing": llm_seq_packing,
    "llm_ivf_recall": llm_ivf_recall_ladder,
    "llm_simhash_near_dups": llm_simhash_near_dups,
    "llm_simhash_band_stats": llm_simhash_band_stats,
    "llm_unigram_logprob": llm_unigram_logprob,
    "llm_top_ngrams": llm_top_ngrams,
    "llm_doc_chunks": llm_doc_chunks,
    "llm_chunk_dedup": llm_chunk_dedup,
    "llm_dup_spans": llm_dup_spans,
    "llm_tfidf_top_terms": llm_tfidf_top_terms,
    "llm_pq_topk": llm_pq_topk,
    "llm_snapshot_diff": llm_snapshot_diff,
    "llm_pq_recall": llm_pq_recall_ladder,
    "llm_pq_trained_topk": llm_pq_trained_topk,
    "llm_quality_classifier": llm_quality_classifier,
    "llm_hashed_tf_vectors": llm_hashed_tf_vectors,
    "llm_bigram_logprob": llm_bigram_logprob,
    "llm_source_quality_gate": llm_source_quality_gate,
    "llm_sketch_profile": llm_sketch_profile,
    "llm_sketch_accuracy": llm_sketch_accuracy,
    "llm_cms_heavy_hitters": llm_cms_heavy_hitters,
    "llm_ivf_trained_topk": llm_ivf_trained_topk_served,
    "llm_ivf_recall_clustered": llm_ivf_recall_clustered_ladder,
    "llm_semantic_dedup": llm_semantic_dedup,
    "llm_semantic_cell_stats": llm_semantic_cell_stats,
    "llm_split_manifest": llm_split_manifest,
    "llm_split_leakage": llm_split_leakage,
    "llm_cell_purity_clustered": llm_cell_purity_clustered,
    "llm_zipf_spectrum": llm_zipf_spectrum,
    "llm_ivfpq_topk": llm_ivfpq_topk,
    "llm_ivfpq_recall_clustered": llm_ivfpq_recall_ladder,
    "llm_cross_source_dups": llm_cross_source_dups,
    "llm_source_mixture": llm_source_mixture,
}

ORACLES = {
    "llm_exact_dup_groups": EXACT_DUP_GROUPS_SQL,
    "llm_near_dup_pairs": NEAR_DUP_PAIRS_SQL,
    "llm_ingest_dedup": _ingest_dedup_sql(0.5),
    "llm_ngram_jaccard": _near_dup_sql(0.0),
    "llm_edit_distance_pairs": EDIT_DISTANCE_PAIRS_SQL,
    "llm_simhash_buckets": SIMHASH_BUCKETS_SQL,
    "llm_text_profile": TEXT_PROFILE_SQL,
    "llm_corpus_stats": CORPUS_STATS_SQL,
    "llm_winnow_fingerprints": WINNOW_FINGERPRINTS_SQL,
    "llm_lang_confusion": LANG_CONFUSION_SQL,
    "llm_media_rollup": MEDIA_ROLLUP_SQL,
    "llm_cosine_topk": COSINE_TOPK_SQL,
    "llm_ann_topk": ANN_TOPK_SQL,
    "llm_ivf_topk": IVF_TOPK_SQL,
    "llm_embedding_near_dups": EMBEDDING_NEAR_DUPS_SQL,
    "llm_banded_near_dups": BANDED_NEAR_DUPS_SQL,
    "llm_media_decode": MEDIA_DECODE_SQL,
    "llm_media_codec_rollup": MEDIA_CODEC_ROLLUP_SQL,
    "llm_media_png_rollup": MEDIA_PNG_ROLLUP_SQL,
    "llm_media_mp4_rollup": MEDIA_MP4_ROLLUP_SQL,
    "llm_media_thumbs": MEDIA_THUMBS_SQL,
    "llm_media_frames": MEDIA_FRAMES_SQL,
    "llm_minhash_calibration": MINHASH_CALIBRATION_SQL,
    "llm_weighted_sample": WEIGHTED_SAMPLE_SQL,
    "llm_shard_stability": SHARD_STABILITY_SQL,
    "llm_dsir_selection": DSIR_SELECTION_SQL,
    "llm_ann_recall": ANN_RECALL_SQL,
    "llm_train_shards": TRAIN_SHARDS_SQL,
    "llm_quality_sample": QUALITY_SAMPLE_SQL,
    "llm_repetition_profile": REPETITION_PROFILE_SQL,
    "llm_dedup_components": DEDUP_COMPONENTS_SQL,
    "llm_component_exemplars": COMPONENT_EXEMPLARS_SQL,
    "llm_decontamination": DECONTAMINATION_SQL,
    "llm_bloom_decontamination": DECONTAMINATION_SQL,
    "llm_pii_profile": PII_PROFILE_SQL,
    "llm_length_quantiles": LENGTH_QUANTILES_SQL,
    "llm_ivf_train": IVF_TRAIN_SQL,
    "llm_seq_packing": SEQ_PACKING_SQL,
    "llm_ivf_recall": IVF_RECALL_LADDER_SQL,
    "llm_simhash_near_dups": SIMHASH_NEAR_DUPS_SQL,
    "llm_simhash_band_stats": SIMHASH_BAND_STATS_SQL,
    "llm_unigram_logprob": UNIGRAM_LOGPROB_SQL,
    "llm_top_ngrams": TOP_NGRAMS_SQL,
    "llm_doc_chunks": DOC_CHUNKS_SQL,
    "llm_chunk_dedup": CHUNK_DEDUP_SQL,
    "llm_dup_spans": DUP_SPANS_SQL,
    "llm_tfidf_top_terms": TFIDF_TOP_TERMS_SQL,
    "llm_pq_topk": PQ_TOPK_SQL,
    "llm_snapshot_diff": SNAPSHOT_DIFF_SQL,
    "llm_pq_recall": PQ_RECALL_LADDER_SQL,
    "llm_pq_trained_topk": PQ_TRAINED_TOPK_SQL,
    "llm_quality_classifier": QUALITY_CLASSIFIER_SQL,
    "llm_hashed_tf_vectors": HASHED_TF_SQL,
    "llm_bigram_logprob": BIGRAM_LOGPROB_SQL,
    "llm_source_quality_gate": SOURCE_QUALITY_GATE_SQL,
    "llm_sketch_accuracy": SKETCH_ACCURACY_SQL,
    "llm_cms_heavy_hitters": CMS_HEAVY_HITTERS_SQL,
    "llm_ivf_trained_topk": IVF_TRAINED_TOPK_SERVED_SQL,
    "llm_ivf_recall_clustered": IVF_RECALL_CLUSTERED_LADDER_SQL,
    "llm_semantic_dedup": SEMANTIC_DEDUP_SQL,
    "llm_semantic_cell_stats": SEMANTIC_CELL_STATS_SQL,
    "llm_split_manifest": SPLIT_MANIFEST_SQL,
    "llm_split_leakage": SPLIT_LEAKAGE_SQL,
    "llm_cell_purity_clustered": CELL_PURITY_CLUSTERED_SQL,
    "llm_zipf_spectrum": ZIPF_SPECTRUM_SQL,
    "llm_ivfpq_topk": IVFPQ_TOPK_SQL,
    "llm_ivfpq_recall_clustered": IVFPQ_RECALL_LADDER_SQL,
    "llm_cross_source_dups": CROSS_SOURCE_DUPS_SQL,
    "llm_source_mixture": SOURCE_MIXTURE_SQL,
}

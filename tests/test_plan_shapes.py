"""Physical-plan regression tests — the scale properties the engine
claims (SURVEY §4) pinned as assertions, so a refactor that silently
reintroduces a shuffle, loses a broadcast, drops partition pruning, or
pushes Python into a hot path fails CI rather than a 100 TB run.

Plans are captured from ``df.explain(...)`` output (the user-facing
surface); AQE leaves the initial plan visible under AdaptiveSparkPlan,
which is what these assertions read.
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest
from pyspark.sql import functions as F

from evmtrace_etl_spark.operators import similarity, text_analysis
from evmtrace_etl_spark.operators.enrichment import enrich_blocks
from evmtrace_etl_spark.sinks import LakeUpsertSink
from evmtrace_etl_spark.sources import fixtures

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_SMALL", "/root/testdata/sf0.001")


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def test_ivf_assignment_is_shuffle_free(emb):
    """VERDICT r2 'what's wrong #4' done-criterion: centroid assignment
    never shuffles the corpus — no shuffle Exchange, no Window.  Since
    r15 the codebook arrives as a BROADCAST one-row table (a
    BroadcastExchange + one-row-scalar BNLJ, the house idiom) instead
    of kilo-literal inlined arrays, so the only Exchange allowed is the
    broadcast one."""
    cents = sorted(
        (r[0], r[1])
        for r in emb.filter(F.col("vec_id") < 16)
        .select("vec_id", "embedding")
        .collect()
    )
    plan = plan_of(similarity.ivf_assignments(emb, cents))
    # the codebook must arrive broadcast...
    assert "BroadcastExchange" in plan
    # ...and nothing else may exchange (a shuffle of the corpus here
    # would sink the 100 TB assignment pass)
    assert "Exchange" not in plan.replace("BroadcastExchange", ""), plan
    assert "Window" not in plan
    # and the math stayed JVM-side
    assert "EvalPython" not in plan


def test_pq_codebooks_arrive_broadcast(emb):
    """r15 (VERDICT r14 ask #1): the PQ sub-codebooks reach the serve
    plan as a broadcast one-row table, never as inlined literal
    arrays — the plan must carry a BroadcastExchange and the distance
    transform, and must NOT embed the codebook's doubles (a kilo-
    literal plan re-ships the codebook in every task binary and
    defeats the codegen cache across legs)."""
    plan = plan_of(similarity.pq_topk(emb))
    assert "BroadcastExchange" in plan
    # the seed codebook's doubles must not be plan literals: the first
    # corpus vector (vec_id 0) IS seed centroid 0, so any inlined
    # sub-codebook would print its components in the plan text
    row0 = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    assert f"{float(row0[0][0])!r}" not in plan


def test_lsh_topk_broadcasts_queries(emb):
    """The ANN probe side is tiny and must broadcast: candidate
    generation is a BroadcastHashJoin on the bucket key, never a
    shuffled join of the full table."""
    plan = plan_of(similarity.lsh_topk(emb))
    assert "BroadcastHashJoin" in plan
    # the big side is never exchanged for the join: the only Exchange
    # allowed downstream is the final top-k window's hashpartitioning
    assert "SortMergeJoin" not in plan


def test_brute_force_topk_broadcasts_queries(emb):
    plan = plan_of(similarity.brute_force_topk(emb))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_text_hot_paths_stay_jvm_side(docs):
    """doc_profile / winnow_fingerprints are whole-stage-codegen
    territory: no row-at-a-time or Arrow Python evaluation anywhere."""
    for df in (
        text_analysis.doc_profile(docs),
        text_analysis.winnow_fingerprints(docs),
    ):
        plan = plan_of(df)
        assert "EvalPython" not in plan  # Batch- and Arrow- variants


def test_unigram_vocab_topk_is_distributed(docs):
    """The vocabulary cut in unigram_logprob_scores must plan as
    TakeOrderedAndProject (per-partition top-k + driver merge of k
    rows), never as a row_number over a global un-partitioned Window —
    the latter funnels the whole corpus vocabulary through one task."""
    plan = plan_of(text_analysis.unigram_logprob_scores(docs), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_top_ngrams_topk_is_distributed(docs):
    """top_ngrams must cut with TakeOrderedAndProject (the corpus n-gram
    table is never globally sorted) and must NOT plan an Expand — n_docs
    comes from pre-distinct (ngram, doc) rows, not count_distinct."""
    plan = plan_of(text_analysis.top_ngrams(docs), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Expand" not in plan


def test_chunk_docs_is_shuffle_free(docs):
    """chunk_docs is a pure narrow 1→N projection (tokenize → sequence →
    explode → slice): zero Exchanges, pipelines over the scan."""
    from evmtrace_etl_spark.operators import sampling

    plan = plan_of(sampling.chunk_docs(docs), "simple")
    assert plan.count("Exchange") == 0


def test_chunk_dedup_has_no_expand(docs):
    """chunk_dup_groups derives n_docs from pre-distinct (fp, doc) rows
    — a count_distinct would plan an Expand that doubles the shuffle."""
    from evmtrace_etl_spark.operators import sampling

    plan = plan_of(sampling.chunk_dup_groups(docs), "simple")
    assert "Expand" not in plan


def test_winnow_is_shuffle_free(docs):
    """Winnowing is per-doc array math end-to-end: zero Exchanges, so it
    pipelines over the scan with no shuffle/sort/aggregation state."""
    plan = plan_of(text_analysis.winnow_fingerprints(docs), "simple")
    assert plan.count("Exchange") == 0


def test_repetition_profile_shuffle_free(docs):
    """Repetition profile is per-doc array math end-to-end: zero
    Exchanges (like winnowing), no window, no self-join, no Python."""
    plan = plan_of(text_analysis.repetition_profile(docs), "simple")
    assert plan.count("Exchange") == 0
    assert "Window" not in plan
    assert "Join" not in plan
    assert "EvalPython" not in plan


def test_pii_profile_shuffle_free(docs):
    """PII counting is a pure narrow projection over the scan."""
    plan = plan_of(text_analysis.pii_profile(docs), "simple")
    assert plan.count("Exchange") == 0
    assert "EvalPython" not in plan


def test_length_quantiles_single_exchange(docs):
    """Exact percentiles partial-aggregate map-side: one Exchange keyed
    by source, HashAggregate/ObjectHashAggregate below and above it."""
    plan = plan_of(text_analysis.length_quantiles(docs), "simple")
    assert plan.count("Exchange") == 1


def test_zk_derivation_exchange_ceiling(spark):
    """The zk derivation is one per-transaction grouped pass: standalone
    transactions plan exactly one Exchange (the groupBy on chain_id,
    transaction_hash), and deduped contracts add only the D2 keep-first
    window's."""
    from evmtrace_etl_spark.plans.pipeline import (
        zk_contracts_deduped,
        zk_transactions,
    )

    traces = fixtures.traces_df(spark)
    # simple mode prints each node once (formatted repeats them in the
    # details section, which would double the count)
    assert plan_of(zk_transactions(traces), "simple").count("Exchange") == 1
    assert (
        plan_of(zk_contracts_deduped(traces), "simple").count("Exchange") <= 2
    )


def test_enrichment_join_broadcasts_blocks(spark):
    """J6: the per-batch block-detail dimension is small and must
    broadcast against the head side."""
    from evmtrace_etl_spark.plans.pipeline import blocks_passthrough

    blocks = blocks_passthrough(fixtures.blocks_df(spark))
    heads = blocks.withColumn(
        "transaction_count", F.lit(None).cast("int")
    )
    plan = plan_of(enrich_blocks(heads, blocks))
    assert "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_sink_read_prunes_partitions(spark, tmp_path):
    """The hive-partitioned sink layout actually yields partition
    pruning: a chain_id predicate lands in PartitionFilters, so a merge
    over 1 of N chains scans 1 of N directories.  The read keeps the
    stored column order (the partition column is not moved last)."""
    sink = LakeUpsertSink(str(tmp_path / "sink"))
    df = spark.range(8).select(
        (F.col("id") % 4).alias("chain_id"), F.col("id").alias("number")
    )
    sink.upsert(df, "blocks", ["chain_id", "number"], mode="update")
    table = sink.read(spark, "blocks")
    assert table.columns == ["chain_id", "number"]
    read = table.filter(F.col("chain_id") == 1)
    plan = plan_of(read)
    assert "PartitionFilters" in plan
    # the predicate must appear inside PartitionFilters, not only as a
    # post-scan Filter
    pf_line = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    assert "chain_id" in pf_line


def test_bucketed_table_joins_without_exchange(spark, docs):
    """write_bucketed pays the shuffle at write time: a later self-join
    and a groupBy on the bucket key plan with ZERO Exchanges."""
    from evmtrace_etl_spark.sinks import write_bucketed

    write_bucketed(docs.select("doc_id", "source"), "bucketed_docs_t")
    try:
        t1 = spark.table("bucketed_docs_t")
        t2 = spark.table("bucketed_docs_t")
        join_plan = plan_of(
            t1.hint("merge").join(t2, on="doc_id"), "simple"
        )
        assert "Exchange" not in join_plan
        assert "SortMergeJoin" in join_plan
        agg_plan = plan_of(
            t1.groupBy("doc_id").agg(F.count(F.lit(1))), "simple"
        )
        assert "Exchange" not in agg_plan
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_docs_t")


def test_pivot_with_declared_values_needs_no_inference_job(spark):
    """pivot(values=...) with the list declared: the declared values are
    baked into the pivotfirst plan node (no eager distinct job ran to
    discover them before planning), and the shape is exactly the two
    map-side-combined aggregates pivot compiles to — (user, type)
    counts, then per-user pivotfirst — with no Python eval."""
    from evmtrace_etl_spark.plans.inventory import user_event_pivot

    plan = plan_of(user_event_pivot(spark, SF_DIR), "simple")
    assert "pivotfirst" in plan and "click" in plan  # values are literals
    assert plan.count("Exchange") == 2
    assert "EvalPython" not in plan


def test_rollup_plans_expand_by_design(spark):
    """ROLLUP grouping sets legitimately Expand each row into its
    grouping sets — pinned so the one sanctioned Expand stays put while
    accidental (count_distinct) Expands stay banned elsewhere."""
    from evmtrace_etl_spark.plans.inventory import revenue_rollup

    plan = plan_of(revenue_rollup(spark, SF_DIR), "simple")
    assert "Expand" in plan


def test_props_json_extraction_stays_jvm_side(spark):
    """from_json is a JVM projection — no Python eval, one Exchange."""
    from evmtrace_etl_spark.plans.inventory import props_json_stats

    plan = plan_of(props_json_stats(spark, SF_DIR), "simple")
    assert "EvalPython" not in plan
    assert plan.count("Exchange") == 1


def test_dedup_components_pointer_jumping_is_logarithmic(spark):
    """A 128-vertex chain (diameter 127) must converge in
    ceil(log2(d)) + 1 rounds (the +1 is the fixed-point detection
    round).  Linear min-propagation would need ~127 rounds — this pin
    fails fast if an edit silently drops the label-of-label self-join
    that squares the propagation distance each round."""
    from evmtrace_etl_spark.operators import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(127)], "doc_a long, doc_b long"
    )
    out = dedup.connected_components(pairs).collect()
    assert len(out) == 128
    assert {r.component_id for r in out} == {0}
    assert dedup.LAST_CC_ROUNDS <= 8  # ceil(log2(127)) + 1


def test_asof_join_has_no_join_operator(spark):
    """The backward as-of join must compile to the union-tag merge
    (Exchange + Sort + Window), never to an inequality join — Catalyst
    plans ``r.t <= l.t`` joins as BroadcastNestedLoop or a per-key
    rescan, both of which collapse at scale."""
    from evmtrace_etl_spark.plans.inventory import asof_attribution

    plan = plan_of(asof_attribution(spark, SF_DIR), "simple")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_interval_join_is_bucketed_equi_join(spark):
    """The range join must meet on (key, time-bucket) as a real
    equi-join; a BroadcastNestedLoopJoin or CartesianProduct here means
    the containment predicate leaked out of the join keys."""
    from evmtrace_etl_spark.plans.inventory import session_range_join

    plan = plan_of(session_range_join(spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_dup_span_profile_shape(docs):
    """Substring-dup coverage must never shuffle gram STRINGS or plan a
    nested loop: grams hash to 64 bits in the narrow projection, both
    aggregates partial map-side, and the gram-stats join is a real
    equi-join on the hash."""
    from evmtrace_etl_spark.operators.dedup import dup_span_profile

    plan = plan_of(dup_span_profile(docs), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan
    assert "xxhash64" in plan  # hashed before any Exchange


def test_tfidf_corpus_size_is_broadcast_scalar(docs):
    """The corpus size joins in as a broadcast one-row aggregate, never
    a driver-side literal (no action at plan-build time) and never a
    shuffled join; the per-source cut is a bounded window, not a
    global sort."""
    from evmtrace_etl_spark.operators.text_analysis import tfidf_top_terms

    plan = plan_of(tfidf_top_terms(docs), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "GlobalLimit" not in plan  # top-k per group is window-bounded


def test_snapshot_diff_is_single_full_outer_join(docs):
    """Fingerprints project in the narrow stage (content never
    shuffles); the classification is ONE full-outer equi-join."""
    from evmtrace_etl_spark.operators.dedup import snapshot_diff
    from pyspark.sql import functions as F

    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 3 != 0)
    plan = plan_of(snapshot_diff(old, new), "simple")
    assert plan.count("Join") == 1
    assert "FullOuter" in plan
    assert "EvalPython" not in plan


def test_bigram_logprob_derives_pairs_narrow(docs):
    """Bigram pairs come from zip_with over the token array — no
    posexplode+window shuffle of the raw token stream."""
    from evmtrace_etl_spark.operators.text_analysis import (
        bigram_logprob_scores,
    )

    plan = plan_of(bigram_logprob_scores(docs), "simple")
    assert "Window" not in plan
    assert "EvalPython" not in plan


def test_funnel_stage_joins_never_nested_loop(spark):
    """Each funnel stage chains by user-keyed equi-join — no
    BroadcastNestedLoop from the running-constraint filter."""
    from evmtrace_etl_spark.plans.inventory import funnel_stages

    plan = plan_of(funnel_stages(spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_value_outliers_threshold_broadcasts(spark):
    """The per-type p99 table joins back as a broadcast — the event
    stream itself never shuffles."""
    from evmtrace_etl_spark.plans.inventory import value_outliers

    plan = plan_of(value_outliers(spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scd2_reuses_one_user_partitioning(spark):
    """Both windows and the island aggregate run on the SAME user_id
    hash partitioning: exactly one exchange in the whole plan."""
    from evmtrace_etl_spark.plans.inventory import scd2_user_state

    plan = plan_of(scd2_user_state(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_window_single_exchange(spark):
    """The 7-day RANGE rollup is one user-keyed window: one exchange,
    no joins."""
    from evmtrace_etl_spark.plans.inventory import user_value_7d

    plan = plan_of(user_value_7d(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_ewma_is_one_hash_aggregate_jvm_side(spark):
    """The recursive fold runs inside the aggregate HOF — one keyed
    aggregate, no window, no Python evaluation in the plan."""
    from evmtrace_etl_spark.plans.inventory import user_value_ewma

    plan = plan_of(user_value_ewma(spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_pagerank_query_never_goes_cartesian(spark):
    """Every per-round join is an equi-join (hash or sort-merge); the
    only nested-loop is the sanctioned 1-row scalar-N broadcast."""
    from evmtrace_etl_spark.plans.inventory import trade_pagerank

    plan = plan_of(trade_pagerank(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan


def test_basket_rules_no_nested_loop(spark):
    """The singles joins are UNHINTED equi-joins (the part dimension
    is unbounded at scale — forcing a broadcast there would pin an
    OOM; AQE picks the small side at runtime).  Pin only what must
    hold at any scale: every multi-row join is a hash/sort-merge
    equi-join; the single nested-loop is the sanctioned 1-row
    n_orders scalar broadcast."""
    from evmtrace_etl_spark.plans.inventory import basket_rules

    plan = plan_of(basket_rules(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_event_transitions_totals_broadcast(spark):
    """The per-from_type totals join back broadcast; only the lead
    window shuffles the events."""
    from evmtrace_etl_spark.plans.inventory import event_transitions

    plan = plan_of(event_transitions(spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_dedup_confined_to_cells(spark):
    """The quadratic cosine work is confined by the cell equi-join:
    no cartesian, no nested loop, and the codebook assignment stays an
    inlined projection (no extra shuffle for the argmax).  The cell-cap
    guard must NOT use a cell-keyed Window count — that would funnel a
    degenerate mega-cell's rows through one WindowExec task before the
    filter discards them; the ≤ n_centroids-row groupBy count joins
    back broadcast instead, so over-cap cells are filtered map-side."""
    from evmtrace_etl_spark.plans.llm_data import llm_semantic_dedup

    plan = plan_of(llm_semantic_dedup(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_media_codec_rollup_narrow_until_rollup(spark):
    """Real-codec media pipeline: synthesize → struct-decode are
    chained narrow mapInPandas stages (no shuffle between them); the
    only Exchange is the 3-group rollup, and there are no joins."""
    from evmtrace_etl_spark.plans.llm_data import llm_media_codec_rollup

    plan = plan_of(llm_media_codec_rollup(spark, SF_DIR), "simple")
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_media_mp4_rollup_narrow_until_rollup(spark):
    """MP4 demux pipeline: synthesize → box-walk are chained narrow
    mapInPandas stages (no shuffle between them); the only Exchange is
    the single-group rollup, and there are no joins."""
    from evmtrace_etl_spark.plans.llm_data import llm_media_mp4_rollup

    plan = plan_of(llm_media_mp4_rollup(spark, SF_DIR), "simple")
    assert "Join" not in plan
    assert plan.count("Exchange") == 1


def test_dsir_one_corpus_pass_broadcast_model(spark):
    """DSIR selection: the corpus is tokenized ONCE (the doc×bucket
    histogram is materialized and both the model build and the scoring
    pass read it back — no parquet scan may remain in the query plan);
    the ≤ dim-row model joins back broadcast; the k-cut is a
    TakeOrderedAndProject; the only Window is over the dim-row count
    table, never anything corpus-sized."""
    from evmtrace_etl_spark.plans.llm_data import llm_dsir_selection

    plan = plan_of(llm_dsir_selection(spark, SF_DIR), "simple")
    assert "Scan parquet" not in plan  # materialized hist, re-read only
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_media_transforms_fully_narrow(spark):
    """Real resize and frame sampling are synth → decode → transform
    chains of mapInPandas stages with per-item output: ZERO shuffles,
    zero joins — the shape that scales to any corpus size."""
    from evmtrace_etl_spark.plans.llm_data import (
        llm_media_frames,
        llm_media_thumbs,
    )

    for q in (llm_media_thumbs, llm_media_frames):
        plan = plan_of(q(spark, SF_DIR), "simple")
        assert "Exchange" not in plan
        assert "Join" not in plan


def test_cms_counters_broadcast_and_topk_cut(spark):
    """CMS heavy hitters: ONE corpus pass (the materialized per-token
    count table feeds both the counter build and the candidate cut —
    no parquet scan may remain in the query plan), the ≤ depth×width
    counter table joins back BROADCAST, the exact candidate cut is a
    TakeOrderedAndProject, and there is no cartesian/nested-loop
    anywhere."""
    from evmtrace_etl_spark.plans.llm_data import llm_cms_heavy_hitters

    plan = plan_of(llm_cms_heavy_hitters(spark, SF_DIR), "simple")
    assert "Scan parquet" not in plan  # materialized counts, re-read only
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_index_serve_prunes_to_probed_cells(spark):
    """Persisted-index serve: the vectors scan must carry a non-empty
    PartitionFilters on cell — only the probed cells' files are read
    (serve cost O(probed cells), not O(corpus)) — and the serve answer
    must be bit-equal to the inline trained path it shares an oracle
    with."""
    from evmtrace_etl_spark.operators import similarity
    from evmtrace_etl_spark.plans.llm_data import (
        IVF_TRAIN_ITERS,
        llm_ivf_index_topk,
        llm_ivf_trained_topk,
    )

    served = llm_ivf_index_topk(spark, SF_DIR)
    plan = plan_of(served, "simple")
    # (the query-side embeddings scan is unpartitioned and shows an
    # empty PartitionFilters — the pin is on the INDEX scan)
    assert "PartitionFilters: [cell" in plan
    got = sorted(map(tuple, served.collect()))
    want = sorted(map(tuple, llm_ivf_trained_topk(spark, SF_DIR).collect()))
    assert got == want


def test_shard_stability_no_joins(spark):
    """Rendezvous stability: one narrow projection (both assignments
    computed per row) + a grouped rollup — zero joins, no Window."""
    from evmtrace_etl_spark.plans.llm_data import llm_shard_stability

    plan = plan_of(llm_shard_stability(spark, SF_DIR), "simple")
    assert "Join" not in plan
    assert "Window" not in plan


def test_weighted_sample_topk_not_full_sort(spark):
    """A-ES weighted sampling: the k-cut must be TakeOrderedAndProject
    (per-partition heaps), never a full corpus sort; the rank window
    runs over the k surviving rows only."""
    from evmtrace_etl_spark.plans.llm_data import llm_weighted_sample

    plan = plan_of(llm_weighted_sample(spark, SF_DIR), "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan


def test_minhash_calibration_equi_joins_only(spark):
    """Calibration pairs ride the bucket-capped LSH candidate list —
    hash equi-joins only, no cartesian, no nested loop."""
    from evmtrace_etl_spark.plans.llm_data import llm_minhash_calibration

    plan = plan_of(llm_minhash_calibration(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zipf_spectrum_two_aggregates_one_scalar(spark):
    """Two stacked hash aggregates; the vocabulary size is the
    sanctioned one-row scalar broadcast; no sorts, no windows."""
    from evmtrace_etl_spark.plans.llm_data import llm_zipf_spectrum

    plan = plan_of(llm_zipf_spectrum(spark, SF_DIR), "simple")
    assert "Window" not in plan
    assert "Sort " not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_split_manifest_single_rollup(spark):
    """Split assignment is a pure projection — exactly one hash
    aggregate pair (partial+final) over (source, split), no joins."""
    from evmtrace_etl_spark.plans.llm_data import llm_split_manifest

    plan = plan_of(llm_split_manifest(spark, SF_DIR), "simple")
    assert "Join" not in plan
    assert "Exchange hashpartitioning" in plan


def test_split_leakage_equi_joins_only(spark):
    """Leakage audit: LSH pair generation + two doc_id endpoint
    lookups are all hash equi-joins — no cartesian, no nested loop
    (the one sanctioned BNLJ is a one-row scalar, as elsewhere)."""
    from evmtrace_etl_spark.plans.llm_data import llm_split_leakage

    plan = plan_of(llm_split_leakage(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_ivfpq_no_cartesian_probe_broadcast(spark):
    """IVFADC serve: candidate generation is a cell equi-join against
    the broadcast probe LUTs — no cartesian, no shuffled join of the
    corpus against the probe side."""
    from evmtrace_etl_spark.plans.llm_data import llm_ivfpq_topk

    plan = plan_of(llm_ivfpq_topk(spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_is_shuffle_free(spark):
    """Disk-bucketed co-located join (inv_bucketed_revenue): both sides
    written via sinks.write_bucketed (8 buckets on the order key, two
    DIFFERENT tables — the two-table complement of the self-join pin
    above), so the SortMergeJoin's required distribution is satisfied
    by the bucket scans — ZERO Exchange in the join subtree.  Control:
    the identical join off plain parquet scans shuffles both sides.
    The full aggregate query has exactly one Exchange (the groupBy)."""
    import tempfile

    from evmtrace_etl_spark.sinks import write_bucketed

    orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet")).select(
        "o_orderkey", "o_orderpriority"
    )
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet")).select(
        "l_orderkey", "l_quantity"
    )
    base = os.path.join(tempfile.gettempdir(), "evmtrace_bucketed", "pin")
    bo = write_bucketed(
        orders,
        "t_pin_bucketed_orders",
        key="o_orderkey",
        n_buckets=8,
        path=os.path.join(base, "orders"),
    )
    bl = write_bucketed(
        li,
        "t_pin_bucketed_li",
        key="l_orderkey",
        n_buckets=8,
        path=os.path.join(base, "li"),
    )
    # the pre-write repartition onto the bucket key leaves exactly ONE
    # file per bucket — without it each write task emits a file into
    # every bucket it touches (T x n_buckets small files at scale)
    for side in ("orders", "li"):
        data_files = [
            f
            for f in os.listdir(os.path.join(base, side))
            if not (f.startswith("_") or f.startswith("."))
        ]
        assert len(data_files) == 8, (side, data_files)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        plan = plan_of(j, "simple")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        # control: same join off the raw parquet scans shuffles both sides
        ctrl = plan_of(
            orders.join(li, orders.o_orderkey == li.l_orderkey), "simple"
        )
        assert ctrl.count("Exchange") == 2
        # end-to-end aggregate: the ONLY shuffle left is the tiny groupBy
        agg = j.groupBy("o_orderpriority").count()
        assert plan_of(agg, "simple").count("Exchange") == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_incremental_rollup_scans_facts_once(spark):
    """Incremental view maintenance (inv_incremental_rollup): the serve
    plan reads the materialized base VIEW plus exactly ONE scan of the
    orders facts (the delta), with the cutoff predicate pushed into
    that scan — the base period's facts are never re-read."""
    from evmtrace_etl_spark.plans.inventory import incremental_rollup

    plan = plan_of(incremental_rollup(spark, SF_DIR))
    assert plan.count("orders.parquet") == 1
    assert "evmtrace_incr_rollup" in plan  # the materialized base view
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln and "GreaterThanOrEqual" in ln for ln in pushed)


def test_aqe_splits_skewed_join_at_runtime(spark):
    """The third leg of the skew story (beside the salted aggregate and
    the LSH bucket caps): for plain keyed joins the engine leans on AQE
    skew-join, so pin that it actually fires — a join with one hot key
    re-plans at RUNTIME with the skewed partition split (the final
    adaptive plan marks the SortMergeJoin 'skew=true').  Thresholds are
    scaled down to fixture bytes; at 100 TB the defaults (256 MB) play
    the same role."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {}
    for k, v in confs.items():
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, v)
    try:
        left = spark.range(200_000).select(
            F.when(F.col("id") % 10 == 0, F.col("id") % 32)
            .otherwise(F.lit(7))
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(32).select(
            F.col("id").alias("k"), F.lit(1).alias("w")
        )
        j = left.join(right, "k")
        assert len(j.collect()) == 200_000
        final = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_ingest_dedup_prunes_index_before_sizing(spark, tmp_path):
    """L51 serve-path pin (VERDICT r9 'what's wrong #1'): per trigger
    the persisted signature index must be semi-join-pruned to the
    BATCH's band keys BEFORE the bucket-sizing Window — index rows
    reach the LeftSemi broadcast join straight off the scan, with no
    Exchange/Window/Sort of the full index below it.  A refactor that
    re-introduces a corpus-band-wide shuffle per micro-batch fails
    here rather than at 100 TB."""
    from evmtrace_etl_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta doc {i}")
         for i in range(20)],
        "doc_id long, text string",
    )
    idx_path = str(tmp_path / "sig_index")
    dedup.corpus_signature_index(corpus).write.parquet(idx_path)
    index = spark.read.parquet(idx_path)
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta eta theta doc x")],
        "doc_id long, text string",
    )
    plan = plan_of(
        dedup.ingest_dedup_labels(batch, index, threshold=0.5), "simple"
    )
    lines = plan.splitlines()
    semi = [i for i, ln in enumerate(lines) if "LeftSemi" in ln]
    # the index is the plan's ONLY parquet scan (the batch is an
    # in-memory DF); the tmp path itself may be truncated in explain
    scan = [i for i, ln in enumerate(lines) if "Scan parquet" in ln]
    assert semi, plan       # the prune exists
    assert scan, plan       # the index is scanned
    # the (single) index scan sits directly under the semi join: no
    # Exchange / Window / Sort of the full index in between
    s, c = semi[0], scan[0]
    assert s < c, plan
    between = "\n".join(lines[s + 1 : c])
    for op in ("Exchange", "Window", "Sort", "SortMergeJoin"):
        assert op not in between, plan
    # and the index appears exactly once in the plan (one scan per
    # trigger, not a second full pass)
    assert len(scan) == 1, plan


def test_dv_suppressed_read_never_shuffles_the_fact(spark, tmp_path):
    """Deletion-vector serving (read_table over a merge-on-read table):
    the fact scan flows through exactly two BROADCAST hash joins — the
    file→added_version provenance map and the tombstone max-version
    set, both metadata/batch-sized — and the only hash-partitioned
    Exchange in the plan is the tombstone-side aggregate.  A
    SortMergeJoin or a fact-side Exchange here would shuffle the whole
    table per read at 100 TB."""
    from evmtrace_etl_spark import sinks

    tbl = str(tmp_path / "t")
    sinks.append_files(
        spark,
        spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        ),
        tbl,
        cols=["k"],
    )
    sinks.merge_into(
        spark,
        spark.range(5).select(
            F.col("id").alias("k"), F.lit(-7).cast("long").alias("v")
        ),
        tbl,
        keys=["k"],
        strategy="merge-on-read",
    )
    df = sinks.read_table(spark, tbl)
    plan = plan_of(df, "simple")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    # the one shuffle is the batch-sized tombstone aggregate, never the
    # fact side
    assert plan.count("Exchange hashpartitioning") == 1
    # and the values still come out right
    assert df.filter("v = -7").count() == 5
    assert df.count() == 1000

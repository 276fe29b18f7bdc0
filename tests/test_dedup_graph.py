"""Semantics of the transitive-dedup and decontamination operators on
hand-built graphs (the driver oracle pins Spark-vs-DuckDB parity; these
pin behavior on adversarial shapes the fixture corpus may not hit)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from evmtrace_etl_spark.operators import dedup


def test_connected_components_chain_and_island(spark):
    # chain 1-2-3-4 (diameter 3) + island {10, 11} + pair (20, 21)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20)],
        "doc_a long, doc_b long",
    )
    got = {
        r["doc_id"]: r["component_id"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_converges(spark):
    # a 12-vertex path needs several propagation rounds; the label-sum
    # fixed-point test must not stop early
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a long, doc_b long"
    )
    got = dedup.connected_components(pairs, max_iters=20).collect()
    assert {r["component_id"] for r in got} == {0}
    assert len(got) == n + 1


def test_near_dup_components_keep_flags(spark):
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, text + " extra"), (50, "unrelated "
          "words entirely different from the other documents here")],
        "doc_id long, text string",
    )
    out = dedup.near_dup_components(docs).collect()
    by_id = {r["doc_id"]: r for r in out}
    # 50 shares nothing → not in any component
    assert set(by_id) == {1, 2, 3}
    assert all(r["component_id"] == 1 for r in out)
    assert all(r["component_size"] == 3 for r in out)
    assert [by_id[i]["is_keep"] for i in (1, 2, 3)] == [1, 0, 0]


def test_contamination_counts(spark):
    shared = "one two three four five six seven eight nine ten"
    docs = spark.createDataFrame(
        [(1, shared + " eleven twelve"), (2, "totally different words "
          "with no overlap at all whatsoever in this doc")],
        "doc_id long, text string",
    )
    hold = spark.createDataFrame([(100, shared)], "doc_id long, text string")
    out = dedup.contamination(docs, hold).collect()
    assert len(out) == 1
    r = out[0]
    assert r["doc_id"] == 1
    # doc 1 has 12 tokens, the holdout its first 10; all of the
    # holdout's shingles appear in doc 1
    k = dedup.SHINGLE_K
    assert r["n_shingles"] == 12 - k + 1
    assert r["n_contaminated"] == 10 - k + 1
    assert r["contamination_frac"] == pytest.approx(
        (10 - k + 1) / (12 - k + 1)
    )


def test_contamination_holdout_is_broadcast(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    hold = spark.createDataFrame(
        [(2, "c d e f g h i j")], "doc_id long, text string"
    )
    plan = dedup.contamination(docs, hold)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # two count_distinct in one agg would compile to an Expand that
    # doubles every shingle row through the shuffle — pinned out
    assert "Expand" not in plan


def test_ivf_train_centroids_are_cluster_means(spark):
    from evmtrace_etl_spark.operators import similarity

    # two tight clusters far apart in 4-d; seeds = vec_ids 0 and 1, one
    # in each cluster, so one Lloyd iteration lands on the cluster means
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 0.0, 0.0, 1.0]),
        (2, [1.0, 0.1, 0.0, 0.0]),
        (3, [0.0, 0.1, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        r["cen_id"]: r
        for r in similarity.ivf_train(
            emb, n_centroids=2, n_iters=1, dim=4
        ).collect()
    }
    assert set(got) == {0, 1}
    assert got[0]["n_members"] == 2 and got[1]["n_members"] == 2
    assert [got[0][f"d{i}"] for i in range(4)] == [1.0, 0.05, 0.0, 0.0]
    assert [got[1][f"d{i}"] for i in range(4)] == [0.0, 0.05, 0.0, 1.0]


def test_connected_components_matches_union_find(spark):
    """Property check vs a reference union-find on a few random-ish
    graphs (deterministic seeds — no flaky CI)."""
    import random

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        n = 40
        pairs = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(35)
            }
        )
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent[find(a)] = find(b)
        touched = {v for p in pairs for v in p}
        want = {v: min(u for u in touched if find(u) == find(v))
                for v in touched}

        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        got = {
            r["doc_id"]: r["component_id"]
            for r in dedup.connected_components(df).collect()
        }
        assert got == want, f"seed {seed}"


def test_connected_components_deep_chain_with_few_rounds(spark):
    # pointer jumping squares propagation distance per round: a
    # 100-edge path must converge well inside 8 rounds (plain
    # min-propagation would need 100)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(100)], "doc_a long, doc_b long"
    )
    got = dedup.connected_components(pairs, max_iters=8).collect()
    assert {r["component_id"] for r in got} == {0}
    assert len(got) == 101


def test_simhash_near_dups_finds_close_pairs(spark):
    same = ("the quick brown fox jumps over the lazy dog while autumn "
            "leaves drift across the quiet river valley at dawn")
    other = ("completely unrelated legal boilerplate concerning maritime "
             "insurance obligations and arbitration venue selection rules")
    docs = spark.createDataFrame(
        [(1, same), (2, same), (3, same + " extra"), (9, other)],
        "doc_id long, text string",
    )
    rows = {(r["doc_a"], r["doc_b"]): r["hamming"]
            for r in dedup.simhash_near_dups(docs).collect()}
    # identical docs: distance 0
    assert rows.get((1, 2)) == 0
    # the near-identical doc must be within the banded-search bound
    assert (1, 3) in rows and rows[(1, 3)] <= dedup.SIMHASH_MAX_DIST
    # the unrelated doc pairs with nobody
    assert not any(9 in p for p in rows)


def test_dup_span_profile_semantics(spark):
    """A doc sharing an 8-word span with another doc counts those gram
    positions as duplicated; a unique doc scores 0; short docs drop."""
    from evmtrace_etl_spark.operators.dedup import dup_span_profile

    shared = "the quick brown fox jumps over the lazy dog tonight"  # 10 toks
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta"),
            (2, "prefix words here " + shared),
            (3, "entirely unique words that no other document contains at all"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dup_span_profile(docs).collect()}
    assert 4 not in out                      # < 8 tokens → dropped
    assert out[3].n_dup_grams == 0
    assert out[3].dup_fraction == 0.0
    # doc1: 12 tokens → 5 grams; grams fully inside `shared` (10 toks →
    # 3 grams starting at positions 1..3) also occur in doc2 → dup
    assert out[1].n_grams == 5
    assert out[1].n_dup_grams == 3
    assert out[2].n_dup_grams == 3
    assert abs(out[1].dup_fraction - 0.6) < 1e-9


def test_bloom_decontaminate_equals_exact(spark):
    """The Bloom path must be byte-identical to the exact broadcast
    path — even with a deliberately tiny, collision-saturated bitmap
    (high FPR), because the exact verify join kills false positives
    and a Bloom filter has no false negatives."""
    from evmtrace_etl_spark.operators.dedup import (
        bloom_decontaminate,
        contamination,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from pyspark.sql import functions as F

    hold = docs.filter(F.col("doc_id") % 11 == 0)
    train = docs.filter(F.col("doc_id") % 11 != 0)
    exact = {
        r.doc_id: (r.n_shingles, r.n_contaminated)
        for r in contamination(train, hold).collect()
    }
    for m_bits in (1 << 17, 64):  # roomy, and absurdly saturated
        got = {
            r.doc_id: (r.n_shingles, r.n_contaminated)
            for r in bloom_decontaminate(
                train, hold, m_bits=m_bits
            ).collect()
        }
        assert got == exact, f"m_bits={m_bits}"


def test_pq_topk_structure_and_self_distance(spark):
    """PQ ADC semantics on a crafted corpus: a vector identical to a
    codebook seed encodes to that seed's code in every subspace, its
    ADC distance to a query equals the query's LUT sum at those codes,
    and every query yields exactly k ranked rows."""
    from evmtrace_etl_spark.operators.similarity import pq_topk

    # 8 vectors (the codebook seeds) + 2 clones of seed 3
    import random

    rnd = random.Random(7)
    base = [[rnd.uniform(-1, 1) for _ in range(16)] for _ in range(8)]
    rows = [(i, base[i]) for i in range(8)]
    rows.append((8, list(base[3])))   # exact clone of seed 3
    rows.append((9, list(base[3])))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = pq_topk(emb, n_queries=2, k=3, n_subspaces=4, n_codes=8)
    got = out.collect()
    assert {r.query_id for r in got} == {0, 1}
    for q in (0, 1):
        ranks = sorted(r.rank for r in got if r.query_id == q)
        assert ranks == [1, 2, 3]
    # clones of seed 3 share seed 3's codes, so their adist to any
    # query is identical — they must appear adjacent, ordered by id
    q0 = sorted(
        (r for r in got if r.query_id == 0), key=lambda r: r.rank
    )
    by_neighbor = {r.neighbor_id: r.adist for r in q0}
    if 8 in by_neighbor and 9 in by_neighbor:
        assert by_neighbor[8] == by_neighbor[9]


def test_snapshot_diff_statuses(spark):
    """All four statuses from a hand-built pair of snapshots."""
    from evmtrace_etl_spark.operators.dedup import snapshot_diff

    old = spark.createDataFrame(
        [(1, "same text"), (2, "will change"), (3, "will vanish")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same text"), (2, "has changed"), (4, "brand new")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.status for r in snapshot_diff(old, new).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    # whitespace-normalization is part of doc identity (same fp rule
    # as exact dedup): case/spacing churn is NOT a content change
    new2 = spark.createDataFrame(
        [(1, "  SAME   text ")], "doc_id long, text string"
    )
    got2 = {r.doc_id: r.status for r in snapshot_diff(old.filter("doc_id = 1"), new2).collect()}
    assert got2 == {1: "unchanged"}


def test_pq_train_centroids_are_member_means(spark):
    """One Lloyd step per subspace: each trained centroid is the exact
    per-dimension mean of the sub-vectors assigned to it; a code with
    no members keeps its seed."""
    from evmtrace_etl_spark.operators.similarity import pq_train

    rows = [
        (0, [0.0, 0.0, 10.0, 10.0]),   # seed code 0 (both subspaces)
        (1, [4.0, 4.0, 20.0, 20.0]),   # seed code 1
        (2, [1.0, 1.0, 11.0, 11.0]),   # near code 0 / code 0
        (3, [3.0, 3.0, 21.0, 21.0]),   # near code 1 / code 1
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    trained = pq_train(emb, n_subspaces=2, n_codes=2)
    # subspace 0: code 0 members {v0, v2} -> mean (0.5, 0.5);
    #             code 1 members {v1, v3} -> mean (3.5, 3.5)
    assert trained[0][0] == [0.5, 0.5]
    assert trained[0][1] == [3.5, 3.5]
    # subspace 1: code 0 members {v0, v2} -> (10.5, 10.5); code 1 -> (20.5, 20.5)
    assert trained[1][0] == [10.5, 10.5]
    assert trained[1][1] == [20.5, 20.5]


def test_levenshtein_engine_semantics_ascii_vs_unicode(spark):
    """Pin the cross-engine edit-distance contract the oracle relies
    on: Spark counts CODEPOINT edits, DuckDB counts BYTE edits.  They
    agree on ASCII (the driver fixtures) and deliberately diverge on
    multi-byte text — if either engine changes behavior, this tells us
    the oracle-validity boundary moved."""
    import duckdb
    from pyspark.sql import functions as F

    cases = [("kitten", "sitting"), ("abc", "abc"), ("a", "")]
    df = spark.createDataFrame(cases, "a: string, b: string")
    got = [r[0] for r in df.select(F.levenshtein("a", "b")).collect()]
    want = [
        duckdb.sql(f"SELECT levenshtein('{a}', '{b}')").fetchone()[0]
        for a, b in cases
    ]
    assert got == want  # ASCII: byte edits == codepoint edits

    uni = spark.createDataFrame([("café", "cafe")], "a: string, b: string")
    assert uni.select(F.levenshtein("a", "b")).collect()[0][0] == 1
    assert duckdb.sql("SELECT levenshtein('café', 'cafe')").fetchone()[0] == 2


def test_edit_distance_pairs_identical_docs_sim_one(spark):
    """Two byte-identical docs sharing an LSH bucket verify at distance
    0 / similarity 1.0."""
    from evmtrace_etl_spark.operators.dedup import edit_distance_pairs

    text = "the quick brown fox jumps over the lazy dog " * 6
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    rows = edit_distance_pairs(docs).collect()
    assert len(rows) == 1
    assert rows[0]["edit_dist"] == 0
    assert rows[0]["edit_sim"] == 1.0


def test_bucket_cap_bounds_adversarial_skew(spark):
    """The scale claim behind every LSH surface: a degenerate corpus
    (here 3 * BUCKET_CAP identical docs — one giant bucket in every
    band) must NOT produce the quadratic candidate blow-up; the
    oversized buckets are dropped entirely, and a small distinct
    cluster alongside them still pairs up normally."""
    from evmtrace_etl_spark.functions.text import BUCKET_CAP
    from evmtrace_etl_spark.operators.dedup import lsh_candidate_pairs

    boiler = "all work and no play makes jack a dull boy " * 4
    small = "a genuinely different document about spark shuffles " * 4
    rows = [(i, boiler) for i in range(3 * BUCKET_CAP)]
    rows += [(10_000, small), (10_001, small)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = lsh_candidate_pairs(docs).collect()
    # quadratic would be C(192,2) = 18 336 pairs; the cap leaves only
    # the small cluster's single pair
    assert [(r["doc_a"], r["doc_b"]) for r in pairs] == [(10_000, 10_001)]


def test_simhash_band_cap_and_stats_report_the_drop(spark):
    """Same adversarial corpus through the 64-bit SimHash banded
    search: oversized band buckets are dropped from the pair search,
    and simhash_band_stats ACCOUNTS for what was dropped — the
    operator pair that turns a silent coverage trade-off into a
    number."""
    from evmtrace_etl_spark.functions.text import BUCKET_CAP
    from evmtrace_etl_spark.operators.dedup import (
        simhash_band_stats,
        simhash_near_dups,
    )

    boiler = "all work and no play makes jack a dull boy " * 4
    rows = [(i, boiler) for i in range(2 * BUCKET_CAP)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert simhash_near_dups(docs).count() == 0  # capped, not quadratic
    stats = simhash_band_stats(docs).collect()
    assert sum(r["n_dropped_buckets"] for r in stats) >= 1
    assert sum(r["n_docs_dropped"] for r in stats) >= 2 * BUCKET_CAP


def test_clustered_recall_ordering(spark):
    """The structured-corpus recall harnesses must show the orderings
    a correct index produces on clustered data (measured at sf0.01,
    pinned with slack): trained IVF >= seed IVF and both high (the
    clusters align with cells); PQ far above the GLOBAL random floor
    (~0.01) — it resolves cluster membership — but near the
    WITHIN-cluster random floor (~k/cluster_size = 0.08), because 3
    bits/subspace cannot rank inside a tight cluster (the scale fix is
    IVF+PQ residual composition, documented in similarity.py)."""
    from pyspark.sql import functions as F

    from evmtrace_etl_spark.plans import llm_data as L

    sf = "/root/testdata/sf0.01"

    def mean_recall(name):
        # leaf functions, not the registry: the r14 consolidation
        # verifies these ladders through composite registry rows, but
        # each leg's individual figure is still pinned here
        return (
            getattr(L, name)(spark, sf).agg(F.avg("recall")).first()[0]
        )

    seed = mean_recall("llm_ivf_recall_clustered")
    trained = mean_recall("llm_ivf_trained_recall_clustered")
    pq = mean_recall("llm_pq_recall_clustered")
    ivfpq = mean_recall("llm_ivfpq_recall_clustered")
    assert seed >= 0.85, seed
    assert trained >= seed - 0.02, (trained, seed)
    assert pq >= 0.05, pq  # >> the 0.01 global-random floor
    # residual coding must beat plain PQ where plain PQ floors out:
    # the code budget moves from cluster position to within-cell offset
    assert ivfpq >= pq * 1.5, (ivfpq, pq)
    # exact re-ranking of the ADC top-R must buy back most of the
    # quantization error (measured 0.876 vs the 0.94 exact-IVF ceiling)
    rerank = mean_recall("llm_ivfpq_rerank_recall")
    assert rerank >= ivfpq * 2, (rerank, ivfpq)
    assert rerank >= 0.7, rerank


def test_semantic_dedup_cell_cap_bounds_degenerate_corpus(spark):
    """The SemDeDup analog of the LSH cap test: a boilerplate corpus
    that collapses into ONE mega-cell must not run the quadratic
    within-cell pair scoring — over-cap cells are excluded (members
    all kept, the conservative direction), and semantic_cell_stats
    ACCOUNTS for the forfeited coverage instead of hiding it."""
    from evmtrace_etl_spark.operators.similarity import (
        semantic_cell_stats,
        semantic_dedup,
    )

    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    rows += [(i, [1.0, 0.0001 * i, 0.0, 0.0]) for i in range(2, 52)]
    emb = spark.createDataFrame(
        rows, "vec_id: long, embedding: array<double>"
    )
    # uncapped: every near-parallel vector dups against vec 0
    uncapped = semantic_dedup(emb, threshold=0.99, n_centroids=2).collect()
    assert sum(1 for r in uncapped if r["keep"] == 0) == 50
    # capped at 10: the 51-member cell is excluded -> zero drops
    capped = semantic_dedup(
        emb, threshold=0.99, n_centroids=2, cell_cap=10
    ).collect()
    assert len(capped) == 52
    assert all(r["keep"] == 1 and r["dup_of"] == -1 for r in capped)
    # and the accounting row names exactly what the cap forfeited
    s = semantic_cell_stats(emb, n_centroids=2, cell_cap=10).collect()
    assert len(s) == 1
    assert (
        s[0]["n_cells"],
        s[0]["n_dropped_cells"],
        s[0]["n_docs_dropped"],
        s[0]["max_cell"],
    ) == (2, 1, 51, 51)


def test_ingest_batch_dedup_grows_index_exactly_once(spark, tmp_path):
    """The effectful ingest composition: batch 1 seeds near-dups into
    the persisted signature index through the exactly-once snapshot
    commit; batch 2 containing a near-dup of a batch-1 doc is rejected
    against the GROWN index; replaying batch 2's txn id neither
    double-indexes nor re-labels."""
    import os

    from evmtrace_etl_spark.operators.dedup import (
        corpus_signature_index,
        ingest_batch_dedup,
    )
    from evmtrace_etl_spark.sinks import read_table, update_stats_index

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    idx_path = str(tmp_path / "sig_index")
    # seed the index table with one corpus doc
    corpus = spark.createDataFrame(
        [(1, base + " one two three")], "doc_id long, text string"
    )
    corpus_signature_index(corpus).write.parquet(idx_path)
    update_stats_index(spark, idx_path, ["band_id"])
    n_idx0 = read_table(spark, idx_path).select("doc_id").distinct().count()
    assert n_idx0 == 1

    # batch 1: one near-dup of the corpus doc, one fresh doc
    b1 = spark.createDataFrame(
        [
            (10, base + " one two four"),       # near-dup of doc 1
            (11, "totally different words entirely unrelated content "
                 "spanning many unique tokens for shingling purposes"),
        ],
        "doc_id long, text string",
    )
    l1 = {r["doc_id"]: r for r in ingest_batch_dedup(
        spark, b1, idx_path, threshold=0.5, txn=("ing", 1)
    ).collect()}
    assert l1[10]["keep"] == 0 and l1[10]["dup_of"] == 1
    assert l1[11]["keep"] == 1
    # only the ACCEPTED doc entered the index
    idx_docs = {
        r["doc_id"]
        for r in read_table(spark, idx_path).select("doc_id").distinct().collect()
    }
    assert idx_docs == {1, 11}

    # batch 2: near-dup of batch-1's ACCEPTED doc -> rejected against
    # the grown index (this is the incremental property)
    b2 = spark.createDataFrame(
        [(20, "totally different words entirely unrelated content "
              "spanning many unique tokens for shingling reasons")],
        "doc_id long, text string",
    )
    l2 = ingest_batch_dedup(
        spark, b2, idx_path, threshold=0.5, txn=("ing", 2)
    ).collect()
    assert l2[0]["keep"] == 0 and l2[0]["dup_of"] == 11

    # replaying batch 1's txn id: index unchanged (exactly-once)
    files_before = sorted(
        f for f in os.listdir(idx_path) if f.endswith(".parquet")
    )
    ingest_batch_dedup(spark, b1, idx_path, threshold=0.5, txn=("ing", 1))
    assert idx_docs == {
        r["doc_id"]
        for r in read_table(spark, idx_path).select("doc_id").distinct().collect()
    }
    assert files_before == sorted(
        f for f in os.listdir(idx_path) if f.endswith(".parquet")
    )


def test_ingest_replay_labels_are_stable(spark, tmp_path):
    """A replayed batch whose docs already entered the index must get
    the SAME labels (the index side anti-joins the batch's doc_ids, so
    a replay is labeled against the index as it stood BEFORE the
    batch): keep stays 1 for the doc that was accepted, even though
    its own rows are now indexed."""
    from evmtrace_etl_spark.operators.dedup import (
        corpus_signature_index,
        ingest_batch_dedup,
    )
    from evmtrace_etl_spark.sinks import update_stats_index

    idx_path = str(tmp_path / "sig_index")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    corpus_signature_index(corpus).write.parquet(idx_path)
    update_stats_index(spark, idx_path, ["band_id"])
    b = spark.createDataFrame(
        [(11, "totally different words entirely unrelated content "
              "spanning many unique tokens for shingling purposes")],
        "doc_id long, text string",
    )
    first = ingest_batch_dedup(spark, b, idx_path, txn=("s", 1)).collect()
    replay = ingest_batch_dedup(spark, b, idx_path, txn=("s", 1)).collect()
    assert [tuple(r) for r in first] == [tuple(r) for r in replay]
    assert first[0]["keep"] == 1


def test_ingest_mutual_near_dups_in_one_batch_replay_stable(
    spark, tmp_path
):
    """Two MUTUAL near-dups arriving in one batch: the intra-batch leg
    resolves them deterministically on the first run (lower doc_id
    wins, the other is dup_of it), only the winner enters the index,
    and a checkpoint replay of the same batch reproduces the identical
    labels — the grown index cannot flip keep 1->0 for both (the
    replay-instability the single-doc test missed)."""
    from evmtrace_etl_spark.operators.dedup import (
        corpus_signature_index,
        ingest_batch_dedup,
    )
    from evmtrace_etl_spark.sinks import read_table, update_stats_index

    idx_path = str(tmp_path / "sig_index")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    corpus_signature_index(corpus).write.parquet(idx_path)
    update_stats_index(spark, idx_path, ["band_id"])
    base = (
        "totally different words entirely unrelated content "
        "spanning many unique tokens for shingling"
    )
    b = spark.createDataFrame(
        [(11, base + " purposes"), (12, base + " reasons")],
        "doc_id long, text string",
    )
    first = {r["doc_id"]: r for r in ingest_batch_dedup(
        spark, b, idx_path, threshold=0.5, txn=("m", 1)
    ).collect()}
    # sequential-arrival order: 11 kept, 12 dups against it
    assert first[11]["keep"] == 1 and first[11]["dup_of"] == -1
    assert first[12]["keep"] == 0 and first[12]["dup_of"] == 11
    # only the winner entered the index
    idx_docs = {
        r["doc_id"]
        for r in read_table(spark, idx_path)
        .select("doc_id").distinct().collect()
    }
    assert idx_docs == {1, 11}
    replay = {r["doc_id"]: r for r in ingest_batch_dedup(
        spark, b, idx_path, threshold=0.5, txn=("m", 1)
    ).collect()}
    assert {k: tuple(v) for k, v in first.items()} == {
        k: tuple(v) for k, v in replay.items()
    }

"""Similarity search over an embedding column (``array<float>``).

Two paths over ``embeddings(vec_id, embedding, label)``:

- **Brute-force cosine top-k** (baseline): a small query set is
  broadcast against the full table; per-pair cosine is computed
  JVM-side with ``zip_with`` + ``aggregate`` (sequential left-to-right
  accumulation — bit-identical to the DuckDB oracle's ``list_sum`` over
  the same doubles); top-k by row_number over (rounded sim DESC, id).
- **Sign-LSH ANN** (scale path): 8 fixed random hyperplanes → 8-bit
  bucket signature; candidates = same-bucket vectors only.  At 100 TB
  the bucket signature becomes the shuffle/cluster key (expected
  n/256 per bucket, uniform for mean-centered data); brute force is
  kept as the in-bucket scorer.

Ranking uses cosine rounded to 6 decimals (both engines round
identically on identical doubles) with vec_id as tie-break, making
top-k fully deterministic across engines.

All column math is Spark builtins — no Python in the hot path; an
embedding dot product over array<float> stays inside whole-stage
codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import (
    BUCKET_CAP,
    EMB_BANDS,
    EMBED_DIM,
    HYPERPLANES,
    HYPERPLANES_WIDE,
    SEM_CELL_CAP,
)
from ..session import materialize as _materialize


def _dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cos_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """cosine with PRE-COMPUTED norms: every pair-scoring operator
    attaches ``_norm`` per side BEFORE its join, so column pruning
    pushes the norm below the join and each vector's norm is an
    interpreted-HOF fold once per ROW instead of once per PAIR (3 dot
    products per pair → 1).  Bit-identical to ``cosine`` — the same
    float ops in the same order, just evaluated once."""
    return _dot(a, b) / (na * nb)


def _sign_bucket(vec_col: str, planes: list[list[float]]) -> Column:
    """Integer sign-LSH bucket over the given hyperplanes (bit j set iff
    the vector's dot with plane j is non-negative).

    Generated as one SQL expr() string: the Column-API equivalent costs
    a py4j round-trip per plan node (seconds at 24 planes); semantics
    are identical (same HOF fold, same float literals — repr+`D`
    round-trips exactly)."""
    terms = " + ".join(
        "(CASE WHEN aggregate(zip_with("
        f"{vec_col}, array({', '.join(f'{float(v)!r}D' for v in plane)}), "
        "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
        f"(acc, x) -> acc + x) >= 0 THEN {2 ** j} ELSE 0 END)"
        for j, plane in enumerate(planes)
    )
    return F.expr(f"({terms})")


def with_lsh_bucket(
    emb: DataFrame,
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Sign-LSH bucket id from ``planes`` (default: the fixed 8 → 256
    buckets; pass more planes as the corpus grows — see the sizing rule
    in ``functions.text``)."""
    return emb.withColumn(
        "bucket", _sign_bucket(vec_col, planes or HYPERPLANES)
    )


def with_band_buckets(
    emb: DataFrame,
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    n_bands: int = EMB_BANDS,
) -> DataFrame:
    """Banded sign-LSH: the plane set split into ``n_bands`` contiguous
    bands, one (band_id, band_key) row per band per vector (exploded —
    the narrow fan-out that feeds the band-bucket equi-join, exactly the
    MinHash banding shape in operators.dedup)."""
    planes = planes or HYPERPLANES_WIDE
    r = len(planes) // n_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                _sign_bucket(vec_col, planes[b * r : (b + 1) * r]).alias(
                    "band_key"
                ),
            )
            for b in range(n_bands)
        ]
    )
    return emb.select(
        "vec_id", vec_col, F.explode(bands).alias("_band")
    ).select(
        "vec_id",
        vec_col,
        F.col("_band.band_id").alias("band_id"),
        F.col("_band.band_key").alias("band_key"),
    )


def brute_force_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of every vec_id < n_queries against all others.

    Output: query_id, neighbor_id, rank, sim (rounded to 6 dp).
    """
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    sim = F.round(
        _cos_pre(
            F.col("_qv"), F.col(vec_col), F.col("_qn"), F.col("_nrm")
        ),
        6,
    )
    scored = (
        emb.withColumn("_nrm", _norm(F.col(vec_col)))
        .crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def lsh_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """ANN top-k: same scoring as brute force but candidates restricted to
    the query's sign-LSH bucket (the 100 TB path — equi-join on bucket
    instead of a cross join).  ``planes`` sizes the bucket space; see the
    sizing rule in ``functions.text``."""
    bucketed = with_lsh_bucket(emb, vec_col, planes).withColumn(
        "_nrm", _norm(F.col(vec_col))
    )
    queries = bucketed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.col("_nrm").alias("_qn"),
        F.col("bucket"),
    )
    sim = F.round(
        _cos_pre(
            F.col("_qv"), F.col(vec_col), F.col("_qn"), F.col("_nrm")
        ),
        6,
    )
    scored = (
        bucketed.join(F.broadcast(queries), on="bucket")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def _py_norm(vec: list[float]) -> float:
    """Euclidean norm folded driver-side in the same sequential order
    as the JVM/oracle HOF fold (bit-identical doubles)."""
    import math

    s = 0.0
    for v in vec:
        s += float(v) * float(v)
    return math.sqrt(s)


def _hof_dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
    )


def _ivf_codebook_df(spark, cents: list[tuple[int, list[float]]]):
    """The IVF codebook as a ONE-ROW broadcastable table: ``_cb`` is an
    array of (cen_id, vec, nrm) structs sorted by cen_id, with each
    centroid's norm pre-folded driver-side (same sequential order as
    the oracle).  Attaching it with ``crossJoin(F.broadcast(...))`` —
    the house one-row-scalar idiom — ships the codebook ONCE per
    executor via a BroadcastExchange instead of inlining ~1k double
    literals into every expression tree: Janino then compiles the
    (codebook-independent) expression once per plan SHAPE and the
    codegen cache hits across legs/queries with different trained
    codebooks, and task binaries stop carrying kilo-literal arrays
    (guide §3.1/§4 — broadcast the small side, keep compute in JVM)."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType([
        StructField(
            "_cb",
            ArrayType(
                StructType([
                    StructField("cen_id", LongType(), False),
                    StructField("vec", ArrayType(DoubleType(), False), False),
                    StructField("nrm", DoubleType(), False),
                ]),
                False,
            ),
            False,
        )
    ])
    row = [
        (int(cid), [float(v) for v in cvec], _py_norm(cvec))
        for cid, cvec in sorted(cents)
    ]
    return spark.createDataFrame([(row,)], schema)


def _ivf_with_cells(
    emb: DataFrame, cents: list[tuple[int, list[float]]], vec_col: str
) -> DataFrame:
    """``emb`` plus ``_cells``: per-centroid (sim, -cen_id) structs sorted
    (sim DESC, cen_id ASC) — same order as the oracle's row_number —
    plus ``_cb``, the broadcast codebook column (kept so residual
    consumers reuse the SAME broadcast instead of re-inlining).

    The codebook arrives as a broadcast one-row table
    (``_ivf_codebook_df``); the per-row math is one transform() over
    its struct array.  Bit-parity is preserved: the aggregate() fold is
    the same left-to-right IEEE double chain as the oracle's
    list_reduce, the broadcast row stores the identical Python doubles
    the old plan inlined as literals, and centroid norms fold
    driver-side in the identical sequential order.
    """
    cb = _ivf_codebook_df(emb.sparkSession, cents)
    with_norm = emb.crossJoin(F.broadcast(cb)).withColumn(
        "_vnorm", F.expr(f"sqrt({_hof_dot(vec_col, vec_col)})")
    )
    sims_sql = (
        "transform(_cb, c -> named_struct("
        f"'cs', round({_hof_dot(vec_col, 'c.vec')} / (_vnorm * c.nrm), 6), "
        "'neg_cen', -c.cen_id))"
    )
    return with_norm.withColumn(
        "_cells", F.expr(f"reverse(array_sort({sims_sql}))")
    )


def ivf_assignments(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid cell per vector — a single narrow projection.

    The codebook is inlined as plan literals (the Spark analog of
    broadcasting an IVF index's dictionary), so assignment is a per-row
    array-of-struct max: NO Exchange, no 16×-row window shuffle.
    ``tests/test_plan_shapes.py`` pins that property.
    """
    with_cells = _ivf_with_cells(emb, cents, vec_col)
    return with_cells.select(
        "vec_id", vec_col, (-F.col("_cells")[0]["neg_cen"]).alias("cell")
    )


def seed_cents(
    emb: DataFrame, n_centroids: int = 16, vec_col: str = "embedding"
) -> list[tuple[int, list[float]]]:
    """The deterministic seed codebook (first ``n_centroids`` vec_ids'
    vectors), as the sorted ``(cen_id, vector)`` list every IVF entry
    point inlines.  Exposed so composite harnesses that run several
    IVF paths over ONE corpus (seed + trained recall ladders) can
    collect the seed once and pass it to each path instead of paying
    one identical full-scan collect per leg."""
    return sorted(
        (int(r[0]), [float(v) for v in r[1]])
        for r in emb.filter(F.col("vec_id") < n_centroids)
        .select("vec_id", vec_col)
        .collect()
    )


def ivf_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    vec_col: str = "embedding",
    cents: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-style ANN top-k: a coarse quantizer assigns every vector to its
    nearest centroid cell; queries probe their ``n_probe`` nearest cells
    and score only those cells' members.

    The quantizer here is deterministic for oracle parity — centroids are
    the first ``n_centroids`` vec_ids (``ivf_trained_topk`` is the
    fitted-quantizer composition; the *plan shape* is identical).
    Assignment is shuffle-free (``ivf_assignments``); candidate
    generation is an equi-join on cell — the inverted-file pruning that
    makes brute force unnecessary.  At scale the cell id becomes the
    partition key.
    """
    if cents is None:
        cents = seed_cents(emb, n_centroids, vec_col)
    return _ivf_topk_with_cents(
        emb, cents, n_queries, k, n_probe, vec_col
    )


def _ivf_topk_with_cents(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    n_queries: int,
    k: int,
    n_probe: int,
    vec_col: str,
) -> DataFrame:
    """Serve top-k from an explicit codebook (seed or trained)."""
    with_cells = _ivf_with_cells(emb, cents, vec_col)
    assigned = with_cells.select(
        "vec_id",
        vec_col,
        _norm(F.col(vec_col)).alias("_nrm"),
        (-F.col("_cells")[0]["neg_cen"]).alias("cell"),
    )
    probes = (
        with_cells.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col(vec_col).alias("_qv"),
            _norm(F.col(vec_col)).alias("_qn"),
            F.explode(F.slice(F.col("_cells"), 1, n_probe)).alias("_c"),
        )
        .select(
            "query_id", "_qv", "_qn",
            (-F.col("_c")["neg_cen"]).alias("cell"),
        )
    )
    sim = F.round(
        _cos_pre(
            F.col("_qv"), F.col(vec_col), F.col("_qn"), F.col("_nrm")
        ),
        6,
    )
    scored = (
        assigned.join(F.broadcast(probes), on="cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def write_ivf_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = 16,
    n_iters: int = 2,
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> None:
    """Build and PERSIST an IVF index — the build-once/serve-many split
    ``ivf_trained_topk`` inlines: the Lloyd-fitted codebook goes to
    ``<path>/codebook`` (≤ n_centroids rows) and the corpus goes to
    ``<path>/vectors`` hive-partitioned BY CELL with the per-row norm
    precomputed.  At 100 TB this is the production layout: the fit and
    the full-corpus assignment run once; every later query reads only
    its probed cells (partition pruning, see ``ivf_index_topk``) and
    never re-runs either.
    """
    import os

    spark = emb.sparkSession
    trained = ivf_train(emb, n_centroids, n_iters, vec_col, dim).collect()
    spark.createDataFrame(trained).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "codebook"))
    cents = sorted(
        (int(r["cen_id"]), [float(r[f"d{i}"]) for i in range(dim)])
        for r in trained
    )
    # repartition by cell before the write: one file per cell instead
    # of a per-task small-file spray — at scale, cell IS the layout key
    # (serve-side partition pruning reads whole cells)
    (
        ivf_assignments(emb, cents, vec_col)
        .withColumn("_nrm", _norm(F.col(vec_col)))
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(os.path.join(path, "vectors"))
    )


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_probe: int = 2,
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
) -> DataFrame:
    """Serve top-k from a PERSISTED ``write_ivf_index`` index.  The
    scoring math is identical to ``ivf_trained_topk`` (same codebook,
    same rounded-cosine ranking), so the two answers are bit-equal and
    share one oracle — what differs is the serve-time cost model:

    - the codebook read is ≤ n_centroids rows (bounded collect, the
      index dictionary);
    - the probed cell ids (≤ n_queries × n_probe values, bounded) are
      collected and applied as a STATIC ``isin`` partition filter, so
      the scan reads ONLY the probed cells' files — serve cost is
      O(probed cells), not O(corpus), the inverted-file property made
      physical by the partition layout (plan-pinned: the vectors scan
      must show a non-empty ``PartitionFilters``);
    - assignment and norms come from the index — no full-corpus
      projection at serve time.
    """
    import os

    cb = spark.read.parquet(os.path.join(path, "codebook")).collect()
    cents = sorted(
        (int(r["cen_id"]), [float(r[f"d{i}"]) for i in range(dim)])
        for r in cb
    )
    probes = (
        _ivf_with_cells(
            queries.filter(F.col("vec_id") < n_queries), cents, vec_col
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col(vec_col).alias("_qv"),
            _norm(F.col(vec_col)).alias("_qn"),
            F.explode(F.slice(F.col("_cells"), 1, n_probe)).alias("_c"),
        )
        .select(
            "query_id", "_qv", "_qn",
            (-F.col("_c")["neg_cen"]).alias("cell"),
        )
    )
    probed_cells = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )
    assigned = (
        spark.read.parquet(os.path.join(path, "vectors"))
        .filter(F.col("cell").isin(probed_cells))
        .withColumn("cell", F.col("cell").cast("long"))
    )
    sim = F.round(
        _cos_pre(
            F.col("_qv"), F.col(vec_col), F.col("_qn"), F.col("_nrm")
        ),
        6,
    )
    scored = (
        assigned.join(F.broadcast(probes), on="cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sim.alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def clustered_corpus(
    emb: DataFrame, n_clusters: int = 8, vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic clustered variant of an embedding corpus, for the
    recall harnesses.

    The driver fixture's vectors are uniform on the unit sphere — no
    cluster structure — which makes ANN recall numbers degenerate (PQ
    recall@5 ≈ 0.12 there is EXPECTED at a 3-bit/subspace budget on
    structureless data, and Lloyd rounds cannot help).  Real embedding
    corpora are clustered; this operator synthesizes that regime from
    the same fixture with arithmetic BOTH engines reproduce
    bit-for-bit: cluster id = ``vec_id % n_clusters``, a ±1 centroid
    pattern from pure integer arithmetic, and an exact 1/2–1/2 blend
    (0.5 is a power of two, ±1 products are exact, and the single
    double addition is correctly rounded identically under IEEE-754 in
    Spark and DuckDB — no rounding crutch needed).

    The blend keeps within-cluster cosine ≈ 0.97–0.99 with real
    ordering variation from the uniform component, and cross-cluster
    cosine well below.  Measured at sf0.01 (pinned in
    ``tests/test_dedup_graph.py::test_clustered_recall_ordering``):
    seed IVF ≈ 0.94, trained ≥ seed; PQ ≈ 0.08 — far above the 0.01
    global-random floor (the codes resolve CLUSTER MEMBERSHIP) but at
    the within-cluster random floor k/cluster_size, because 3
    bits/subspace cannot rank inside a tight cluster.  That is the
    measured argument for the standard scale composition: IVF cells
    for the coarse cut, PQ codes over residuals for the fine ranking.
    Zero-shuffle narrow projection; composes with every harness.
    """
    centroid = (
        f"(CASE WHEN ((vec_id % {n_clusters}) * 31 + i) % 7 < 4 "
        "THEN 1.0D ELSE -1.0D END)"
    )
    return emb.select(
        "vec_id",
        F.expr(
            f"transform({vec_col}, (x, i) -> "
            f"0.5D * {centroid} + 0.5D * CAST(x AS DOUBLE))"
        ).alias(vec_col),
    )


def ann_recall(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Recall@k of the sign-LSH ANN path against exact brute force —
    the self-evaluation harness for the approximate index ("measure,
    don't guess": bucket-count / plane-sizing changes are judged by this
    number, not by intuition).

    Output: query_id, n_exact, n_hit, recall (n_hit / k as a rounded
    double — both engines divide identical IEEE doubles, so the oracle
    matches bit-for-bit).  Both legs reuse the production operators, so
    this measures exactly what ships.
    """
    exact = brute_force_topk(emb, n_queries, k, vec_col)
    approx = lsh_topk(emb, n_queries, k, vec_col, planes)
    return _recall_rollup(exact, approx)


def _recall_rollup(exact: DataFrame, approx: DataFrame) -> DataFrame:
    """Per-query recall of ``approx`` top-k against ``exact`` top-k.

    Both sides are harness panels bounded at n_queries x k rows (a few
    hundred), but the approx side arrives through a corpus-wide
    window, so the planner's size estimate is corpus-sized and it
    picks a sort-merge join — two Exchanges plus sorts to match a few
    hundred rows.  The explicit broadcast of the (bounded, build-side-
    legal for the left-outer) approx side collapses the rollup to one
    BroadcastHashJoin; at any corpus scale the panel stays
    n_queries x k, so the hint is size-safe by construction."""
    hits = approx.select(
        "query_id", "neighbor_id", F.lit(1).alias("_hit")
    )
    joined = exact.join(
        F.broadcast(hits), on=["query_id", "neighbor_id"], how="left"
    )
    return joined.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
        .cast("long")
        .alias("n_hit"),
        F.round(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("recall"),
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within LSH buckets
    (vec_a < vec_b, cosine ≥ threshold) — the embedding analog of the
    MinHash near-dup dedup.  Single-signature variant; prefer
    ``banded_near_dup_pairs`` when recall matters at scale."""
    bucketed = with_lsh_bucket(emb, vec_col, planes).withColumn(
        "_nrm", _norm(F.col(vec_col))
    )
    a = bucketed.select(
        "bucket",
        F.col("vec_id").alias("vec_a"),
        F.col(vec_col).alias("_va"),
        F.col("_nrm").alias("_na"),
    )
    b = bucketed.select(
        "bucket",
        F.col("vec_id").alias("vec_b"),
        F.col(vec_col).alias("_vb"),
        F.col("_nrm").alias("_nb"),
    )
    sim = F.round(
        _cos_pre(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")),
        6,
    )
    return (
        a.join(b, on="bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "sim")
    )


def banded_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    planes: list[list[float]] | None = None,
    n_bands: int = EMB_BANDS,
    bucket_cap: int = BUCKET_CAP,
) -> DataFrame:
    """Banded-LSH embedding near-dup pairs: candidates from ANY of the
    ``n_bands`` sub-signature buckets (deduped), then cosine-verified.

    The scale path the single-signature variant can't be: per band the
    expected bucket size is n/2^(planes/n_bands) — the cross term is
    O(n²/2^R) per band, with recall recovered by the band union instead
    of by shrinking R.  Degenerate buckets (e.g. the all-zeros region)
    are dropped by ``bucket_cap``, same skew guard as the MinHash path.
    The only wide ops: the band-bucket join and the candidate-pair
    distinct, both keyed near-uniformly.
    """
    banded = with_band_buckets(emb, vec_col, planes, n_bands).withColumn(
        "_nrm", _norm(F.col(vec_col))
    )
    w = Window.partitionBy("band_id", "band_key")
    capped = banded.withColumn("_n", F.count(F.lit(1)).over(w)).filter(
        F.col("_n") <= bucket_cap
    )
    a = capped.select(
        "band_id", "band_key", F.col("vec_id").alias("vec_a"),
        F.col(vec_col).alias("_va"), F.col("_nrm").alias("_na"),
    )
    b = capped.select(
        "band_id", "band_key", F.col("vec_id").alias("vec_b"),
        F.col(vec_col).alias("_vb"), F.col("_nrm").alias("_nb"),
    )
    pairs = (
        a.join(b, on=["band_id", "band_key"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "_va", "_vb", "_na", "_nb")
        .dropDuplicates(["vec_a", "vec_b"])  # union of bands, deduped
    )
    sim = F.round(
        _cos_pre(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")),
        6,
    )
    return (
        pairs.withColumn("sim", sim)
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "sim")
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.975,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    cell_cap: int = SEM_CELL_CAP,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding corpus
    (Abbas et al. 2023, public method): cluster the vectors with the
    IVF coarse quantizer, compute pairwise cosine ONLY within each
    cell, and drop any vector that has a lower-id neighbor at
    ``sim >= threshold`` (the greedy keep-one rule — deliberately not
    a transitive closure; SemDeDup keeps one exemplar per tight
    semantic ball, and a chain of balls is kept per-ball).

    Plan shape / scale path: assignment is the shuffle-free inlined-
    codebook projection (``ivf_assignments``); the quadratic cosine
    work is confined within cells by a cell equi-join — O(Σ|cell|²)
    instead of O(n²), the same bound SemDeDup runs 100 TB-scale with.
    k-means keeps cells balanced on real corpora, but a
    boilerplate-heavy mode can collapse into one mega-cell, so the
    O(Σ|cell|²) bound is ENFORCED, not assumed: cells larger than
    ``cell_cap`` are excluded from pair scoring (their members are all
    kept — the conservative direction for a dedup: never a wrong drop)
    and ``semantic_cell_stats`` reports exactly what the cap forfeited,
    the same cap-plus-accounting contract as the LSH ``BUCKET_CAP``
    tier.  The per-cell count is a ``groupBy("cell")`` aggregate
    (map-side partial counts → ≤ n_centroids rows) broadcast-joined
    back onto the corpus, so an over-cap mega-cell is filtered
    map-side without ever co-locating its rows — a cell-keyed
    ``Window`` count would shuffle-and-sort the whole mega-cell into
    ONE task before discarding it, re-introducing the very hotspot the
    cap exists to prevent (plan-pinned: no WindowExec over the corpus).
    Norms are attached per ROW before the join (``_cos_pre``), so each
    vector's norm folds once, not once per pair.

    The assignment projection (n_centroids × dim dot products per row)
    is the expensive per-row expression, and FOUR downstream branches
    consume it (cell counts, both pair-join sides, the final output
    join) — so it is materialized ONCE via ``session.materialize``
    rather than re-evaluated per branch.  At 100 TB that is one corpus
    scan of the codebook math instead of four.

    Output: vec_id, cell, keep (1/0), dup_of (the chosen exemplar's
    vec_id, -1 when kept).
    """
    cents = sorted(
        (r[0], r[1])
        for r in emb.filter(F.col("vec_id") < n_centroids)
        .select("vec_id", vec_col)
        .collect()
    )
    assigned = _materialize(
        ivf_assignments(emb, cents, vec_col).withColumn(
            "_nrm", _norm(F.col(vec_col))
        )
    )
    under_cap_cells = (
        assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("_cn"))
        .filter(F.col("_cn") <= cell_cap)
        .select("cell")
    )
    sized = assigned.join(F.broadcast(under_cap_cells), on="cell")
    a = sized.select(
        "cell", F.col("vec_id").alias("_ia"),
        F.col(vec_col).alias("_va"), F.col("_nrm").alias("_na"),
    )
    b = sized.select(
        "cell", F.col("vec_id").alias("_ib"),
        F.col(vec_col).alias("_vb"), F.col("_nrm").alias("_nb"),
    )
    sim = F.round(
        _cos_pre(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb")),
        6,
    )
    drops = (
        a.join(b, on="cell")
        .filter(F.col("_ia") > F.col("_ib"))
        .withColumn("_sim", sim)
        .filter(F.col("_sim") >= threshold)
        .groupBy(F.col("_ia").alias("vec_id"))
        .agg(F.min("_ib").alias("_dup"))
    )
    return (
        assigned.select("vec_id", "cell")
        .join(drops, on="vec_id", how="left")
        .select(
            "vec_id",
            "cell",
            F.when(F.col("_dup").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("keep"),
            F.coalesce(F.col("_dup"), F.lit(-1))
            .cast("long")
            .alias("dup_of"),
        )
    )


def semantic_cell_stats(
    emb: DataFrame,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    cell_cap: int = SEM_CELL_CAP,
) -> DataFrame:
    """Coverage report for ``semantic_dedup``'s cell cap — the
    SemDeDup analog of ``simhash_band_stats``: how many cells exist,
    how many exceed ``cell_cap`` (and are therefore excluded from pair
    scoring, members kept), how many vectors that exclusion forfeits,
    and how close the hottest cell is to the cap.  Capped coverage
    loss is a reported number, never a silent collapse.

    One aggregate over the shuffle-free ``ivf_assignments`` projection
    (cell-keyed partial counts → n_centroids rows → one global row);
    nothing corpus-sized leaves the executors.

    Output (one row): n_cells, n_dropped_cells, n_docs_dropped,
    max_cell.
    """
    cents = sorted(
        (r[0], r[1])
        for r in emb.filter(F.col("vec_id") < n_centroids)
        .select("vec_id", vec_col)
        .collect()
    )
    per_cell = (
        ivf_assignments(emb, cents, vec_col)
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return per_cell.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(F.when(F.col("_n") > cell_cap, 1).otherwise(0))
        .cast("long")
        .alias("n_dropped_cells"),
        F.sum(F.when(F.col("_n") > cell_cap, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("n_docs_dropped"),
        F.max("_n").cast("long").alias("max_cell"),
    )


def ivf_train(
    emb: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 2,
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
    seed: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Lloyd's k-means refinement of the IVF codebook — the training
    step that turns ``ivf_topk``'s deterministic seed into a fitted
    quantizer.  Output: cen_id, n_members, d0..d{dim-1} (the refined
    centroid, per-dimension columns).

    Each iteration is (1) the shuffle-free inlined-codebook assignment
    (``ivf_assignments`` — zero Exchange) and (2) ONE aggregate keyed by
    cell: per-dimension means as decimal-exact sums (order-independent,
    so cross-engine deterministic) divided by the member count, rounded
    to 6 dp.  Map-side partials reduce the shuffle to
    n_centroids × n_tasks rows regardless of corpus size; the per-round
    driver ``collect`` is just the codebook (k × dim scalars) — the
    thing that gets re-inlined (broadcast) for the next assignment,
    exactly how an IVF index build distributes its dictionary.  Cells
    that end an iteration empty are dropped (standard Lloyd's with
    dead-centroid pruning); seed centroids are the first
    ``n_centroids`` vec_ids, so the whole fit is reproducible.
    """
    if seed is None:
        seed = seed_cents(emb, n_centroids, vec_col)
    cents = seed
    rolled = None
    for it in range(n_iters):
        assigned = ivf_assignments(emb, cents, vec_col)
        aggs = [F.count(F.lit(1)).cast("long").alias("n_members")] + [
            F.round(
                F.sum(F.col(vec_col)[i].cast("decimal(38,12)"))
                .cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias(f"d{i}")
            for i in range(dim)
        ]
        rolled = assigned.groupBy("cell").agg(*aggs)
        if it < n_iters - 1:
            cents = sorted(
                (int(r["cell"]), [float(r[f"d{i}"]) for i in range(dim)])
                for r in rolled.collect()
            )
    return rolled.select(
        F.col("cell").alias("cen_id"),
        "n_members",
        *[f"d{i}" for i in range(dim)],
    )


def ivf_trained_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    n_iters: int = 2,
    n_probe: int = 2,
    vec_col: str = "embedding",
    dim: int = EMBED_DIM,
    seed: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """The full production IVF path: fit the codebook with Lloyd's
    (``ivf_train``), then serve top-k from the FITTED cells — the
    train→serve composition ``ivf_topk``'s deterministic seed stands in
    for.

    The only driver round-trip between the stages is the trained
    codebook itself (≤ k × dim scalars — the same collect ``ivf_train``
    already ends on), re-inlined as plan literals for the shuffle-free
    assignment; everything else stays distributed.  Rounded 6-dp
    centroid means are what both engines serve from, so the oracle
    reproduces the scores bit-for-bit.
    """
    trained = ivf_train(emb, n_centroids, n_iters, vec_col, dim, seed=seed)
    cents = sorted(
        (int(r["cen_id"]), [float(r[f"d{i}"]) for i in range(dim)])
        for r in trained.collect()
    )
    return _ivf_topk_with_cents(
        emb, cents, n_queries, k, n_probe, vec_col
    )


def _pq_seed_codebook(
    emb: DataFrame, n_codes: int, vec_col: str
) -> list[list[float]]:
    """Seeded sub-codebook source: the first ``n_codes`` vec_ids' full
    vectors (subspace slicing happens at expression-build time)."""
    cb = sorted(
        (r[0], list(r[1]))
        for r in emb.filter(F.col("vec_id") < n_codes)
        .select("vec_id", vec_col)
        .collect()
    )
    if len(cb) != n_codes:
        # the serve expressions stride the distance array by n_codes —
        # a short codebook would silently index across subspace
        # boundaries, so refuse rather than corrupt
        raise ValueError(
            f"codebook needs vec_ids 0..{n_codes - 1} present; "
            f"found {len(cb)}"
        )
    return [vec for _, vec in cb]


#: Residual (vector − assigned cell centroid) off the broadcast IVF
#: codebook column ``_cb`` (carried through from ``_ivf_with_cells``):
#: the centroid lookup is a ≤ n_centroids scan of the broadcast struct
#: array — exact double subtraction, bit-identical to the old inlined
#: CASE-literal form (same centroid doubles, same zip_with order).
_RES_EXPR = (
    "zip_with({vec}, element_at(filter(_cb, c -> c.cen_id = cell), 1).vec, "
    "(x, c) -> CAST(x AS DOUBLE) - c)"
)


def _pq_codebook_df(spark, subcents: list[list[list[float]]]):
    """The PQ sub-codebooks as a ONE-ROW broadcastable table: ``_pqcb``
    is the m-major flattening of ``subcents[m][c]`` (one length-d
    array<double> per (subspace, code), code-minor) — the broadcast
    analog of the old inlined-literal sub-codebooks, same rationale as
    ``_ivf_codebook_df``."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    schema = StructType([
        StructField(
            "_pqcb",
            ArrayType(ArrayType(DoubleType(), False), False),
            False,
        )
    ])
    flat = [
        [float(v) for v in cent] for cents in subcents for cent in cents
    ]
    return spark.createDataFrame([(flat,)], schema)


def _pq_dists_df(
    emb: DataFrame,
    subcents: list[list[list[float]]],
    d: int,
    vec_col: str,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(vec_id, _dists): ONE m-major array of all n_subspaces*n_codes
    rounded DECIMAL(20,6) sub-distances per row, pinned behind an
    explode(array(...)) Generate barrier so projection collapse cannot
    re-inline the HOF folds into every downstream code/LUT expression
    — this array IS the ADC lookup table on the query side and feeds
    the per-subspace argmins on the corpus side, so each distance
    compiles and evaluates exactly once (inlining them twice put ~130
    expressions through Janino and cost ~7 s before the first row).

    The sub-codebooks arrive as a broadcast one-row table
    (``_pq_codebook_df``); one indexed transform() replaces the old
    per-(m,c) inlined-literal expressions — identical ops in identical
    order (slice by ``i div n_codes``, the same zip_with/aggregate
    L2² fold, round 6, DECIMAL(20,6) cast), so ``_dists`` is
    bit-unchanged.

    ``subcents[m][c]`` = centroid c of subspace m (length-d list)."""
    n_codes = len(subcents[0])
    cb = _pq_codebook_df(emb.sparkSession, subcents)
    dists = (
        f"transform(_pqcb, (cent, i) -> CAST(round(aggregate(zip_with("
        f"slice({vec_col}, (i div {n_codes}) * {d} + 1, {d}), cent, "
        "(x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "0.0D, (acc, x) -> acc + x), 6) AS DECIMAL(20,6)))"
    )
    return emb.crossJoin(F.broadcast(cb)).select(
        "vec_id",
        *extra_cols,
        F.explode(F.expr(f"array({dists})")).alias("_dists"),
    )


def _pq_code_expr(m: int, n_codes: int) -> str:
    sl = f"slice(_dists, {m * n_codes + 1}, {n_codes})"
    return f"(array_position({sl}, array_min({sl})) - 1)"


def _pq_serve(
    based: DataFrame, n_queries: int, k: int, n_subspaces: int, n_codes: int
) -> DataFrame:
    """codes + LUT + ADC join + per-query rank over a ``_pq_dists_df``
    output."""
    enc = based.select(
        "vec_id",
        *[
            F.expr(_pq_code_expr(m, n_codes)).cast("int").alias(f"_c{m}")
            for m in range(n_subspaces)
        ],
    )
    queries = based.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("_dists").alias("_lut")
    )
    adist = " + ".join(
        f"element_at(_lut, {m * n_codes} + _c{m} + 1)"
        for m in range(n_subspaces)
    )
    scored = (
        enc.join(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(f"CAST(({adist}) AS DOUBLE)").alias("adist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adist")
    )


def _pq_subcents(
    seeds: list[list[float]], n_subspaces: int, d: int
) -> list[list[list[float]]]:
    return [
        [seed[m * d:(m + 1) * d] for seed in seeds]
        for m in range(n_subspaces)
    ]


def pq_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_subspaces: int = 8,
    n_codes: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN top-k (Jégou et al. 2011): vectors are
    split into ``n_subspaces`` sub-vectors, each encoded as its nearest
    sub-codebook centroid (L2², ties to the smallest code), and queries
    score candidates by ADC — a per-query lookup table of
    query-sub-vector→centroid distances, so the corpus side of the scan
    does ``n_subspaces`` array lookups and adds per candidate instead
    of a full-dimension distance.

    Sub-codebooks are deterministic for oracle parity (centroid ``c``
    of every subspace = sub-vector of vec_id ``c`` — the seeded analog
    of ``ivf_topk``'s coarse quantizer; ``pq_trained_topk`` is the
    fitted composition).

    Output: query_id, neighbor_id, rank, adist — ranked (adist ASC,
    neighbor ASC); distances are rounded to 6 dp and summed as
    DECIMAL(20,6) so the total is exact and order-independent across
    engines.

    Scale shape: the collect is codebook-only (n_codes rows).  Encoding
    is a narrow per-row projection (the 64-entry distance set folds
    JVM-side); at 100 TB the 8-byte code column REPLACES the stored
    vector for search — a 32× memory cut that is the actual point of
    PQ — and composes with IVF cell pruning for the candidate set,
    which here is the same broadcast join the other ANN harnesses use.
    """
    seeds = _pq_seed_codebook(emb, n_codes, vec_col)
    dim = len(seeds[0])
    if dim % n_subspaces:  # pragma: no cover
        raise ValueError("vector dim must divide by n_subspaces")
    d = dim // n_subspaces
    based = _pq_dists_df(
        emb, _pq_subcents(seeds, n_subspaces, d), d, vec_col
    )
    return _pq_serve(based, n_queries, k, n_subspaces, n_codes)


def pq_train(
    emb: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 8,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """One Lloyd refinement of the seeded sub-codebooks, per subspace:
    assign every sub-vector to its nearest seed centroid (the same
    rounded-DECIMAL argmin the serve path uses), then move each
    centroid to the per-dimension MEAN of its members (empty cells keep
    their seed).  One round matches the fitted-IVF precedent — on this
    corpus further rounds move centroids without moving recall, and
    every collect stays codebook-sized.

    Means are DECIMAL(30,6)-summed / count and divided as double, so
    the trained centroids are bit-identical to the oracle's regardless
    of aggregation order.  Returns ``subcents[m][c]`` for
    ``pq_trained_topk``."""
    seeds = _pq_seed_codebook(emb, n_codes, vec_col)
    dim = len(seeds[0])
    if dim % n_subspaces:  # pragma: no cover
        raise ValueError("vector dim must divide by n_subspaces")
    d = dim // n_subspaces
    subcents = _pq_subcents(seeds, n_subspaces, d)
    # the vector rides through the dists Generate barrier (extra_cols)
    # instead of being re-joined on vec_id afterwards: the means pass
    # needs no Exchange at all before its one aggregate
    based = _pq_dists_df(emb, subcents, d, vec_col, extra_cols=(vec_col,))
    coded = based.select(
        vec_col,
        *[
            F.expr(_pq_code_expr(m, n_codes)).cast("int").alias(f"_c{m}")
            for m in range(n_subspaces)
        ],
    )
    # (m, code, dim-position, component) rows -> per-(m,c,dim) means.
    # ONE inline() of all subspaces' (m, code, sub-vector) structs, then
    # one posexplode: the previous n_subspaces-way union re-derived the
    # whole scan+dists subtree per subspace (union branches share no
    # CSE), i.e. n_subspaces corpus scans for one training pass.  The
    # per-(m,c,i) row set is identical (a null/short vector slices to
    # the same dropped rows), and the mean is an order-independent
    # decimal sum / count, so the trained centroids are bit-unchanged.
    subs = ", ".join(
        f"named_struct('_m', {m}, '_c', _c{m}, "
        f"'_sub', slice({vec_col}, {m * d + 1}, {d}))"
        for m in range(n_subspaces)
    )
    allp = coded.select(F.expr(f"inline(array({subs}))")).select(
        "_m", "_c", F.posexplode("_sub").alias("_i", "_v")
    )
    means = (
        allp.groupBy("_m", "_c", "_i")
        .agg(
            (
                F.sum(F.col("_v").cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("_mean")
        )
        .collect()
    )
    trained = [
        [list(cent) for cent in cents] for cents in subcents
    ]  # deep copy; empty cells keep seeds
    got: dict[tuple[int, int], dict[int, float]] = {}
    for row in means:
        got.setdefault((row["_m"], row["_c"]), {})[row["_i"]] = row["_mean"]
    for (m, c), dims in got.items():
        for i, v in dims.items():
            trained[m][c][i] = v
    return trained


def pq_trained_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_subspaces: int = 8,
    n_codes: int = 8,
    vec_col: str = "embedding",
) -> DataFrame:
    """Train → serve in one query: fitted sub-codebooks from
    ``pq_train`` re-inlined as plan literals feeding the same ADC serve
    plan as ``pq_topk`` — the production PQ path (fit offline,
    broadcast the codebook, encode + search shuffle-free)."""
    trained = pq_train(emb, n_subspaces, n_codes, vec_col)
    d = len(trained[0][0])  # sub-vector length, no second seed collect
    based = _pq_dists_df(emb, trained, d, vec_col)
    return _pq_serve(based, n_queries, k, n_subspaces, n_codes)


def ivfpq_codebooks(
    emb: DataFrame,
    n_centroids: int = 16,
    n_subspaces: int = 8,
    n_codes: int = 8,
    vec_col: str = "embedding",
) -> tuple[list[tuple[int, list[float]]], list[list[list[float]]]]:
    """The two driver-side dictionaries of the IVFADC index — the coarse
    IVF codebook (seed cents) and the residual PQ sub-codebooks — as one
    reusable pair.  ``ivfpq_topk`` and ``ivfpq_rerank_topk`` derive the
    pair themselves when not given one; harnesses running BOTH paths
    over one corpus (the ADC/rerank recall ladder) compute it once and
    pass it to each, halving the codebook collects without changing a
    single inlined literal."""
    cents = seed_cents(emb, n_centroids, vec_col)
    if len(cents) != n_centroids:
        raise ValueError(
            f"IVF codebook needs vec_ids 0..{n_centroids - 1} present"
        )
    wc = _ivf_with_cells(emb, cents, vec_col)
    corpus = wc.select(
        "vec_id",
        (-F.col("_cells")[0]["neg_cen"]).alias("cell"),
        F.col(vec_col),
        "_cb",
    ).withColumn("_res", F.expr(_RES_EXPR.format(vec=vec_col)))
    seed_rows = sorted(
        (r[0], list(r[1]))
        for r in corpus.filter(
            (F.col("vec_id") >= n_centroids)
            & (F.col("vec_id") < n_centroids + n_codes)
        )
        .select("vec_id", "_res")
        .collect()
    )
    if len(seed_rows) != n_codes:
        raise ValueError(
            f"PQ seeds need vec_ids {n_centroids}.."
            f"{n_centroids + n_codes - 1} present"
        )
    seeds = [v for _, v in seed_rows]
    d = len(seeds[0]) // n_subspaces
    return cents, _pq_subcents(seeds, n_subspaces, d)


def ivfpq_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 2,
    n_subspaces: int = 8,
    n_codes: int = 8,
    vec_col: str = "embedding",
    codebooks: tuple | None = None,
) -> DataFrame:
    """IVF+PQ residual composition (Jégou et al. 2011, the IVFADC
    index): the coarse IVF quantizer assigns each vector to a cell,
    PQ encodes the RESIDUAL (vector − cell centroid), and queries
    probe their ``n_probe`` nearest cells scoring candidates by ADC
    with a per-(query, probed-cell) residual lookup table.

    This is the composition the clustered-corpus recall harness
    measured the need for (``clustered_corpus`` docstring): plain PQ
    resolves cluster membership but cannot rank WITHIN a tight cluster
    — its code budget is spent re-describing the cluster's absolute
    position.  Quantizing residuals spends all code bits on the
    within-cell offsets, which is exactly the fine structure the coarse
    quantizer cannot see.

    Scale shape: assignment and residuals are narrow projections
    (inlined centroid CASE — no join); sub-distances fold ONCE per row
    behind the ``_pq_dists_df`` Generate barrier; candidate generation
    is a cell equi-join against the broadcast probe LUTs (each corpus
    vector lives in exactly one cell, so no post-join dedup); the final
    cut is a per-query bounded window.  At 100 TB the 8-byte code
    column + cell id replace the stored vectors, and cells are the
    partition key — the standard billion-scale ANN layout.

    Determinism: residuals are exact double subtractions, sub-distances
    round to DECIMAL(20,6) before the argmin (ties → smallest code),
    ADC sums are exact decimal adds — bit-identical to the DuckDB
    oracle, which derives the sub-codebooks relationally from the same
    residual rows (seeds = residuals of vec_ids
    [n_centroids, n_centroids + n_codes)).

    Output: query_id, neighbor_id, rank, adist.
    """
    if codebooks is None:
        codebooks = ivfpq_codebooks(
            emb, n_centroids, n_subspaces, n_codes, vec_col
        )
    cents, subcents = codebooks
    d = len(subcents[0][0])
    wc = _ivf_with_cells(emb, cents, vec_col)
    res_expr = _RES_EXPR.format(vec=vec_col)
    corpus = wc.select(
        "vec_id",
        (-F.col("_cells")[0]["neg_cen"]).alias("cell"),
        F.col(vec_col),
        "_cb",
    ).withColumn("_res", F.expr(res_expr))

    cd = _pq_dists_df(corpus, subcents, d, "_res", extra_cols=("cell",))
    enc = cd.select(
        "vec_id",
        "cell",
        *[
            F.expr(_pq_code_expr(m, n_codes)).cast("int").alias(f"_c{m}")
            for m in range(n_subspaces)
        ],
    )

    probes = (
        wc.filter(F.col("vec_id") < n_queries)
        .select(
            "vec_id",
            F.col(vec_col),
            "_cb",
            F.explode(F.expr(f"slice(_cells, 1, {n_probe})")).alias("_pc"),
        )
        .select(
            "vec_id",
            (-F.col("_pc")["neg_cen"]).alias("cell"),
            F.col(vec_col),
            "_cb",
        )
        .withColumn("_res", F.expr(res_expr))
    )
    qlut = _pq_dists_df(
        probes, subcents, d, "_res", extra_cols=("cell",)
    ).select(
        F.col("vec_id").alias("query_id"),
        "cell",
        F.col("_dists").alias("_lut"),
    )

    adist = " + ".join(
        f"element_at(_lut, {m * n_codes} + _c{m} + 1)"
        for m in range(n_subspaces)
    )
    scored = (
        enc.join(F.broadcast(qlut), on="cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.expr(f"CAST(({adist}) AS DOUBLE)").alias("adist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adist")
    )


def ivfpq_rerank_topk(
    emb: DataFrame,
    n_queries: int = 10,
    k: int = 5,
    rerank: int = 20,
    n_centroids: int = 16,
    n_probe: int = 2,
    vec_col: str = "embedding",
    codebooks: tuple | None = None,
) -> DataFrame:
    """Two-stage ANN serving: IVFADC produces a cheap top-``rerank``
    candidate list per query, then the TRUE vectors of just those
    candidates are fetched and re-ranked by exact cosine — the standard
    production pattern (ADC for the scan, exact distances for the final
    order) that buys back the quantization error at the top of the
    list for O(n_queries × rerank) exact distance evaluations.

    Scale: the exact stage touches only candidate rows — its vector
    fetch is an equi-join on neighbor_id against the (candidate-sized)
    ADC output, and the query vectors broadcast; the expensive corpus
    scan stays 8-lookup ADC.  At 100 TB this is why stored vectors can
    live in slow storage: only ~R rows per query are ever read back.

    Output: query_id, neighbor_id, rank, sim (exact, round 6).
    """
    cand = ivfpq_topk(
        emb, n_queries, rerank, n_centroids, n_probe, vec_col=vec_col,
        codebooks=codebooks,
    ).select("query_id", "neighbor_id")
    qv = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_qn"),
    )
    nv = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col(vec_col).alias("_nv"),
        _norm(F.col(vec_col)).alias("_nn"),
    )
    sim = F.round(
        _cos_pre(F.col("_qv"), F.col("_nv"), F.col("_qn"), F.col("_nn")),
        6,
    )
    scored = (
        cand.join(F.broadcast(qv), on="query_id")
        .join(nv, on="neighbor_id")
        .select("query_id", "neighbor_id", sim.alias("sim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sim")
    )


def cell_label_purity(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-IVF-cell label purity — the embedding-space label audit.

    For each coarse-quantizer cell: how concentrated is ``label_col``?
    Against ground-truth generative labels this measures whether the
    quantizer RECOVERS the corpus structure (purity → 1 when every
    cell falls inside one cluster); against training labels it is the
    standard label-noise screen (a low-purity cell localizes
    mislabeled or out-of-distribution samples for review).  On the
    uniform fixture's stored ``label`` column purity sits at chance by
    construction — the labels there carry no geometry.

    Scale shape: assignment uses the same shuffle-free inlined-codebook
    projection as ``ivf_assignments`` (``_ivf_with_cells`` applied
    directly, so the label column rides along without a join-back);
    then ONE (cell, label) hash rollup
    with map-side partials, a second rollup and a row_number window
    over at most ``len(cents)`` × |labels| rows, and one equi-join of
    two cell-keyed micro-tables.  Nothing beyond the first aggregate
    touches corpus-sized data.

    Output: cell, n_vecs, majority_label, majority_n, purity.
    """
    with_cells = _ivf_with_cells(emb, cents, vec_col)
    per = with_cells.select(
        (-F.col("_cells")[0]["neg_cen"]).alias("cell"),
        F.col(label_col).alias("_lab"),
    )
    counts = per.groupBy("cell", "_lab").agg(
        F.count(F.lit(1)).alias("_n")
    )
    totals = counts.groupBy("cell").agg(
        F.sum("_n").cast("long").alias("n_vecs")
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("_n").desc(), F.col("_lab").asc()
    )
    top = (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(
            "cell",
            F.col("_lab").alias("majority_label"),
            F.col("_n").alias("majority_n"),
        )
    )
    return top.join(totals, on="cell").select(
        "cell",
        "n_vecs",
        "majority_label",
        "majority_n",
        F.round(
            F.col("majority_n").cast("double")
            / F.col("n_vecs").cast("double"),
            6,
        ).alias("purity"),
    )

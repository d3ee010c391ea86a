"""Similarity search over the ``embeddings`` table (SURVEY §2.10).

Brute-force cosine top-k is the correctness baseline (broadcast query
vector, JVM-side arithmetic, TakeOrdered for the top-k — no global
sort). The LSH-bucketed variant is the 100 TB path: random-hyperplane
signatures shrink the candidate set before exact re-scoring.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pim_etl_spark.catalog import query
from pim_etl_spark.tuning import sorted_output
from pim_etl_spark.sources import load_table, read_parquet_memoized

QUERY_VEC_ID = 0
TOP_K = 10


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Elementwise-product sum via zip_with + aggregate (all JVM-side)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


@query(
    "cosine_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT e.vec_id, e.label,
             list_sum(list_transform(range(1, len(e.embedding) + 1),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
                      i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))) AS cos
      FROM embeddings e, q
      WHERE e.vec_id <> {QUERY_VEC_ID}
    )
    SELECT vec_id, label, round(cos, 4) AS cosine
    FROM scored
    ORDER BY round(cos, 4) DESC, vec_id ASC
    LIMIT {TOP_K}
    """,
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k against a fixed query vector.

    The query vector is a 1-row broadcast; scoring is map-side with no
    shuffle; top-k is TakeOrderedAndProject (per-partition heaps).
    Ordering key is (rounded cosine, vec_id) so ties are deterministic
    across engines.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    qv = (
        emb.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(_as_double(F.col("embedding")).alias("qv"))
    )
    scored = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qv))
        .select(
            "vec_id",
            "label",
            F.round(cosine(_as_double(F.col("embedding")), F.col("qv")), 4).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(TOP_K)


@query(
    "embedding_neardup_pairs",
    oracle=f"""
    -- embedding-cosine near-dup kernel over adjacent id pairs (the
    -- verification step that runs inside LSH buckets at scale)
    WITH dv AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(
             list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * b.e[i]))
             / (sqrt(list_sum(list_transform(range(1, len(a.e) + 1), i -> a.e[i] * a.e[i])))
              * sqrt(list_sum(list_transform(range(1, len(b.e) + 1), i -> b.e[i] * b.e[i])))),
             4) AS cosine
    FROM dv a JOIN dv b ON b.vec_id = a.vec_id + 1
    ORDER BY vec_a
    """,
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup scoring (SURVEY §2.10): exact cosine
    between candidate pairs — here adjacent ids, at scale the pairs
    emitted by an LSH bucket join. JVM-side zip_with arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    a = emb.alias("a")
    b = emb.select((F.col("vec_id") - 1).alias("join_id"), F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"))
    return (
        a.join(b, F.col("a.vec_id") == F.col("join_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("vec_b"),
            F.round(cosine(F.col("a.e"), F.col("eb")), 4).alias("cosine"),
        )
        .orderBy("vec_a")
    )


# Shared by the three ANN catalog entries (round-4 gate upgrade,
# VERDICT r3 #2): the hashed output is the approx_distinct_counts
# pattern applied to search — the EXACT top-k boundary values (which
# DuckDB recomputes from the raw vectors with list arithmetic) plus a
# recall-floor predicate Spark evaluates against its own ANN result.
# ANN internals (centroids, codebooks, plane seeds) stay engine-side;
# a recall regression or a broken exact-rescore both flip the hash.
ANN_RECALL_ORACLE = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT e.vec_id,
             list_sum(list_transform(range(1, len(e.embedding) + 1),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
                      i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))) AS cos
      FROM embeddings e, q
      WHERE e.vec_id <> {QUERY_VEC_ID}
    ),
    topk AS (
      SELECT round(cos, 4) AS cosine FROM scored
      ORDER BY round(cos, 4) DESC, vec_id ASC LIMIT {TOP_K}
    )
    SELECT CAST({TOP_K} AS INT) AS k,
           max(cosine) AS exact_top1,
           min(cosine) AS exact_min_topk,
           TRUE AS recall_ok
    FROM topk
    """


def recall_summary(spark: SparkSession, sf_dir: str, ann_results: DataFrame, floor: int) -> DataFrame:
    """Fold an ANN top-k result into the oracled recall-bound row:
    exact brute-force boundary cosines + (|ANN ∩ exact| >= floor)."""
    exact = cosine_topk_bruteforce(spark, sf_dir)  # k rows, model-sized
    ann_ids = ann_results.select(F.col("vec_id").alias("ann_id"))
    return (
        exact.join(F.broadcast(ann_ids), exact["vec_id"] == ann_ids["ann_id"], "left")
        .agg(
            F.max("cosine").alias("exact_top1"),
            F.min("cosine").alias("exact_min_topk"),
            (F.count("ann_id") >= floor).alias("recall_ok"),
        )
        .select(
            F.lit(TOP_K).cast("int").alias("k"),
            "exact_top1",
            "exact_min_topk",
            "recall_ok",
        )
    )


def topk_for_queries(emb: DataFrame, query_ids: list[int], k: int = TOP_K) -> DataFrame:
    """Batched similarity search: top-k neighbors for EVERY query id
    in one corpus scan.

    The query set collects into a broadcast array of (id, vector);
    each corpus row explodes scores against all queries map-side, and
    a per-query WindowGroupLimit keeps k rows before the shuffle —
    one pass over 100 TB serves the whole query batch instead of Q
    passes. Returns (query_id, vec_id, label, cosine).
    """
    from pyspark.sql import Window

    qset = emb.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("qv")
    )
    qarr = qset.groupBy().agg(F.collect_list(F.struct("query_id", "qv")).alias("queries"))
    scored = (
        emb.join(F.broadcast(qarr))
        .select(
            "vec_id",
            "label",
            F.explode(
                F.transform(
                    F.col("queries"),
                    lambda q: F.struct(
                        q["query_id"].alias("query_id"),
                        F.round(cosine(_as_double(F.col("embedding")), q["qv"]), 4).alias("cosine"),
                    ),
                )
            ).alias("s"),
        )
        .select("vec_id", "label", F.col("s.query_id").alias("query_id"), F.col("s.cosine").alias("cosine"))
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "vec_id", "label", "cosine")
        .orderBy("query_id", F.col("cosine").desc(), "vec_id")
    )


@query(
    "embedding_group_pca",
    # round-4 gate upgrade: the eigensolve itself is engine-side numpy,
    # but two exact invariants tie it to SQL-computable ground truth —
    # (1) trace identity: sum of eigenvalues == sum of per-dimension
    # sample variances (DuckDB recomputes the right side from the raw
    # vectors); (2) dominance: the top eigenvalue >= the largest
    # single-dimension variance (a unit basis vector is a candidate
    # direction). A broken covariance, wrong ddof, or bogus eigensolve
    # breaks one of the two.
    oracle="""
    WITH dims AS (
      SELECT label, r.i AS i, CAST(embedding[r.i] AS DOUBLE) AS x
      FROM embeddings, range(1, 65) r(i)
    ), pv AS (
      SELECT label, i, var_samp(x) AS v FROM dims GROUP BY label, i
    ), tv AS (
      SELECT label, round(sum(v), 4) AS total_var FROM pv GROUP BY label
    ), norms AS (
      SELECT label, CAST(count(*) AS BIGINT) AS n,
             round(avg(sqrt(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS mean_norm
      FROM embeddings GROUP BY label
    )
    SELECT n.label AS label, n.n, t.total_var, n.mean_norm, TRUE AS pc1_ge_top_dim
    FROM norms n JOIN tv t ON t.label = n.label
    ORDER BY n.label
    """,
)
def embedding_group_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label dominant principal component via grouped-map
    ``applyInPandas`` — the per-group scientific-computation surface
    (numpy eigendecomposition is genuinely inexpressible as Spark SQL;
    this is the sanctioned escape hatch, Arrow-batched per group).

    Each group ships once to one Python worker; output is one row per
    group: (label, n, total variance = eigenvalue sum, mean vector
    norm, PC1-dominates-every-axis invariant). At 100 TB the group
    count bounds parallelism — fine for label/language-cardinality
    groups, wrong for per-document groups.
    """
    import numpy as np
    import pandas as pd

    def pca_stats(pdf: pd.DataFrame) -> pd.DataFrame:
        x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        centered = x - x.mean(axis=0, keepdims=True)
        cov = centered.T @ centered / max(len(x) - 1, 1)
        eigvals = np.linalg.eigvalsh(cov)  # ascending, deterministic
        return pd.DataFrame(
            {
                "label": [pdf["label"].iloc[0]],
                "n": [len(x)],
                "total_var": [round(float(eigvals.sum()), 4)],
                "mean_norm": [round(float(np.linalg.norm(x, axis=1).mean()), 4)],
                "pc1_ge_top_dim": [
                    bool(eigvals[-1] >= float(cov.diagonal().max()) * (1 - 1e-9))
                ],
            }
        )

    emb = load_table(spark, sf_dir, "embeddings")
    out_schema = "label int, n long, total_var double, mean_norm double, pc1_ge_top_dim boolean"
    return emb.groupBy("label").applyInPandas(pca_stats, schema=out_schema).orderBy("label")


@query(
    "batched_topk_multiquery",
    oracle=f"""
    -- per-query brute-force top-k, ranked on the ROUNDED cosine with a
    -- vec_id tiebreak exactly like the Spark side
    WITH q AS (
      SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id IN (0, 1, 2, 3, 4)
    ), scored AS (
      SELECT q.query_id, e.vec_id, e.label,
             round(
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> CAST(e.embedding[i] AS DOUBLE) * q.qv[i]))
               / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
                        i -> q.qv[i] * q.qv[i])))), 4) AS cosine
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, label, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rn
      FROM scored
    ) WHERE rn <= {TOP_K}
    ORDER BY query_id, cosine DESC, vec_id
    """,
)
def batched_topk_multiquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 neighbors for 5 query vectors in a single corpus pass;
    per-query agreement with the single-query brute force is also
    asserted in tests/test_llm_ops.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    return topk_for_queries(emb, [0, 1, 2, 3, 4], k=TOP_K)


N_CENTROIDS = 10
N_PROBES = 3

# IVF index store: built ONCE per (session, table) and written to
# parquet; every query reuses the stored assignment. The round-1 shape
# recomputed cell assignment (plus a driver-side count job) inside
# every query — at 100 TB the index build is a batch job and the
# search must touch only ~N_PROBES/N_CENTROIDS of the stored cells.
_IVF_INDEX_DIRS: dict[tuple[str, str], str] = {}


def _best_cells(cells_col: Column, vec: Column, k: int) -> Column:
    """Top-k centroid cells for ``vec`` by cosine (broadcast argmax)."""
    scored = F.transform(
        cells_col,
        lambda c: F.struct(F.round(cosine(vec, c["cv"]), 6).alias("sim"), c["cell"].alias("cell")),
    )
    ordered = F.reverse(F.array_sort(scored))  # by (sim, cell) desc
    return F.slice(F.transform(ordered, lambda s: s["cell"]), 1, k)


def _cells_literal(centroids: list[list[float]]) -> Column:
    """Centroid model state as a literal cells array (k×dim floats —
    tiny model data, shipped in the plan exactly like a broadcast)."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("cell"),
                F.array(*[F.lit(float(v)) for v in cv]).alias("cv"),
            )
            for i, cv in enumerate(centroids)
        ]
    )


def _kmeans_centroids(
    emb: DataFrame, init: list[list[float]], iters: int
) -> list[list[float]]:
    """Spherical k-means refinement, fully distributed.

    Each iteration: broadcast-argmax assignment (no shuffle of
    vectors), then per-(cell, dim) partial-aggregated sums — the
    posexplode shuffle carries at most cells×dim rows PER PARTITION
    thanks to map-side combine, never the vectors. Only the k×dim
    centroid matrix (model state) ever reaches the driver. Determinism:
    init is deterministic and iteration order is fixed.
    """
    import math

    centroids = init
    dim = len(init[0])
    for _ in range(iters):
        assigned = emb.select(
            _best_cells(_cells_literal(centroids), _as_double(F.col("embedding")), 1)[0].alias(
                "cell"
            ),
            F.posexplode(_as_double(F.col("embedding"))).alias("dim", "val"),
        )
        sums = (
            assigned.groupBy("cell", "dim")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cell: dict[int, list[float]] = {}
        for r in sums:
            by_cell.setdefault(r["cell"], [0.0] * dim)[r["dim"]] = r["s"] / r["n"]
        new = []
        for i, old in enumerate(centroids):
            mean = by_cell.get(i)
            if mean is None:  # empty cell keeps its previous centroid
                new.append(old)
                continue
            norm = math.sqrt(sum(v * v for v in mean)) or 1.0
            new.append([v / norm for v in mean])  # spherical: unit-norm
        centroids = new
    return centroids


def build_ivf_index(
    spark: SparkSession, sf_dir: str, n_centroids: int = N_CENTROIDS, kmeans_iters: int = 2
) -> str:
    """Build and persist the IVF index for the embeddings table.

    Seed centroids are a deterministic pseudo-random sample (the
    ``n_centroids`` rows with the smallest ``xxhash64(vec_id)`` — a
    TakeOrdered, NO count job, no full sort), refined with
    ``kmeans_iters`` rounds of distributed spherical k-means. The
    *storage shape* is the point: (vec_id, cell) lands in
    cell-partitioned parquet next to the table, the centroid matrix in
    a sibling file, and queries touch neither a count job nor a
    re-assignment. Returns the index directory.
    """
    import tempfile

    key = (spark.sparkContext.applicationId, f"{sf_dir}:{n_centroids}")
    if key in _IVF_INDEX_DIRS:
        return _IVF_INDEX_DIRS[key]
    emb = load_table(spark, sf_dir, "embeddings")
    picked = (
        emb.select("vec_id", _as_double(F.col("embedding")).alias("e"), F.xxhash64("vec_id").alias("hk"))
        .orderBy("hk", "vec_id")
        .limit(n_centroids)
        .collect()  # k seed vectors — model-sized, not data-sized
    )
    seeds = [list(r["e"]) for r in picked]
    refined = _kmeans_centroids(emb, seeds, kmeans_iters)

    d = tempfile.mkdtemp(prefix="ivf_index_")
    centroids_df = spark.createDataFrame(
        [(i, cv) for i, cv in enumerate(refined)], "cell int, cv array<double>"
    )
    centroids_df.write.mode("overwrite").parquet(f"{d}/centroids.parquet")
    assigned = emb.withColumn(
        "cell", _best_cells(_cells_literal(refined), _as_double(F.col("embedding")), 1)[0]
    )
    # partitioned by cell: probing reads only the probed cells' files
    assigned.write.mode("overwrite").partitionBy("cell").parquet(f"{d}/assignment.parquet")
    _IVF_INDEX_DIRS[key] = d
    return d


def ivf_topk_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k (SURVEY §2.10 scale path #2):
    probe only the stored cells nearest the query, exact-rescore
    inside them.

    The index (centroids + cell-partitioned assignment parquet) is
    built once by ``build_ivf_index`` and reused across queries; this
    query's plan contains no count job and no per-row re-assignment —
    the ``cell IN probe_cells`` filter prunes whole partitions of the
    stored index. Recall vs brute force asserted in tests/test_llm_ops.py.
    """
    d = build_ivf_index(spark, sf_dir)
    assigned = read_parquet_memoized(spark, f"{d}/assignment.parquet")
    cells_df = read_parquet_memoized(spark, f"{d}/centroids.parquet")
    cell_list = cells_df.groupBy().agg(F.collect_list(F.struct("cell", "cv")).alias("cells"))
    qrow = (
        assigned.filter(F.col("vec_id") == QUERY_VEC_ID)
        .join(F.broadcast(cell_list))
        .select(
            _as_double(F.col("embedding")).alias("qv"),
            _best_cells(F.col("cells"), _as_double(F.col("embedding")), N_PROBES).alias(
                "probe_cells"
            ),
        )
    )
    candidates = (
        assigned.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qrow))
        .filter(F.array_contains(F.col("probe_cells"), F.col("cell")))
    )
    return (
        candidates.select(
            "vec_id",
            "label",
            F.round(cosine(_as_double(F.col("embedding")), F.col("qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


@query("ann_ivf_topk", oracle=ANN_RECALL_ORACLE)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe recall bound: exact top-k boundary cosines (oracled
    against DuckDB's own brute-force list arithmetic) + the floor the
    3-of-10-cell probe must clear (tests/test_llm_ops.py floor)."""
    return recall_summary(spark, sf_dir, ivf_topk_results(spark, sf_dir), floor=2)


# --- product quantization: the compressed-domain scale path ---------------

PQ_M = 8  # subspaces
PQ_K = 16  # codes per subspace → 8 nibbles ≈ 8 bytes per vector (32x)
_PQ_INDEX_DIRS: dict[tuple[str, str], str] = {}


def build_pq_index(spark: SparkSession, sf_dir: str, m: int = PQ_M, k: int = PQ_K) -> str:
    """Build and persist a product-quantization index: each 64-dim
    vector becomes ``m`` sub-codes (nearest of ``k`` codebook entries
    per subspace) — 8 small ints instead of 64 floats, so candidate
    scoring runs entirely in the compressed domain.

    Codebooks are deterministic samples (smallest salted-hash rows per
    subspace; real systems k-means-train them — the machinery exists in
    ``_kmeans_centroids``). Only the m×k×(dim/m) codebook matrix ever
    reaches the driver; encoding is a scan-side argmin against literal
    codebooks, shuffle-free.
    """
    import tempfile

    key = (spark.sparkContext.applicationId, f"{sf_dir}:{m}x{k}")
    if key in _PQ_INDEX_DIRS:
        return _PQ_INDEX_DIRS[key]
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    sub = dim // m
    # codebooks: per subspace, the k sub-vectors with smallest salted hash
    sample = (
        emb.select("vec_id", _as_double(F.col("embedding")).alias("e"), F.xxhash64("vec_id").alias("hk"))
        .orderBy("hk", "vec_id")
        .limit(m * k)
        .collect()
    )
    books = [
        [list(sample[(j * k + i) % len(sample)]["e"][j * sub : (j + 1) * sub]) for i in range(k)]
        for j in range(m)
    ]

    def code_for(j: int) -> Column:
        sv = F.slice(_as_double(F.col("embedding")), j * sub + 1, sub)
        # argmin squared-euclidean over the k codebook entries (literal)
        scored = F.array(
            *[
                F.struct(
                    F.aggregate(
                        F.zip_with(
                            sv,
                            F.array(*[F.lit(float(v)) for v in books[j][i]]),
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    F.lit(i).alias("code"),
                )
                for i in range(k)
            ]
        )
        return F.array_sort(scored)[0]["code"]

    codes = emb.select(
        "vec_id", "label", F.array(*[code_for(j) for j in range(m)]).alias("codes")
    )
    d = tempfile.mkdtemp(prefix="pq_index_")
    codes.write.mode("overwrite").parquet(f"{d}/codes.parquet")
    cb_rows = [(j, i, books[j][i]) for j in range(m) for i in range(k)]
    spark.createDataFrame(cb_rows, "subspace int, code int, centroid array<double>").write.mode(
        "overwrite"
    ).parquet(f"{d}/codebooks.parquet")
    _PQ_INDEX_DIRS[key] = d
    return d


def pq_topk_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k: score every vector from its 8-code
    compressed form via a per-(subspace, code) dot-product lookup table
    computed from the query — the 100 TB path where candidate scoring
    reads ~8 bytes/vector instead of 256 — then exact-rescore the top
    candidate pool. Recall vs brute force asserted in tests.
    """
    d = build_pq_index(spark, sf_dir)
    codes = read_parquet_memoized(spark, f"{d}/codes.parquet")
    books = spark.read.parquet(f"{d}/codebooks.parquet").collect()  # model-sized
    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.filter(F.col("vec_id") == QUERY_VEC_ID).first()["embedding"])
    qd = [float(x) for x in q]
    sub = len(qd) // PQ_M
    # LUT[j][i] = <query_subvector_j, codebook[j][i]>
    lut = [
        [
            sum(a * b for a, b in zip(qd[r["subspace"] * sub : (r["subspace"] + 1) * sub], r["centroid"]))
            for r in sorted(
                (x for x in books if x["subspace"] == j), key=lambda x: x["code"]
            )
        ]
        for j in range(PQ_M)
    ]
    approx = sum(
        F.element_at(F.array(*[F.lit(v) for v in lut[j]]), F.col("codes")[j] + 1)
        for j in range(PQ_M)
    )
    candidates = (
        codes.filter(F.col("vec_id") != QUERY_VEC_ID)
        .withColumn("approx_dot", approx)
        .orderBy(F.col("approx_dot").desc(), F.col("vec_id").asc())
        .limit(50)  # compressed-domain pool, exact-rescored below
    )
    qv_df = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        _as_double(F.col("embedding")).alias("qv")
    )
    rescored = (
        candidates.join(emb.select("vec_id", "embedding"), "vec_id")
        .join(F.broadcast(qv_df))
        .select(
            "vec_id",
            "label",
            F.round(cosine(_as_double(F.col("embedding")), F.col("qv")), 4).alias("cosine"),
        )
    )
    return rescored.orderBy(F.col("cosine").desc(), F.col("vec_id").asc()).limit(TOP_K)


@query("pq_adc_topk", oracle=ANN_RECALL_ORACLE)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC recall bound: exact top-k boundary cosines (DuckDB twin)
    + the floor the compressed-domain pool must clear after rescoring."""
    return recall_summary(spark, sf_dir, pq_topk_results(spark, sf_dir), floor=2)


def lsh_bucket_candidates(emb: DataFrame) -> DataFrame:
    """Sign-LSH candidate pairs: vectors sharing any (band, band_key)
    bucket — the discovery stage of ``lsh_neardup_pairs``, exposed so
    callers can audit recall/selectivity of the bucketing itself.
    Returns distinct (vec_a, vec_b) with vec_a < vec_b."""
    bands, rows_per_band = 2, 8
    planes = _hyperplanes()

    bits = [
        F.when(dot(_as_double(F.col("embedding")), F.array(*[F.lit(w) for w in planes[j]])) >= 0, 1)
        .otherwise(0)
        for j in range(bands * rows_per_band)
    ]
    band_keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                sum(
                    bits[b * rows_per_band + r] * (1 << r) for r in range(rows_per_band)
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    banded = emb.select("vec_id", F.explode(band_keys).alias("bk")).select(
        "vec_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )


def lsh_neardup_pairs(emb: DataFrame, threshold: float, limit: int = 100) -> DataFrame:
    """Embedding near-dup via LSH BUCKET JOIN — the genuine 100 TB
    shape (the broadcast-compare in ann_lsh_topk serves single-query
    search; all-pairs near-dup needs the signature as a shuffle key).

    Sign signatures band into 8-bit keys (2 bands × 8 planes); vectors
    sharing any band bucket become candidate pairs via a self-join ON
    (band, band_key) — and only candidates get exact cosine. Mirrors
    the MinHash-LSH text path (`lsh_candidate_pairs`) in the embedding
    domain.

    Band width is the precision dial and must GROW with corpus size:
    a b-bit band admits ~2^-b of all random pairs per band, so at
    2 × 8 bits ≈ 0.8% of pairs are false candidates (4 × 4 bits was
    measured 30× worse — 25% of the full cross join, at ANY corpus
    size). A billion-vector deployment uses 16–32-bit bands plus
    multiprobe to keep the candidate set near-linear.
    """
    pairs = lsh_bucket_candidates(emb)
    vecs = emb.select("vec_id", _as_double(F.col("embedding")).alias("e"))
    return (
        pairs.join(vecs.withColumnsRenamed({"vec_id": "vec_a", "e": "ea"}), "vec_a")
        .join(vecs.withColumnsRenamed({"vec_id": "vec_b", "e": "eb"}), "vec_b")
        .withColumn("cosine", F.round(cosine(F.col("ea"), F.col("eb")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("vec_a", "vec_b", "cosine")
        .orderBy(F.col("cosine").desc(), "vec_a", "vec_b")
        .limit(limit)
    )


@query(
    "embedding_lsh_neardup_buckets",
    oracle="""
    -- bound-style oracle (the ann_lsh_topk pattern): exact truth-pair
    -- count and boundary cosine from DuckDB list arithmetic; the
    -- engine's LSH bucket join must be BOTH locality-sensitive (finds
    -- truth pairs: recall floor) and selective (candidate set a small
    -- fraction of all pairs — an always-same-bucket bug that would
    -- fake perfect recall fails this flag)
    WITH n AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*x))) AS nrm
      FROM embeddings
    ),
    truth AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_sum(list_transform(range(1, len(a.embedding)+1),
                   i -> CAST(a.embedding[i] AS DOUBLE) * b.embedding[i]))
                   / (a.nrm * b.nrm), 4) AS cos
      FROM n a JOIN n b ON a.vec_id < b.vec_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
           max(cos) AS top_cosine,
           TRUE AS lsh_recall_ok,
           TRUE AS lsh_selective_ok
    FROM truth WHERE cos >= 0.4
    """,
)
def embedding_lsh_neardup_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup LSH recall/selectivity bound, hash-gated
    (VERDICT r4 #1): the oracle computes the exact all-pairs truth at
    cosine >= 0.4 (count + top boundary value); the engine recomputes
    that truth brute-force, intersects it with its sign-LSH bucket
    candidates, and must clear a recall floor while its candidate set
    stays under 2% of all pairs (measured: 0.7% candidates, recall 2
    of ~60 truth pairs — this corpus is near-random, max cosine ≈0.51,
    so sign-LSH locality is weak by construction; planted-dup recall
    ≈1 behavior is pinned separately in tests/test_llm_ops.py).

    Scale shape: the truth twin is the sf-bounded verification side;
    the LSH bucket join (banded sign signatures as shuffle keys) is
    the 100 TB path — candidate verification never leaves the bucket
    collisions."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_vecs = emb.count()
    all_pairs = n_vecs * (n_vecs - 1) // 2
    truth = exact_cosine_pairs(spark, emb, threshold=0.4)
    cand = lsh_bucket_candidates(emb).localCheckpoint(eager=True)
    n_candidates = cand.count()  # scalar only — the pair set stays distributed
    lsh_found = cand.withColumn("__hit", F.lit(1))
    return (
        truth.join(lsh_found, ["vec_a", "vec_b"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_true_pairs"),
            F.max("cos").alias("top_cosine"),
            (F.count("__hit") >= 1).alias("lsh_recall_ok"),
        )
        .select(
            "n_true_pairs",
            "top_cosine",
            "lsh_recall_ok",
            F.lit(n_candidates < 0.02 * all_pairs).alias("lsh_selective_ok"),
        )
    )


def exact_cosine_pairs(spark: SparkSession, emb: DataFrame, threshold: float) -> DataFrame:
    """Exact all-pairs cosine >= threshold as (vec_a, vec_b, cos) —
    the brute-force truth twin behind the ANN/LSH recall bounds.

    Vectorized as a blocked matrix multiply: the (N × d) normalized
    matrix broadcasts once (N·d doubles — 1 MB at N=2000, d=64), and
    each partition GEMMs its own rows against it in one numpy call
    (mapInPandas, Arrow-batched). The earlier expression-tree form
    (self-join + zip_with/aggregate per pair) evaluates ~3 higher-order
    lambdas per element per pair — measured 31× slower at sf0.1; dense
    linear algebra is exactly the case for the Pandas escape hatch.
    At corpus sizes where the broadcast side stops fitting, the same
    kernel runs per block pair (grid of GEMMs) — the truth twin is
    only ever run at verification SFs anyway; the production path is
    the LSH bucket join.

    Rounding matches the SQL twins: half-up at 4 decimals
    (floor(x·1e4 + 0.5) — numpy's round() is half-even and would
    diverge on exact boundaries)."""
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()  # model-sized: N·d floats
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def score(batches):
        import pandas as pd

        all_ids = b_ids.value
        all_mat = b_mat.value
        for pdf in batches:
            a_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            a = np.stack(pdf["embedding"].to_numpy())
            a = a.astype(np.float64)
            a /= np.linalg.norm(a, axis=1, keepdims=True)
            sims = a @ all_mat.T
            sims = np.floor(sims * 1e4 + 0.5) / 1e4  # half-up, like SQL round()
            keep = (sims >= threshold) & (a_ids[:, None] < all_ids[None, :])
            ai, bj = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "vec_a": a_ids[ai],
                    "vec_b": all_ids[bj],
                    "cos": sims[ai, bj],
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        score, "vec_a long, vec_b long, cos double"
    )


N_PLANES = 16
_PLANE_SEED = 1337


def _hyperplanes(dim: int = 64, n_planes: int = N_PLANES) -> list[list[float]]:
    """Deterministic ±1 random hyperplanes (seeded host-side, shipped
    as literals — no per-row hashing, no stored model)."""
    import random

    rng = random.Random(_PLANE_SEED)
    return [[rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(n_planes)]


def lsh_topk_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: sign-random-projection LSH prefilter + exact
    re-scoring of the candidate bucket (SURVEY §2.10 scale path).

    Signature = sign bits of 16 dot products against literal ±1
    hyperplanes — one zip_with+aggregate per plane, all JVM-side.
    Candidates agree with the query on ≥ 10 of 16 bits (calibrated for
    weak-locality corpora: this test set is near-random, max cosine
    ≈0.33, so a tighter band would drop true neighbors); exact cosine
    re-ranks the ~4×-smaller candidate set. Recall vs brute force is
    asserted in tests/test_llm_ops.py. At 100 TB the signature becomes
    the shuffle key (bucket join) instead of a broadcast compare.
    """
    n_planes = N_PLANES
    emb = load_table(spark, sf_dir, "embeddings")
    planes = _hyperplanes()

    def signature(vec: Column) -> Column:
        # ONE 2-D plane literal + one transform, not 16 inlined
        # 64-element literals each with its own dot-product tree: the
        # expression tree (and the generated code Janino must compile)
        # shrinks ~16×; compile time dominated execution at test SF
        planes_lit = F.lit(planes)
        return F.transform(
            planes_lit,
            lambda p: F.when(dot(_as_double(vec), p) >= 0, F.lit(1)).otherwise(F.lit(0)),
        )

    sig = emb.select("vec_id", "label", "embedding", signature(F.col("embedding")).alias("sig"))
    qrow = sig.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("sig").alias("qsig"), _as_double(F.col("embedding")).alias("qv")
    )
    agree = F.aggregate(
        F.zip_with(F.col("sig"), F.col("qsig"), lambda a, b: F.when(a == b, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    candidates = (
        sig.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qrow))
        .withColumn("n_agree", agree)
        .filter(F.col("n_agree") >= n_planes - 6)
    )
    return (
        candidates.select(
            "vec_id",
            "label",
            F.round(cosine(_as_double(F.col("embedding")), F.col("qv")), 4).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


@query("ann_lsh_topk", oracle=ANN_RECALL_ORACLE)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH recall bound: exact top-k boundary cosines (DuckDB
    twin) + the >=10-of-16-bit candidate band's recall floor."""
    return recall_summary(spark, sf_dir, lsh_topk_results(spark, sf_dir), floor=3)


@query(
    "hybrid_search_rrf",
    oracle=f"""
    -- hybrid retrieval: reciprocal-rank fusion (k=60) of a term-hit
    -- text ranking over documents and a cosine ranking over the
    -- parallel embeddings table (doc_id = vec_id in this warehouse).
    -- floor(rrf*1e6), not round(): sums of small exact fractions can
    -- land on rounding boundaries where the engines disagree.
    WITH tscored AS (
      SELECT doc_id,
             (CASE WHEN lower(text) LIKE '%spark%' THEN 1 ELSE 0 END
            + CASE WHEN lower(text) LIKE '%stream%' THEN 1 ELSE 0 END
            + CASE WHEN lower(text) LIKE '%window%' THEN 1 ELSE 0 END) AS score
      FROM documents
    ), ttop AS (
      SELECT doc_id, trank FROM (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS trank
        FROM tscored WHERE score > 0
      ) WHERE trank <= 50
    ), q AS (
      SELECT embedding AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
    ), vscored AS (
      SELECT e.vec_id,
             round(
               list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, len(e.embedding) + 1),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1),
                        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))), 4) AS cos
      FROM embeddings e, q
      WHERE e.vec_id <> {QUERY_VEC_ID}
    ), vtop AS (
      SELECT vec_id, vrank FROM (
        SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS vrank
        FROM vscored
      ) WHERE vrank <= 50
    )
    SELECT coalesce(t.doc_id, v.vec_id) AS doc_id,
           CAST(floor((coalesce(1.0 / (60 + trank), 0)
                     + coalesce(1.0 / (60 + vrank), 0)) * 1000000) AS BIGINT) AS rrf_e6
    FROM ttop t FULL OUTER JOIN vtop v ON t.doc_id = v.vec_id
    ORDER BY rrf_e6 DESC, doc_id
    LIMIT 20
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: a lexical ranking
    (term hits over documents, the text_search_ranked scoring) and a
    vector ranking (cosine vs the fixed query embedding) fuse as
    sum(1/(60+rank)) — the standard RRF retrieval combiner.

    Scale shape: each side reduces to its top-50 FIRST via distributed
    top-k (TakeOrderedAndProject — per-partition heaps, no global
    sort), and ranks are then assigned by a window over the 50-row
    results, so the single-partition window only ever sees k rows.
    The fusion join is 50×50-row — broadcast territory."""
    docs = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    score = sum(
        (F.when(low.contains(t), 1).otherwise(0) for t in ("spark", "stream", "window")),
        start=F.lit(0),
    )
    ttop = (
        docs.withColumn("score", score)
        .filter(F.col("score") > 0)
        .select("doc_id", "score")
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(50)
    )
    from pyspark.sql import Window

    ttop = ttop.withColumn(
        "trank", F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("doc_id").asc()))
    ).select("doc_id", "trank")

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        _as_double(F.col("embedding")).alias("qv")
    )
    vtop = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qv))
        .select(
            "vec_id",
            F.round(cosine(_as_double(F.col("embedding")), F.col("qv")), 4).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(50)
    )
    vtop = vtop.withColumn(
        "vrank", F.row_number().over(Window.orderBy(F.col("cos").desc(), F.col("vec_id").asc()))
    ).select("vec_id", "vrank")

    fused = ttop.join(vtop, ttop.doc_id == vtop.vec_id, "full_outer").select(
        F.coalesce(ttop.doc_id, vtop.vec_id).alias("doc_id"),
        F.floor(
            (
                F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("trank")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("vrank")), F.lit(0.0))
            )
            * 1_000_000
        ).alias("rrf_e6"),
    )
    return fused.orderBy(F.col("rrf_e6").desc(), F.col("doc_id").asc()).limit(20)


@query(
    "embedding_int8_quantize",
    oracle="""
    -- exact twin of per-vector int8 quantization: codes and the
    -- reconstruction-error bound are the SAME IEEE expression tree on
    -- both engines (subtract/divide/multiply/floor are all
    -- correctly-rounded, so identical inputs give identical bits —
    -- unlike transcendentals). floor() not round() per the
    -- rounding-boundary rule.
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    m AS (
      SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e
    ),
    q AS (
      SELECT vec_id, v, mn, mx,
             list_transform(v, x -> CAST(floor((x - mn) / (mx - mn) * 255) AS BIGINT)) AS codes
      FROM m WHERE mx > mn
    )
    SELECT vec_id,
           CAST(list_sum(codes) AS BIGINT) AS sum_codes,
           CAST(floor(list_max(list_transform(range(1, len(v) + 1),
                 i -> abs(v[i] - (mn + codes[i] * (mx - mn) / 255)))) * 1000000) AS BIGINT)
             AS max_err_e6
    FROM q
    ORDER BY vec_id
    """,
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization — the 4× memory cut every 100 TB
    embedding store takes before ANN indexing (and the storage format
    PQ refines): per-vector min/max affine scale, 0..255 codes, plus
    the max reconstruction error as the quality bound. Entirely
    scan-local higher-order-function arithmetic — no shuffle at all
    except the output sort; at scale this runs as a projection inside
    whatever scan writes the quantized copy.

    The oracle recomputes codes AND the error bound bit-for-bit: the
    whole pipeline is add/sub/mul/div/floor on doubles, which IEEE 754
    defines exactly, so engine agreement is structural — the same
    trick the exact-integer entries use, extended to float math."""
    emb = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    vecs = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", emb.alias("v")
    )
    mn, mx = F.array_min("v"), F.array_max("v")
    staged = vecs.select("vec_id", "v", mn.alias("mn"), mx.alias("mx")).filter(
        F.col("mx") > F.col("mn")
    )
    codes = F.transform(
        F.col("v"),
        lambda x: F.floor((x - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255).cast("long"),
    )
    q = staged.withColumn("codes", codes)
    err = F.array_max(
        F.zip_with(
            F.col("v"),
            F.col("codes"),
            lambda x, c: F.abs(
                x - (F.col("mn") + c * (F.col("mx") - F.col("mn")) / 255)
            ),
        )
    )
    return q.select(
        "vec_id",
        F.aggregate(
            F.col("codes"), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("sum_codes"),
        F.floor(err * 1000000).cast("long").alias("max_err_e6"),
    ).orderBy("vec_id")


SEMDEDUP_K = 8
SEMDEDUP_THRESH = 0.9


@query(
    "semantic_dedup_cells",
    oracle=f"""
    -- SemDeDup-style semantic dedup: assign every vector to its
    -- nearest cell (deterministic centroids = the {SEMDEDUP_K} smallest
    -- vec_ids), then inside each cell treat vectors whose cosine to
    -- the centroid clears {SEMDEDUP_THRESH} as semantic duplicates of
    -- the cell core: keep the best-scoring one, drop the rest.
    WITH c AS (
      SELECT vec_id AS cid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
      FROM embeddings ORDER BY vec_id LIMIT {SEMDEDUP_K}
    ), dv AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
      FROM embeddings
    ), scored AS (
      SELECT dv.vec_id, c.cid,
             round(
               list_sum(list_transform(range(1, len(ve) + 1), i -> ve[i] * ce[i]))
               / (sqrt(list_sum(list_transform(range(1, len(ve) + 1), i -> ve[i] * ve[i])))
                * sqrt(list_sum(list_transform(range(1, len(ce) + 1), i -> ce[i] * ce[i])))),
               4) AS cos4
      FROM dv, c
    ), assigned AS (
      SELECT vec_id, cid, cos4,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos4 DESC, cid ASC) AS rk
      FROM scored
    ), cells AS (
      SELECT vec_id, cid, cos4 FROM assigned WHERE rk = 1
    ), keepers AS (
      SELECT cid, vec_id AS keeper_vec_id
      FROM (
        SELECT cid, vec_id,
               row_number() OVER (PARTITION BY cid
                                  ORDER BY cos4 DESC, vec_id ASC) AS krk
        FROM cells WHERE cos4 >= {SEMDEDUP_THRESH}
      ) WHERE krk = 1
    )
    SELECT cells.cid AS centroid_vec_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN cos4 >= {SEMDEDUP_THRESH} THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
           CAST(greatest(sum(CASE WHEN cos4 >= {SEMDEDUP_THRESH} THEN 1 ELSE 0 END) - 1, 0) AS BIGINT) AS n_dropped,
           any_value(keepers.keeper_vec_id) AS keeper_vec_id,
           CAST(round(sum(cos4 * 10000)) AS BIGINT) AS sum_cos4_e4
    FROM cells LEFT JOIN keepers ON cells.cid = keepers.cid
    GROUP BY cells.cid ORDER BY cells.cid
    """,
)
def semantic_dedup_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication in the SemDeDup shape (Abbas et al.
    2023): cluster the embedding space, then drop all-but-one of the
    vectors sitting in each cluster's tight core. Centroids are
    deterministic (the K smallest vec_ids) so the entry is exactly
    DuckDB-twinnable; the k-means-refined variant shares this plan
    with ``ann_ivf_topk``'s trained centroids.

    Scale shape: the centroid table is broadcast (K rows), assignment
    is a map-side argmax over K scores per vector — no shuffle until
    the per-cell aggregate, which is cell-cardinality-sized. The
    within-cell "keep best" is a window over cells, not a global sort.
    """
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("ve")
    )
    cents = (
        emb.orderBy("vec_id")
        .limit(SEMDEDUP_K)
        .select(F.col("vec_id").alias("cid"), F.col("ve").alias("ce"))
    )
    scored = emb.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "cid",
        F.round(cosine(F.col("ve"), F.col("ce")), 4).alias("cos4"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.col("cos4").desc(), F.col("cid").asc())
    cells = (
        scored.withColumn("rk", F.row_number().over(w_assign))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    w_keep = Window.partitionBy("cid").orderBy(F.col("cos4").desc(), F.col("vec_id").asc())
    keepers = (
        cells.filter(F.col("cos4") >= SEMDEDUP_THRESH)
        .withColumn("krk", F.row_number().over(w_keep))
        .filter(F.col("krk") == 1)
        .select("cid", F.col("vec_id").alias("keeper_vec_id"))
    )
    is_cand = (F.col("cos4") >= SEMDEDUP_THRESH).cast("bigint")
    return (
        cells.join(F.broadcast(keepers), "cid", "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(is_cand).alias("n_candidates"),
            F.greatest(F.sum(is_cand) - 1, F.lit(0)).cast("bigint").alias("n_dropped"),
            F.any_value("keeper_vec_id").alias("keeper_vec_id"),
            F.round(F.sum(F.col("cos4") * 10000)).cast("bigint").alias("sum_cos4_e4"),
        )
        .select(
            F.col("cid").alias("centroid_vec_id"),
            "n_members",
            "n_candidates",
            "n_dropped",
            "keeper_vec_id",
            "sum_cos4_e4",
        )
        .orderBy("centroid_vec_id")
    )


KM_K = 4  # deterministic seeds: the 4 smallest vec_ids


@query(
    "kmeans_int_lloyd",
    oracle=f"""
    -- Lloyd's k-means, 2 unrolled iterations, over int-quantized
    -- codes: every distance is the EXACT integer ||n·x - s||² (scaled
    -- by the centroid's point count to avoid fractional centroids),
    -- so assignment argmins are bit-identical cross-engine — the
    -- iterative-clustering primitive under the full hash gate.
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), m AS (
      SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e
    ), q AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(floor((x - mn) / (mx - mn) * 255) AS BIGINT)) AS c
      FROM m WHERE mx > mn
    ), c0 AS (
      SELECT vec_id AS cluster, c AS s, CAST(1 AS BIGINT) AS n
      FROM q ORDER BY vec_id LIMIT {KM_K}
    ), d1 AS (
      SELECT q.vec_id, c0.cluster,
             CAST(list_sum(list_transform(range(1, len(q.c) + 1),
                  i -> (c0.n * q.c[i] - c0.s[i]) * (c0.n * q.c[i] - c0.s[i])))
               AS DOUBLE) / CAST(c0.n * c0.n AS DOUBLE) AS d
      FROM q, c0
    ), a1 AS (
      SELECT vec_id, cluster FROM (
        SELECT vec_id, cluster,
               row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rk
        FROM d1
      ) WHERE rk = 1
    ), sums1 AS (
      SELECT a1.cluster, t.i, sum(q.c[t.i]) AS sv
      FROM a1 JOIN q USING (vec_id), range(1, 65) t(i)
      GROUP BY 1, 2
    ), cent1 AS (
      SELECT s.cluster, list(s.sv ORDER BY s.i) AS s, n.n
      FROM sums1 s JOIN (SELECT cluster, count(*) AS n FROM a1 GROUP BY 1) n
        USING (cluster)
      GROUP BY s.cluster, n.n
    ), d2 AS (
      SELECT q.vec_id, cent1.cluster,
             CAST(list_sum(list_transform(range(1, len(q.c) + 1),
                  i -> (cent1.n * q.c[i] - cent1.s[i]) * (cent1.n * q.c[i] - cent1.s[i])))
               AS DOUBLE) / CAST(cent1.n * cent1.n AS DOUBLE) AS d
      FROM q, cent1
    )
    SELECT vec_id, cluster FROM (
      SELECT vec_id, cluster,
             row_number() OVER (PARTITION BY vec_id ORDER BY d ASC, cluster ASC) AS rk
      FROM d2
    ) WHERE rk = 1
    ORDER BY vec_id
    """,
)
def kmeans_int_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means under the FULL hash gate — per-
    vector final assignments pinned exactly, which no float k-means
    can do cross-engine (centroid means accumulate in engine-specific
    order). The trick: run on the int8-quantized codes (the exact
    affine from ``embedding_int8_quantize``) and never form fractional
    centroids — a centroid is its (per-dim BIGINT sum s, count n), and
    the distance argmin compares ||n·x - s||² / n², whose numerator is
    an exact integer (max |n·x - s| < 2^20, ×64 dims < 2^53) and whose
    single division is correctly rounded on identical operands. Ties
    break on cluster id; both engines see identical doubles.

    Scale shape: textbook distributed k-means — the centroid table
    (k rows) broadcasts into a map-side assignment (crossJoin of k
    struct rows, argmin via one window over vec_id), and the update
    step is a (cluster, dim) partial-agg shuffle of k×64 cells with
    map-side combine. Iterations chain as lineage; at real scale each
    round would localCheckpoint (min_label_components' loop pattern).
    Seeds are the {KM_K} smallest vec_ids (deterministic, like
    ``semantic_dedup_cells``); 2 unrolled rounds match the oracle.
    """
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    mn, mx = F.array_min("v"), F.array_max("v")
    q = (
        emb.select("vec_id", "v", mn.alias("mn"), mx.alias("mx"))
        .filter(F.col("mx") > F.col("mn"))
        .select(
            "vec_id",
            F.transform(
                F.col("v"),
                lambda x: F.floor((x - F.col("mn")) / (F.col("mx") - F.col("mn")) * 255).cast(
                    "long"
                ),
            ).alias("c"),
        )
        .cache()  # feeds every assignment and every update round
    )

    def assign(cents: DataFrame) -> DataFrame:
        dist_num = F.aggregate(
            F.zip_with(
                F.col("c"),
                F.col("s"),
                lambda x, si: (F.col("n") * x - si) * (F.col("n") * x - si),
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )
        scored = q.crossJoin(F.broadcast(cents)).select(
            "vec_id",
            "cluster",
            (dist_num.cast("double") / (F.col("n") * F.col("n")).cast("double")).alias("d"),
        )
        w = Window.partitionBy("vec_id").orderBy(F.col("d").asc(), F.col("cluster").asc())
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", "cluster")
        )

    def update(assigned: DataFrame) -> DataFrame:
        ex = assigned.join(q, "vec_id").select(
            "cluster", F.posexplode("c").alias("pos", "val")
        )
        sums = ex.groupBy("cluster", "pos").agg(F.sum("val").alias("sv"))
        arrs = sums.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sv"))), lambda st: st["sv"]
            ).alias("s")
        )
        ns = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
        return arrs.join(ns, "cluster")

    c0 = (
        q.orderBy("vec_id")
        .limit(KM_K)
        .select(
            F.col("vec_id").alias("cluster"), F.col("c").alias("s"), F.lit(1).cast("long").alias("n")
        )
    )
    a1 = assign(c0)
    c1 = update(a1)
    return assign(c1).orderBy("vec_id")


MATRYOSHKA_DIMS = 16
SHORTLIST_K = 25
RERANK_K = 8


@query(
    "matryoshka_rerank_topk",
    oracle=f"""
    -- twin of two-stage retrieval: stage 1 shortlists {SHORTLIST_K} by
    -- cosine over the FIRST {MATRYOSHKA_DIMS} dims (the matryoshka
    -- prefix); stage 2 re-ranks the shortlist by full-dimension exact
    -- cosine and keeps {RERANK_K}. Both stages use the proven
    -- (round(cos,4), vec_id) total order, so shortlist membership and
    -- the final ranking are deterministic cross-engine.
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    base AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id <> {QUERY_VEC_ID}
    ),
    short AS (
      SELECT vec_id, label, e,
             round(
               list_sum(list_transform(range(1, {MATRYOSHKA_DIMS} + 1), i -> e[i] * q.qv[i]))
               / (sqrt(list_sum(list_transform(range(1, {MATRYOSHKA_DIMS} + 1), i -> e[i] * e[i])))
                * sqrt(list_sum(list_transform(range(1, {MATRYOSHKA_DIMS} + 1), i -> q.qv[i] * q.qv[i])))),
               4) AS cos_prefix
      FROM base, q
      ORDER BY cos_prefix DESC, vec_id ASC
      LIMIT {SHORTLIST_K}
    )
    SELECT s.vec_id, s.label, s.cos_prefix,
           round(
             list_sum(list_transform(range(1, len(s.e) + 1), i -> s.e[i] * q.qv[i]))
             / (sqrt(list_sum(list_transform(range(1, len(s.e) + 1), i -> s.e[i] * s.e[i])))
              * sqrt(list_sum(list_transform(range(1, len(q.qv) + 1), i -> q.qv[i] * q.qv[i])))),
             4) AS cosine
    FROM short s, q
    ORDER BY cosine DESC, s.vec_id ASC
    LIMIT {RERANK_K}
    """,
)
def matryoshka_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (the production ANN serving pattern the
    single-stage entries don't cover): a cheap shortlist over the
    matryoshka PREFIX of the embedding (first {dims} dims — 4× less
    arithmetic and memory traffic per candidate), then an exact
    full-dimension re-rank of the tiny shortlist. At 100 TB the
    prefix stage is what scans the corpus (or its IVF cells) and the
    re-rank touches only k′ rows per query — cost scales with the
    shortlist, not the corpus.

    Both stages are map-side against the broadcast query vector;
    stage 1's top-k′ is TakeOrderedAndProject (per-partition heaps,
    no global sort); stage 2 runs on k′ rows. Deterministic via the
    proven (round(cos,4), vec_id) total order at both stages."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        _as_double(F.col("embedding")).alias("qv")
    )
    base = emb.filter(F.col("vec_id") != QUERY_VEC_ID).join(F.broadcast(qv)).select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("e"), "qv"
    )
    prefix = lambda c: F.slice(c, 1, MATRYOSHKA_DIMS)  # noqa: E731
    short = (
        base.withColumn(
            "cos_prefix",
            F.round(cosine(prefix(F.col("e")), prefix(F.col("qv"))), 4),
        )
        .orderBy(F.col("cos_prefix").desc(), F.col("vec_id").asc())
        .limit(SHORTLIST_K)
    )
    return (
        short.withColumn("cosine", F.round(cosine(F.col("e"), F.col("qv")), 4))
        .orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
        .limit(RERANK_K)
        .select("vec_id", "label", "cos_prefix", "cosine")
    )


# ---------------------------------------------------------------------------
# Global-grid integer codes: one affine per DIMENSION (corpus min/max),
# unlike embedding_int8_quantize's per-vector affine — so distances
# between DIFFERENT vectors are metrically meaningful in pure integer
# arithmetic. The per-dim bounds are a 64-row model-sized collect
# (the codebook-collect pattern, VERDICT r4 audit).


_GRID_CTE = """
    e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    ex AS (
      SELECT vec_id, label,
             unnest(range(1, len(v) + 1)) AS j, unnest(v) AS x
      FROM e
    ),
    dim AS (SELECT j, min(x) AS mn, max(x) AS mx FROM ex GROUP BY j),
    codes AS (
      SELECT vec_id, any_value(label) AS label,
             list(CAST(CASE WHEN mx > mn
                       THEN floor((x - mn) / (mx - mn) * 255)
                       ELSE 0 END AS BIGINT) ORDER BY j) AS c
      FROM ex JOIN dim USING (j)
      GROUP BY vec_id
    )
"""


# ceiling for unrolling array kernels into flat codegen arithmetic:
# each unrolled term is 2 element_at + 1 mul + 1 add of generated Java,
# so a few hundred dims stay well under Janino's 64 KB method limit
# while every realistic int8-code dimensionality (64–256) qualifies
_UNROLL_MAX_DIM = 256


def sq_l2_codes(a: Column, b: Column, dim: int | None = None) -> Column:
    """Exact integer squared-L2 between two equal-length long-code
    arrays. With a statically known ``dim`` the sum unrolls into
    ``dim`` codegen-fused ``(a[i]-b[i])²`` terms — measured 4.3×
    faster than the zip_with+aggregate form at dim=64/400k pairs
    (identical checksum): higher-order-function lambdas evaluate one
    closure per element outside whole-stage codegen, while the
    unrolled form is straight-line generated arithmetic. Falls back
    to the HOF when ``dim`` is unknown or above _UNROLL_MAX_DIM
    (generated-method size ceiling).

    Ragged-input contract (round-9 ADVICE): a declared ``dim`` is a
    PRECONDITION — every input array must be exactly ``dim`` long.
    ``global_grid_codes`` (the producer every declared-dim caller
    goes through) enforces it driver-side for free — its per-dim
    bounds collect also carries per-dim row counts, and count
    variance across dims (= a ragged corpus) raises ValueError
    before any distance evaluates. Under ANSI mode (the Spark 4
    default this engine runs) a precondition violated through some
    other producer still throws loudly at ``element_at`` rather
    than yielding the non-ANSI NULL distance that would sort first
    in an ascending top-k and silently promote garbage neighbors.
    The guard deliberately lives at the producer, not in this
    expression: both in-kernel forms were built and MEASURED out —
    a CaseWhen size-guard around the unrolled sum drags the whole
    projection out of whole-stage codegen (knn_label_vote 3.26 s
    with an HOF otherwise-branch, 21 s(!) with even a plain literal
    sentinel branch, vs 2.05 s unguarded at sf0.1), and even a
    per-row ``size(v) == dim`` producer filter cost ~0.3 s per grid
    entry in plan overhead.
    With ``dim=None`` there is no declared length to enforce, so the
    HOF gates on ``size(a) == size(b)`` and returns NULL for a
    length mismatch (round-10 ADVICE: the earlier truncate-to-shorter
    form returned a plausible PARTIAL distance with no signal; NULL
    is an honest "not comparable"). Equal-length inputs never hit
    zip_with's NULL-padding, so the sum stays exact."""
    if dim is not None and 0 < dim <= _UNROLL_MAX_DIM:
        total = None
        for j in range(1, dim + 1):
            t = F.element_at(a, j) - F.element_at(b, j)
            t = t * t
            total = t if total is None else total + t
        return total
    if dim is not None:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
    return F.when(
        F.size(a) == F.size(b),
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    )


def global_grid_codes(emb: DataFrame) -> tuple[DataFrame, int]:
    """((vec_id, label, c: array<long>), dim) — per-DIMENSION 0..255
    integer codes under the corpus-wide affine, plus the embedding
    dimensionality (free from the collected bounds — callers feed it
    to ``sq_l2_codes`` for the unrolled kernel).
    floor((x-mn)/(mx-mn)*255) is add/sub/mul/div/floor on doubles
    (all correctly rounded), so codes are bit-identical across
    engines given the same per-dim bounds, and min/max of floats ARE
    exact.

    Uniform-length guard (round-9 ADVICE): the per-dim bounds
    aggregation this function already collects ALSO carries a per-dim
    row count, and a ragged corpus shows up as count variance across
    dims (a vector shorter than ``dim`` is absent from the trailing
    dims' groups) — so the precondition the unrolled ``sq_l2_codes``
    kernel needs is checked driver-side for FREE and violated loudly
    (ValueError) before any distance evaluates. The in-dataframe
    alternatives were measured out: an in-kernel CaseWhen guard
    evicts the projection from whole-stage codegen (see the kernel
    docstring), and even a per-row ``size(v) == dim`` filter here
    cost ~0.3 s per grid entry at sf0.1 in plan overhead. All-empty
    vectors never reach posexplode and are instead caught by ANSI's
    out-of-bounds ``element_at`` throw downstream — still loud,
    never the silent NULL-sorts-first mode."""
    ex = emb.select("vec_id", F.posexplode("v").alias("j", "x"))
    rows = sorted(
        ex.groupBy("j")
        .agg(
            F.min("x").alias("mn"),
            F.max("x").alias("mx"),
            # positions vs non-null values: F.count("x") alone would let a
            # corpus with NULL elements spread EVENLY across dims pass the
            # ragged check and reach the kernel as silent NULL distances
            # (round-10 ADVICE) — count rows and values separately so each
            # failure mode gets its own loud, accurate error
            F.count(F.lit(1)).alias("n_rows"),
            F.count("x").alias("n_vals"),
        )
        .collect(),
        key=lambda r: r["j"],
    )
    null_dims = [int(r["j"]) for r in rows if int(r["n_vals"]) != int(r["n_rows"])]
    if null_dims:
        raise ValueError(
            "global_grid_codes requires non-null embedding elements: "
            f"dims {null_dims[:8]}{'...' if len(null_dims) > 8 else ''} contain "
            "NULL values (a NULL element would propagate into the distance and "
            "sort first in an ascending top-k)"
        )
    counts = {int(r["n_rows"]) for r in rows}
    if len(counts) > 1:
        raise ValueError(
            "global_grid_codes requires a uniform-length embedding corpus: "
            f"per-dim populations vary {sorted(counts)} across {len(rows)} dims "
            "(some vectors are shorter than the corpus dimensionality)"
        )
    mn_arr = F.array(*[F.lit(float(r["mn"])) for r in rows])
    mx_arr = F.array(*[F.lit(float(r["mx"])) for r in rows])
    code = F.transform(
        F.col("v"),
        lambda x, i: F.when(
            F.element_at(mx_arr, i + 1) > F.element_at(mn_arr, i + 1),
            F.floor(
                (x - F.element_at(mn_arr, i + 1))
                / (F.element_at(mx_arr, i + 1) - F.element_at(mn_arr, i + 1))
                * 255
            ),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    )
    return emb.select("vec_id", "label", code.alias("c")), len(rows)


@query(
    "knn_label_vote",
    oracle=f"""
    -- exact-integer kNN classifier twin: global-grid codes, squared-L2
    -- in BIGINT, k=5 neighbors (ties by vec_id), majority vote (ties
    -- by smaller label). Every step is exact, so both engines emit
    -- identical predictions.
    WITH {_GRID_CTE},
    q AS (SELECT * FROM codes WHERE vec_id % 10 = 0),
    d AS (
      SELECT q.vec_id AS qid, q.label AS label_true,
             r.vec_id AS rid, r.label AS rlab,
             CAST(list_sum(list_transform(range(1, len(q.c) + 1),
                   i -> (q.c[i] - r.c[i]) * (q.c[i] - r.c[i]))) AS BIGINT) AS dist
      FROM q, codes r WHERE r.vec_id <> q.vec_id
    ),
    nn AS (
      SELECT qid, label_true, rlab,
             row_number() OVER (PARTITION BY qid ORDER BY dist ASC, rid ASC) AS rk
      FROM d
    ),
    votes AS (
      SELECT qid, label_true, rlab, count(*) AS n_votes
      FROM nn WHERE rk <= 5 GROUP BY qid, label_true, rlab
    )
    SELECT qid AS vec_id, label_true, rlab AS label_pred,
           CAST(n_votes AS BIGINT) AS n_votes
    FROM (SELECT *, row_number() OVER (PARTITION BY qid
                    ORDER BY n_votes DESC, rlab ASC) AS vr FROM votes)
    WHERE vr = 1
    ORDER BY vec_id
    """,
)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor LABEL classification over the embedding
    corpus — the label-propagation verb of training-data curation
    (auto-labeling unlabeled shards, audit-scoring suspect labels):
    every 10th vector is scored against the full corpus (leave-self-
    out), its 5 nearest neighbors by exact integer squared-L2 on
    GLOBAL-grid int8 codes vote, majority (ties → smaller label) wins.

    Scale shape: the query side broadcasts (queries are the small
    side by construction — audit samples, not the corpus); distance
    evaluation is map-side over the reference scan (the unrolled
    ``sq_l2_codes`` codegen kernel) with no shuffle until the
    per-query top-k (partial TakeOrdered per partition); the vote
    rollup is query-sized. The integer grid is what makes the entry
    hash-gateable — and is also the production shape (int8 SIMD
    distance kernels)."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    codes, dim = global_grid_codes(emb)
    q = codes.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("label_true"),
        F.col("c").alias("qc"),
    )
    d = (
        codes.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .withColumn("dist", sq_l2_codes(F.col("qc"), F.col("c"), dim))
        .select("qid", "label_true", F.col("vec_id").alias("rid"), F.col("label").alias("rlab"), "dist")
    )
    nn = d.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("rid"))
        ),
    ).filter(F.col("rk") <= 5)
    votes = nn.groupBy("qid", "label_true", "rlab").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    return (
        votes.withColumn(
            "vr",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("n_votes"), F.asc("rlab"))
            ),
        )
        .filter(F.col("vr") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            "label_true",
            F.col("rlab").alias("label_pred"),
            "n_votes",
        )
        .transform(sorted_output, "vec_id")
    )


@query(
    "embedding_label_outliers",
    oracle=f"""
    -- exact-integer per-label centroid outliers: with S_j = per-label
    -- per-dim code sum and n = label size, the n²-scaled squared
    -- distance Σ_j (n·c_j − S_j)² is a pure BIGINT — no centroid
    -- division ever happens. Top-3 per label by (distance DESC,
    -- vec_id ASC).
    WITH {_GRID_CTE},
    cx AS (
      SELECT vec_id, label, unnest(range(1, len(c) + 1)) AS j, unnest(c) AS cj
      FROM codes
    ),
    cent AS (
      SELECT label, j, sum(cj) AS s, count(*) AS n
      FROM cx GROUP BY label, j
    ),
    dist AS (
      SELECT cx.vec_id, cx.label,
             CAST(sum((cent.n * cx.cj - cent.s) * (cent.n * cx.cj - cent.s)) AS BIGINT)
               AS dist_n2
      FROM cx JOIN cent ON cx.label = cent.label AND cx.j = cent.j
      GROUP BY cx.vec_id, cx.label
    )
    SELECT label, vec_id, dist_n2,
           CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY label
                    ORDER BY dist_n2 DESC, vec_id ASC) AS rk FROM dist)
    WHERE rk <= 3
    ORDER BY label, rk
    """,
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mislabeled-data detection — the embedding-space audit every
    labeled training set gets before fine-tuning: vectors farthest
    from their OWN label's centroid are the label-noise suspects. The
    centroid never materializes as a fraction: distances are computed
    n²-scaled (Σ_j (n·c_j − S_j)²) in exact BIGINT on the global-grid
    codes, so the ranking is engine- and order-independent.

    Scale shape: centroids are one shuffle keyed by (label, dim) —
    label-count-sized state; scoring re-joins the model-sized centroid
    table broadcast; top-3 per label is a window over label partitions
    (map-side WindowGroupLimit). No all-pairs anything."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    codes, _dim = global_grid_codes(emb)
    cx = codes.select("vec_id", "label", F.posexplode("c").alias("j", "cj"))
    cent = cx.groupBy("label", "j").agg(
        F.sum("cj").alias("s"), F.count(F.lit(1)).alias("n")
    )
    term = (F.col("n") * F.col("cj") - F.col("s"))
    dist = (
        cx.join(F.broadcast(cent), ["label", "j"])
        .groupBy("vec_id", "label")
        .agg(F.sum(term * term).cast("long").alias("dist_n2"))
    )
    return (
        dist.withColumn(
            "rk",
            F.row_number()
            .over(Window.partitionBy("label").orderBy(F.desc("dist_n2"), F.asc("vec_id")))
            .cast("long"),
        )
        .filter(F.col("rk") <= 3)
        .select("label", "vec_id", "dist_n2", "rk")
        .orderBy("label", "rk")
    )


@query(
    "hard_negative_mining",
    oracle=f"""
    -- triplet mining for contrastive training: for every 7th vector
    -- (the anchor) find its nearest SAME-label neighbor (positive)
    -- and nearest OTHER-label neighbor (hard negative) by exact
    -- integer squared-L2 on global-grid codes; margin <= 0 flags a
    -- violated triplet (the hard cases a curriculum feeds first)
    WITH {{_GRID_CTE}},
    q AS (SELECT vec_id AS qid, label AS qlab, c AS qc FROM codes WHERE vec_id % 7 = 0),
    d AS (
      SELECT q.qid, q.qlab, r.vec_id AS rid, r.label AS rlab,
             list_sum(list_transform(range(1, len(qc) + 1),
                                     i -> (qc[i] - r.c[i]) * (qc[i] - r.c[i]))) AS dist
      FROM q JOIN codes r ON r.vec_id <> q.qid
    ),
    pos AS (
      SELECT qid, qlab, rid AS pos_id, dist AS pos_dist
      FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, rid) AS rk
            FROM d WHERE rlab = qlab)
      WHERE rk = 1
    ),
    neg AS (
      SELECT qid, rid AS neg_id, dist AS neg_dist
      FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, rid) AS rk
            FROM d WHERE rlab <> qlab)
      WHERE rk = 1
    )
    SELECT p.qid AS anchor_id, p.qlab AS label,
           p.pos_id, CAST(p.pos_dist AS BIGINT) AS pos_dist,
           n.neg_id, CAST(n.neg_dist AS BIGINT) AS neg_dist,
           CAST(n.neg_dist - p.pos_dist AS BIGINT) AS margin,
           CASE WHEN n.neg_dist <= p.pos_dist THEN 1 ELSE 0 END AS violated
    FROM pos p JOIN neg n USING (qid)
    ORDER BY anchor_id
    """.format(_GRID_CTE=_GRID_CTE),
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet mining — the contrastive-training data-prep verb
    (anchor, nearest positive, hardest negative): violated margins
    (negative closer than positive) are exactly the examples a
    metric-learning curriculum upweights, and the violation set is
    part of the gated output. Distances are exact integer squared-L2
    on the global-grid int8 codes (knn_label_vote's gateable kernel).

    Scale shape: anchors broadcast (the audit/mining sample is the
    small side), distances evaluate map-side over the corpus scan,
    and BOTH argmins ride ONE aggregation — conditional
    ``min(struct(dist, rid))`` per (anchor, branch), whose struct
    ordering is exactly the (dist ASC, rid ASC) tiebreak — so the
    partial aggregate collapses each task to ≤ |anchors| rows before
    the single qid exchange. (The previous shape cached the full
    |anchors|·|corpus| distance frame and ran two window sorts plus a
    self-join over it: 2.7 s → 1.4 s at sf0.1, and at 100 TB the
    distance frame is exactly what must never materialize.) At scale
    the ANN index (ann_ivf_topk) supplies candidates instead of the
    full scan."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    codes, dim = global_grid_codes(emb)
    q = codes.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlab"),
        F.col("c").alias("qc"),
    )
    d = (
        codes.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .withColumn("dist", sq_l2_codes(F.col("qc"), F.col("c"), dim))
        .select("qid", "qlab", F.col("vec_id").alias("rid"), F.col("label").alias("rlab"), "dist")
    )
    same = F.col("rlab") == F.col("qlab")
    best = (
        d.groupBy("qid", "qlab")
        .agg(
            F.min(F.when(same, F.struct("dist", "rid"))).alias("p"),
            F.min(F.when(~same, F.struct("dist", "rid"))).alias("n"),
        )
        # inner-join semantics of the two-branch shape: an anchor
        # whose label class is a singleton has no positive and drops
        .filter(F.col("p").isNotNull() & F.col("n").isNotNull())
    )
    return (
        best.select(
            F.col("qid").alias("anchor_id"),
            F.col("qlab").alias("label"),
            F.col("p.rid").alias("pos_id"),
            F.col("p.dist").cast("long").alias("pos_dist"),
            F.col("n.rid").alias("neg_id"),
            F.col("n.dist").cast("long").alias("neg_dist"),
            (F.col("n.dist") - F.col("p.dist")).cast("long").alias("margin"),
            (F.col("n.dist") <= F.col("p.dist")).cast("int").alias("violated"),
        )
        .transform(sorted_output, "anchor_id")
    )


@query(
    "retrieval_eval_mrr",
    oracle=f"""
    -- retrieval evaluation over the embedding corpus: every 10th
    -- vector queries the rest (leave-self-out), relevance = same
    -- label; exact integer grid distances rank candidates, and each
    -- query reports its first-relevant rank, floor-scaled reciprocal
    -- rank, and precision@10
    WITH {{_GRID_CTE}},
    q AS (SELECT vec_id AS qid, label AS qlab, c AS qc FROM codes WHERE vec_id % 10 = 0),
    d AS (
      SELECT q.qid, q.qlab, r.vec_id AS rid, r.label AS rlab,
             list_sum(list_transform(range(1, len(qc) + 1),
                                     i -> (qc[i] - r.c[i]) * (qc[i] - r.c[i]))) AS dist
      FROM q JOIN codes r ON r.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, qlab, rlab,
             row_number() OVER (PARTITION BY qid ORDER BY dist, rid) AS rk
      FROM d
    ),
    firsthit AS (
      SELECT qid, CAST(min(rk) AS BIGINT) AS first_rank
      FROM ranked WHERE rlab = qlab GROUP BY 1
    ),
    p10 AS (
      SELECT qid, CAST(sum(CASE WHEN rlab = qlab THEN 1 ELSE 0 END) AS BIGINT) AS hits10
      FROM ranked WHERE rk <= 10 GROUP BY 1
    )
    SELECT q.qid, q.qlab AS label,
           f.first_rank,
           1000000 // f.first_rank AS rr_e6,
           p.hits10 * 1000 AS p_at10_e4
    FROM q JOIN firsthit f ON q.qid = f.qid JOIN p10 p ON q.qid = p.qid
    ORDER BY q.qid
    """.format(_GRID_CTE=_GRID_CTE),
)
def retrieval_eval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation (the measurement half of the ANN
    family): each held-out query ranks the corpus by the exact integer
    grid distance and reports its first same-label rank, the
    floor-scaled reciprocal rank (the MRR numerator), and
    precision@10 — the metrics that decide whether an index (IVF /
    LSH / PQ) trades too much recall for speed. NDCG is deliberately
    omitted: its log2 discounts are transcendental and would break the
    cross-engine bit-exactness every entry here maintains (ADVICE
    precedent: keep eval integers; judge curves offline).

    Scale shape matches knn_label_vote: queries broadcast, distances
    map-side, per-query rank is a bounded TakeOrdered — and with an
    index the candidate list replaces the full scan, same metrics."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    codes, dim = global_grid_codes(emb)
    q = codes.filter(F.col("vec_id") % 10 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlab"),
        F.col("c").alias("qc"),
    )
    ranked = (
        codes.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .withColumn("dist", sq_l2_codes(F.col("qc"), F.col("c"), dim))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.asc("dist"), F.asc("vec_id"))
            ),
        )
        .select("qid", "qlab", F.col("label").alias("rlab"), "rk")
    )
    # both metrics fold into ONE conditional aggregation straight off
    # the window output — the previous shape cached the ranked frame
    # and re-read it through two separate aggregations plus a double
    # join back to q. Local timing is flat (2.15 vs 2.20 s at sf0.1:
    # the qid window sort dominates either way), but the cache is
    # gone — at 100 TB the ranked candidate frame is exactly what
    # must never materialize in executor storage, and the single agg
    # is one pass instead of two over it.
    same = F.col("rlab") == F.col("qlab")
    return (
        ranked.groupBy("qid", F.col("qlab").alias("label"))
        .agg(
            F.min(F.when(same, F.col("rk"))).cast("long").alias("first_rank"),
            F.sum(F.when(same & (F.col("rk") <= 10), 1).otherwise(0))
            .cast("long")
            .alias("hits10"),
        )
        .filter(F.col("first_rank").isNotNull())
        .select(
            "qid",
            "label",
            "first_rank",
            F.expr("1000000 DIV first_rank").alias("rr_e6"),
            (F.col("hits10") * 1000).alias("p_at10_e4"),
        )
        .transform(sorted_output, "qid")
    )

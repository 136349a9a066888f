"""Similarity-search query corpus over ``embeddings`` (operators.similarity)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from heparchy_spark.functions.literals import array_lit, array_sql
from heparchy_spark.operators.similarity import (
    cosine,
    cosine_topk,
    embedding_near_dup_pairs,
    l2_norm,
    lsh_cosine_topk,
)
from heparchy_spark.queries import expected_fixture_sql, register
from heparchy_spark.queries.tables import load

DIM = 64  # driver embeddings are 64-dim float arrays (FIXTURES.md)

# Cosine similarity to the vec_id=0 query vector, in DuckDB.  Both engines
# cast float->double elementwise and fold sequentially, then round to 9
# decimals to absorb last-ulp summation differences.
_COSINE_SQL = """
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           ROUND(
             list_sum(list_transform(generate_series(1, {dim}),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(generate_series(1, {dim}),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(generate_series(1, {dim}),
                      i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))),
             9) AS cosine_sim
    FROM embeddings e, q
"""


@register(
    "similarity_cosine_topk",
    _COSINE_SQL.format(dim=DIM)
    + " ORDER BY cosine_sim DESC, e.vec_id LIMIT 10",
    doc="Exact brute-force cosine top-10 vs the vec_id=0 vector: fused "
    "zip_with/aggregate projection + TakeOrdered; the correctness baseline "
    "for the ANN variants.",
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").head()
    out = cosine_topk(emb, "embedding", "vec_id", list(qrow[0]), k=10)
    return out.select(
        "vec_id", F.round("cosine_sim", 9).alias("cosine_sim")
    )


@register(
    "similarity_cosine_all",
    _COSINE_SQL.format(dim=DIM),
    doc="Cosine similarity of every vector to the query — the scan-side "
    "projection without top-k, oracle-checked across all 500 rows.",
)
def similarity_cosine_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    qrow = emb.where(F.col("vec_id") == 0).select("embedding").head()
    q = array_sql([float(v) for v in qrow[0]])
    return emb.select(
        "vec_id",
        F.round(F.expr(cosine("embedding", q)), 9).alias("cosine_sim"),
    )


@register(
    "similarity_lsh_topk",
    expected_fixture_sql("similarity_lsh_topk"),
    doc="LSH-bucketed ANN top-10 for 5 query vectors (vec_id < 5): "
    "random-hyperplane signs -> equi-join on bucket, rank within query. "
    "Approximate but deterministic (seeded hyperplanes); oracle = plain-"
    "Python mirror with sequential-fold dots, precomputed.",
    expects_broadcast="bounded query batch",
)
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where("vec_id < 5")
    return lsh_cosine_topk(
        emb,
        "embedding",
        "vec_id",
        queries,
        "embedding",
        "vec_id",
        dim=DIM,
        k=10,
        bits=6,
    ).selectExpr("query_id", "match_id", "round(cosine_sim, 9) AS cosine_sim", "rk")


@register(
    "similarity_norms",
    f"""
    SELECT vec_id, label,
           ROUND(sqrt(list_sum(list_transform(generate_series(1, {DIM}),
                 i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))),
                 9) AS l2
    FROM embeddings
    """,
    doc="L2 norms of all embeddings (vector column algebra sanity).",
)
def similarity_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", "label", F.round(F.expr(l2_norm("embedding")), 9).alias("l2")
    )


# Planted-near-dup harness: the driver embeddings are random (max pairwise
# cosine ~0.51 at sf0.01), so a 0.95-threshold near-dup query over the raw
# table is vacuously empty.  Both engines therefore augment the table with
# deterministic perturbed copies of vec_id < 25 (elementwise scale by
# 1 + 0.0005*((vec_id + pos) % 3), id offset +1_000_000): cosine(original,
# copy) ~ 1-1e-8 while every cross pair stays < 0.52, so the >= 0.95 result
# set is exactly the 25 planted pairs.  The oracle is EXACT brute-force
# cosine over all (n+25 choose 2) pairs — the LSH path must achieve full
# recall on the planted set to hash-match (seeds fixed, data fixed:
# deterministic; verified at sf0.01).
_PLANT_K = 25
_PLANT_OFFSET = 1_000_000


@register(
    "similarity_embedding_near_dups",
    f"""
    WITH __aug AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      UNION ALL
      SELECT vec_id + {_PLANT_OFFSET},
             list_transform(generate_series(1, {DIM}),
               i -> CAST(embedding[i] AS DOUBLE)
                    * (1.0 + 0.0005 * CAST((vec_id + i - 1) % 3 AS DOUBLE)))
      FROM embeddings WHERE vec_id < {_PLANT_K}
    ),
    __n AS (
      SELECT vec_id, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM __aug
    ),
    __p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(generate_series(1, {DIM}),
               i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS __sim
      FROM __n a JOIN __n b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, ROUND(__sim, 6) AS cosine_sim
    FROM __p WHERE __sim >= 0.95
    """,
    doc="Embedding near-dup pairs (cosine >= 0.95): multi-table LSH "
    "candidate generation + exact verification, validated against an "
    "exact all-pairs oracle on a planted-duplicate augmentation (recall "
    "must be 100% on the planted set to hash-match).",
)
def similarity_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # _planted_augmentation projects the perturbation before the id shift;
    # the previous inline form let Spark's lateral-column-alias resolution
    # bind the lambda's vec_id to the offset alias, shifting the modulo
    # phase vs the oracle (invisible under round-6, but fragile).
    emb = load(spark, sf_dir, "embeddings")
    aug = _planted_augmentation(emb)
    return embedding_near_dup_pairs(
        aug, "embedding", "vec_id", dim=DIM, threshold=0.95, bits=6, tables=4
    ).select("id_a", "id_b", F.round("cosine_sim", 6).alias("cosine_sim"))


@register(
    "similarity_ivf_topk",
    expected_fixture_sql("similarity_ivf_topk"),
    doc="IVF ANN top-10 for 5 query vectors (oracle = plain-NumPy mirror "
    "of the full train/assign/probe pipeline, precomputed — the seeded "
    "sample covers the whole sf0.01 table, so the quantizer trajectory "
    "is deterministic): seeded Lloyd coarse quantizer "
    "(driver-side sample), vectorized pandas-UDF cell assignment, equi-join "
    "on cell id with nprobe=2 multi-probing — the nprobe/C-cost scale path "
    "beside LSH.",
    expects_broadcast="bounded query batch + fixed centroid codebook",
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.similarity import ivf_topk, train_centroids

    emb = load(spark, sf_dir, "embeddings")
    cents = train_centroids(
        emb, "embedding", n_centroids=16, sample_size=2000, iters=4, seed=7,
        order_col="vec_id",
    )
    queries = emb.where(F.col("vec_id") < 5)
    return ivf_topk(
        emb,
        "embedding",
        "vec_id",
        queries,
        "embedding",
        "vec_id",
        cents,
        k=10,
        nprobe=2,
    ).select(
        "query_id",
        "match_id",
        F.round("cosine_sim", 9).alias("cosine_sim"),
        "rk",
    )


@register(
    "similarity_int8_quantize",
    f"""
    WITH __e AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ), __s AS (
      SELECT vec_id, v,
             list_min(v) AS vmin, list_max(v) AS vmax,
             (list_max(v) - list_min(v)) / 255.0 AS scale
      FROM __e
    )
    SELECT vec_id,
           ROUND(vmin, 9) AS vmin,
           ROUND(vmax, 9) AS vmax,
           ROUND(scale, 9) AS scale,
           ROUND(CASE WHEN scale > 0 THEN
             list_sum(list_transform(v,
               x -> (x - (vmin + round((x - vmin) / scale) * scale))
                  * (x - (vmin + round((x - vmin) / scale) * scale))))
             / {DIM}.0
           ELSE 0.0 END, 9) AS mse
    FROM __s
    """,
    doc="Int8 scalar-quantization codebook per embedding (affine min/max "
    "quantizer) + reconstruction MSE — the 4x storage-shrink step before "
    "ANN serving.",
)
def similarity_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.similarity import int8_quantize_stats

    emb = load(spark, sf_dir, "embeddings")
    return int8_quantize_stats(emb, "embedding", "vec_id", dim=DIM)


@register(
    "similarity_label_centroids",
    f"""
    SELECT label, i - 1 AS pos,
           ROUND(CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE)
                                AS DECIMAL(38,10))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_v
    FROM embeddings, generate_series(1, {DIM}) AS t(i)
    GROUP BY label, i
    """,
    doc="Per-label mean embedding (class centroids), exploded to one row "
    "per (label, position): posexplode + per-position decimal-accumulated "
    "avg — one shuffle on (label, pos), all JVM. The UDAF twin "
    "(grouped-agg pandas UDF returning the centroid array) is "
    "operators.similarity.label_centroids, pytest-asserted equal.",
)
def similarity_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "__v"
        ),
    )
    return ex.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("__v").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_v")
    )


@register(
    "similarity_pq_topk",
    expected_fixture_sql("similarity_pq_topk"),
    doc="Product-quantization ADC top-10 for 5 query vectors: per-subspace "
    "seeded Lloyd codebooks (8 x 16, trained driver-side on the bounded "
    "sample), pandas-UDF encoding, broadcast LUT join + decimal-summed "
    "partial distances (operators/similarity.py pq_*). Deterministic at "
    "fixture scale; oracle = plain-NumPy mirror of the whole train/encode/"
    "ADC pipeline, precomputed.",
    expects_broadcast="bounded query batch + fixed PQ LUT (k*m rows)",
)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.similarity import pq_adc_topk, pq_train

    emb = load(spark, sf_dir, "embeddings")
    books = pq_train(
        emb, "embedding", m=8, n_codes=16, sample_size=2000, iters=4, seed=7,
        order_col="vec_id",
    )
    queries = emb.where(F.col("vec_id") < 5)
    return pq_adc_topk(
        emb, "embedding", "vec_id", queries, "embedding", "vec_id", books, k=10
    )


@register(
    "similarity_knn_label_vote",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, label AS true_label
      FROM embeddings WHERE vec_id < 20
    ),
    sims AS (
      SELECT q.query_id, q.true_label, e.vec_id AS match_id, e.label,
             ROUND(
               list_sum(list_transform(generate_series(1, {DIM}),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(generate_series(1, {DIM}),
                        i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(generate_series(1, {DIM}),
                        i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))),
               9) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> q.query_id
    ),
    nn AS (
      SELECT query_id, true_label, label, cos,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos DESC, match_id
             ) AS rk
      FROM sims
    ),
    votes AS (
      SELECT query_id, true_label, label, COUNT(*) AS n_votes,
             MAX(cos) AS best_cos
      FROM nn WHERE rk <= 10 GROUP BY query_id, true_label, label
    ),
    winner AS (
      SELECT query_id, true_label, label AS knn_label, n_votes,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY n_votes DESC, best_cos DESC, label
             ) AS vrk
      FROM votes
    )
    SELECT query_id, true_label, knn_label, n_votes,
           knn_label = true_label AS correct
    FROM winner WHERE vrk = 1
    """,
    doc="k-NN label-vote classification for 20 held-out queries: exact "
    "cosine top-10 per query (the queries side broadcasts; the base scan "
    "is one fused projection), majority label with deterministic "
    "tie-break, compared to the true label. The evaluation harness shape "
    "for embedding-quality checks over a labeled corpus.",
    expects_bnlj=True,
    expects_broadcast="bounded query batch",
)
def similarity_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from heparchy_spark.operators.similarity import cosine

    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    )
    sims = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            F.col("vec_id").alias("match_id"),
            "label",
            F.round(F.expr(cosine("embedding", "qv")), 9).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("match_id"))
    nn = sims.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 10)
    votes = nn.groupBy("query_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes"), F.max("cos").alias("best_cos")
    )
    vw = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.desc("best_cos"), F.asc("label")
    )
    return (
        votes.withColumn("vrk", F.row_number().over(vw))
        .where(F.col("vrk") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("label").alias("knn_label"),
            "n_votes",
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
    )


def _planted_augmentation(emb: DataFrame) -> DataFrame:
    """Embeddings plus _PLANT_K near-duplicates (0.05%-scale deterministic
    perturbation keyed on the ORIGINAL vec_id) — recall fixture for
    near-dup operators.

    The perturbation is projected BEFORE the id shift: in a single
    select, Spark's lateral-column-alias resolution would bind ``vid``
    inside the transform lambda to the already-aliased output column
    (original + offset), silently changing the modulo phase.
    """
    vid = F.col("vec_id")
    planted = (
        emb.where(vid < _PLANT_K)
        .select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x, i: x.cast("double")
                * (
                    F.lit(1.0)
                    + F.lit(0.0005) * ((vid + i) % 3).cast("double")
                ),
            ).alias("embedding"),
        )
        .select((vid + _PLANT_OFFSET).alias("vec_id"), "embedding")
    )
    return emb.select(
        "vec_id", F.col("embedding").cast("array<double>")
    ).unionByName(planted)


@register(
    "similarity_semantic_dedup",
    expected_fixture_sql("similarity_semantic_dedup"),
    doc="SemDeDup semantic deduplication over the planted-duplicate "
    "augmentation: seeded k-means (deterministic ordered sample) "
    "partitions the embedding space; within each cluster a "
    "vector is dropped when its cosine to a better-ranked member (rank = "
    "centroid distance ASC, id ASC — keep the most central) reaches "
    "0.95.  Oracle = plain-NumPy mirror of the full train/assign/pair "
    "pipeline, precomputed; the planted dups must ALL lose to their "
    "originals for the hash to match.  Candidate pairs are an equi-join "
    "on the cluster id — n^2/C, which is only sub-quadratic when C "
    "SCALES with n: the r9 10x rehearsal measured wall exponent 2.19 "
    "with C fixed at 8, so k now grows with the corpus (k ~ n/250, "
    "constant ~250-vector cells => linear pair volume — the SemDeDup "
    "paper's own regime; k stays 8 below 2250 vectors, and the "
    "r9 hash-ordered training sample intentionally regenerated the "
    "sf0.01 fixture — only k is scale-stable, not the fixture bytes).  "
    "Residual cell-occupancy VARIANCE still measured wall exp 1.37 at "
    "10x, so candidate pairs are additionally rank-banded "
    "(rank_window=512: each vector screens only against the 512 "
    "immediately better-ranked cluster members, chunked into the join "
    "key — pair volume <= 2*512 per vector at ANY skew).  Exact (and "
    "fixture-identical) while every cell holds <= 513 vectors — true "
    "at the sf0.01 driver scale; at 10x it is the documented "
    "sorted-neighborhood bound on the (centroid distance, id) order.",
    expects_broadcast="centroid codebook (k ~ n/250 rows) + 1-row stats",
)
def similarity_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.similarity import (
        semantic_dedup,
        train_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    aug = _planted_augmentation(emb)
    # constant target cell size => pair volume linear in n (bounded-
    # collect class: one count scalar steers the codebook size);
    # hash-ordered sample => the trainer sees the whole corpus, not its
    # id-order head (head-trained centroids funneled drifted vectors
    # into a 32%-of-corpus mega-cell in the r9 10x rehearsal)
    k = max(8, aug.count() // 250)
    cents = train_centroids(
        aug, "embedding", n_centroids=k,
        sample_size=max(2000, 10 * k), iters=4, seed=7,
        order_col="vec_id", hash_order=True,
    )
    return semantic_dedup(
        aug, "embedding", "vec_id", cents, threshold=0.95, rank_window=512
    ).select(
        "vec_id",
        "cluster",
        F.round("dist_to_centroid", 6).alias("dist_to_centroid"),
        "kept",
    )


@register(
    "similarity_incremental_ivf_assign",
    expected_fixture_sql("similarity_incremental_ivf_assign"),
    doc="Incremental ANN index maintenance — the vector twin of "
    "dedup_incremental_minhash: a NEW batch (50 genuinely-new vectors + "
    "25 planted perturbed copies of indexed ones) assigns against the "
    "PERSISTED k-means index trained on the seen corpus (vec_id >= 100) "
    "WITHOUT retraining — broadcast-centroid matmul, pure map — and "
    "screens for near-dups via the cluster-bounded equi-join (seen-seen "
    "pairs never generated).  Planted copies must all flag "
    "is_near_dup=true against their originals for the hash to match; "
    "oracle = plain-NumPy mirror of the full pipeline.",
)
def similarity_incremental_ivf_assign(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from heparchy_spark.operators.similarity import (
        incremental_ivf_assign,
        train_centroids,
    )

    emb = load(spark, sf_dir, "embeddings")
    vid = F.col("vec_id")
    seen = emb.where(vid >= 100).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # perturbation projected BEFORE the id shift (the lateral-column-
    # alias pitfall — see _planted_augmentation)
    planted = (
        emb.where((vid >= 100) & (vid < 100 + _PLANT_K))
        .select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x, i: x.cast("double")
                * (
                    F.lit(1.0)
                    + F.lit(0.0005) * ((vid + i) % 3).cast("double")
                ),
            ).alias("embedding"),
        )
        .select((vid + _PLANT_OFFSET).alias("vec_id"), "embedding")
    )
    fresh = emb.where(vid < 50).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = train_centroids(
        seen, "embedding", n_centroids=16, sample_size=2000, iters=4,
        seed=7, order_col="vec_id",
    )
    return incremental_ivf_assign(
        fresh.unionByName(planted),
        seen,
        "embedding",
        "vec_id",
        cents,
        threshold=0.95,
    )


@register(
    "similarity_ivf_recall_at_k",
    expected_fixture_sql("similarity_ivf_recall_at_k"),
    doc="ANN index QUALITY audit — recall@10 of the IVF index against "
    "exact brute-force cosine top-10 for the 5 query vectors: the "
    "eval loop every production ANN deployment runs before trusting "
    "an approximate index (nprobe too low shows up HERE, not in a "
    "hash check of the approximate results themselves).  Exact side = "
    "broadcast-query scan + per-query WindowGroupLimit top-10; hit "
    "count via a left-semi join of exact against approximate; recall "
    "is one int/int division.  Oracle = plain-NumPy mirror of BOTH "
    "pipelines.",
    expects_bnlj=True,  # 5-row broadcast query batch crossJoin
    expects_broadcast="bounded eval query batch + fixed centroid codebook",
)
def similarity_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.similarity import ivf_topk, train_centroids

    emb = load(spark, sf_dir, "embeddings")
    cents = train_centroids(
        emb, "embedding", n_centroids=16, sample_size=2000, iters=4, seed=7,
        order_col="vec_id",
    )
    queries = emb.where(F.col("vec_id") < 5)
    approx = ivf_topk(
        emb, "embedding", "vec_id", queries, "embedding", "vec_id",
        cents, k=10, nprobe=2,
    ).select("query_id", "match_id")
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__q")
    )
    scored = (
        emb.select(
            F.col("vec_id").alias("match_id"), F.col("embedding").alias("__v")
        )
        .crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "match_id",
            F.expr(cosine("__v", "__q")).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("match_id")
    )
    exact = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("query_id", "match_id")
    )
    hits = (
        exact.join(approx, ["query_id", "match_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "k_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("k_exact")
            ).alias("recall_at_k"),
        )
    )


def _rrf_hybrid_sql() -> str:
    from heparchy_spark.queries.dedup import _NORM_SQL
    from heparchy_spark.queries.numeric import sql_davg, sql_dsum

    part = (
        "ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))"
        " * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))"
    )
    cos = f"""
             list_sum(list_transform(generate_series(1, {DIM}),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(generate_series(1, {DIM}),
                      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
              * sqrt(list_sum(list_transform(generate_series(1, {DIM}),
                      i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))))"""
    return f"""
    WITH qt AS (
      SELECT doc_id AS query_id, tok AS term FROM (
        SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
        FROM documents WHERE doc_id < 3
      ) WHERE tok <> '' GROUP BY doc_id, tok
    ),
    toks AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, tok AS term, COUNT(*) AS tf FROM toks
      WHERE tok IN (SELECT DISTINCT term FROM qt) AND tok <> ''
      GROUP BY doc_id, tok
    ),
    dl AS (
      SELECT doc_id,
             CAST(CASE WHEN length({_NORM_SQL}) = 0 THEN 0
                  ELSE len(string_split({_NORM_SQL}, ' ')) END AS DOUBLE)
               AS dl
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, {sql_davg('dl')} AS avgdl
      FROM dl
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id, tf.term, ROUND({part}, 8) AS part
      FROM tf
      JOIN dfreq ON tf.term = dfreq.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
    ),
    per_doc AS (
      SELECT query_id, scored.doc_id, {sql_dsum('part', 8)} AS score
      FROM scored JOIN qt ON scored.term = qt.term
      GROUP BY query_id, scored.doc_id
    ),
    lex AS (
      SELECT query_id, doc_id, rk FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY score DESC, doc_id
               ) AS rk
        FROM per_doc WHERE doc_id <> query_id
      ) WHERE rk <= 20
    ),
    qv AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings
      WHERE vec_id < 3
    ),
    sims AS (
      SELECT q.query_id, e.vec_id AS doc_id,
             ROUND({cos}, 9) AS sim
      FROM embeddings e CROSS JOIN qv q
      WHERE e.vec_id <> q.query_id
    ),
    dense AS (
      SELECT query_id, doc_id, rk FROM (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY sim DESC, doc_id
               ) AS rk
        FROM sims
      ) WHERE rk <= 20
    ),
    fused AS (
      SELECT query_id, doc_id, SUM(1.0 / (60 + rk)) AS rrf
      FROM (SELECT * FROM lex UNION ALL SELECT * FROM dense)
      GROUP BY query_id, doc_id
    )
    SELECT query_id, doc_id, ROUND(rrf, 9) AS rrf_score, rk FROM (
      SELECT query_id, doc_id, rrf,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY rrf DESC, doc_id
             ) AS rk
      FROM fused
    ) WHERE rk <= 10
    """


@register(
    "retrieval_rrf_hybrid",
    _rrf_hybrid_sql(),
    doc="Hybrid lexical+dense retrieval with reciprocal-rank fusion "
    "(Cormack et al. 2009, the standard BM25+ANN combiner): for query "
    "docs 0-2, arm A is more-like-this BM25 over the query doc's "
    "distinct normalized tokens (self excluded, decimal-accumulated "
    "round-8 score parts — ~20-term sums are aggregation-order-"
    "dependent in plain doubles), arm B is brute cosine against the "
    "matching embedding (rank on round-9 sims), and the fusion "
    "1/(60+rk) sums the two bounded top-20 lists — one combinable "
    "aggregate + a bounded window, the corpus is never rescanned. "
    "Composes operators/text.py bm25_topk + operators/similarity.py "
    "rrf_fuse across the documents AND embeddings tables.",
    expects_bnlj=True,
    expects_broadcast="bounded query batch + k-bounded rank lists",
)
def retrieval_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from heparchy_spark.operators.dedup import normalize_text
    from heparchy_spark.operators.similarity import rrf_fuse
    from heparchy_spark.operators.text import bm25_topk

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    qdocs = docs.where(F.col("doc_id") < 3)
    qterms = (
        qdocs.select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.split(normalize_text("text"), " ")).alias("term"),
        )
        .where(F.length("term") > 0)
        .distinct()
    )
    self_pairs = qdocs.select(F.col("doc_id").alias("query_id"), "doc_id")
    lex = bm25_topk(
        docs, "text", "doc_id", qterms,
        k=20, exclude=self_pairs, exact_scores=True,
    ).select("query_id", "doc_id", "rk")
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__q")
    )
    sims = (
        emb.crossJoin(F.broadcast(qs))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(F.expr(cosine("embedding", "__q")), 9).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("doc_id"))
    dense = (
        sims.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 20)
        .select("query_id", "doc_id", "rk")
    )
    return rrf_fuse([lex, dense], k=10, c=60)


@register(
    "similarity_mmr_rerank",
    expected_fixture_sql("similarity_mmr_rerank"),
    doc="MMR diversification (Carbonell & Goldstein 1998) of the brute-"
    "cosine top-20 candidates for queries 0-2: greedy "
    "0.7*rel - 0.3*max-sim-to-selected sweep, 5 picks per query, run as "
    "applyInPandas over the BOUNDED per-query candidate groups — the "
    "serving-side rerank stage; candidate generation stays distributed "
    "and the corpus is never touched by the greedy loop "
    "(operators/similarity.py mmr_rerank). Oracle = plain-Python mirror "
    "with the _seq_dot fold convention, precomputed.",
    expects_bnlj=True,
    expects_broadcast="bounded query batch + k-bounded candidate set",
)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from heparchy_spark.operators.similarity import mmr_rerank

    emb = load(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__q")
    )
    sims = (
        emb.crossJoin(F.broadcast(qs))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.round(F.expr(cosine("embedding", "__q")), 9).alias(
                "relevance"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("relevance"), F.asc("doc_id")
    )
    cand = (
        sims.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 20)
        .join(
            emb.select(F.col("vec_id").alias("doc_id"), "embedding"),
            "doc_id",
        )
        .select("query_id", "doc_id", "relevance", "embedding")
    )
    return mmr_rerank(cand, "embedding", k=5, lam=0.7)


@register(
    "similarity_random_projection",
    expected_fixture_sql("similarity_random_projection"),
    doc="Gaussian random projection 64->16 (Johnson-Lindenstrauss) with "
    "per-vector norm-preservation diagnostics: l2 of the original, the "
    "scaled l2 of the projection (||Pv||/sqrt(k), the unbiased norm "
    "estimate), and their ratio — the cheap pre-ANN reduction "
    "(operators/similarity.py random_projection; planes are seeded "
    "literal arrays, the projection is a pure scan-side map with no "
    "shuffle). Oracle = plain-Python _seq_dot mirror, precomputed.",
)
def similarity_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.similarity import random_projection

    emb = load(spark, sf_dir, "embeddings")
    proj = random_projection(emb, "embedding", "vec_id", dim=DIM, out_dim=16)
    joined = emb.select("vec_id", "embedding").join(proj, "vec_id")
    sq = F.aggregate(
        "projection", F.lit(0.0), lambda acc, v: acc + v * v
    )
    l2p = F.round(F.sqrt(sq / F.lit(16.0)), 9)
    l2o = F.round(F.expr(l2_norm("embedding")), 9)
    return joined.select(
        "vec_id",
        l2o.alias("l2_orig"),
        l2p.alias("l2_proj_scaled"),
        F.round(l2p / l2o, 6).alias("jl_ratio"),
    )


def _power_iteration_sql(dim: int, iters: int) -> str:
    from heparchy_spark.queries.numeric import sql_dsum

    parts = [
        f"""x0 AS (
      SELECT i, 0.125 AS x FROM generate_series(1, {dim}) t(i)
    )""",
        f"""comp AS MATERIALIZED (
      SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS val
      FROM embeddings, generate_series(1, {dim}) t(i)
    )""",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""xa{t - 1} AS (
      SELECT list(x ORDER BY i) AS xs FROM x{t - 1}
    )"""
        )
        parts.append(
            f"""dots{t} AS MATERIALIZED (
      SELECT vec_id,
             ROUND(list_sum(list_transform(generate_series(1, {dim}),
                   j -> CAST(embedding[j] AS DOUBLE) * xs[j])), 8) AS d
      FROM embeddings CROSS JOIN xa{t - 1}
    )"""
        )
        parts.append(
            f"""y{t} AS MATERIALIZED (
      SELECT i, {sql_dsum('ROUND(val * d, 8)', 8)} AS y
      FROM comp JOIN dots{t} USING (vec_id)
      GROUP BY i
    )"""
        )
        parts.append(
            f"""n{t} AS (
      SELECT ROUND(sqrt({sql_dsum('ROUND(y * y, 8)', 8)}), 8) AS nrm
      FROM y{t}
    )"""
        )
        parts.append(
            f"""x{t} AS MATERIALIZED (
      SELECT i, ROUND(y / nrm, 8) AS x FROM y{t} CROSS JOIN n{t}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT CAST(i AS INTEGER) AS dim_idx, x AS weight, nrm AS eigenvalue
    FROM x{iters} CROSS JOIN n{iters}
    """
    )


@register(
    "similarity_power_iteration_pc",
    _power_iteration_sql(DIM, 4),
    doc="Dominant principal direction of the embedding table by power "
    "iteration on the uncentered Gram matrix (operators/similarity.py "
    "power_iteration_top_pc) — the embedding-anisotropy diagnostic "
    "(Mu & Viswanath 2018): per iteration one scan-side fold against "
    "the broadcast-literal iterate, one per-dimension decimal "
    "aggregate, a 1-row norm, and a bounded dim-row collect. Every "
    "float op sits on the round-8 grid, so the oracle replays the 4 "
    "iterations as unrolled CTEs (the pagerank pattern).",
)
def similarity_power_iteration_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.similarity import power_iteration_top_pc

    emb = load(spark, sf_dir, "embeddings")
    return power_iteration_top_pc(emb, "embedding", "vec_id", dim=DIM, iters=4)


def _debias_sql(dim: int, iters: int) -> str:
    base = _power_iteration_sql(dim, iters)
    # reuse the full unrolled power-iteration chain; strip its final
    # SELECT and project every vector against the converged direction
    body = base[: base.rindex("SELECT CAST(i AS INTEGER)")].rstrip()
    return (
        body
        + f""",
    xf AS (SELECT list(x ORDER BY i) AS xs FROM x{iters})
    SELECT e.vec_id,
           ROUND(ROUND(list_sum(list_transform(generate_series(1, {dim}),
                 j -> CAST(e.embedding[j] AS DOUBLE) * xs[j])), 8), 6)
             AS pc1_component,
           ROUND(sqrt(list_sum(list_transform(generate_series(1, {dim}),
                 j -> CAST(e.embedding[j] AS DOUBLE)
                      * CAST(e.embedding[j] AS DOUBLE)))), 6)
             AS norm_before,
           ROUND(sqrt(list_sum(list_transform(generate_series(1, {dim}),
                 j -> (CAST(e.embedding[j] AS DOUBLE)
                       - ROUND(list_sum(list_transform(
                           generate_series(1, {dim}),
                           k -> CAST(e.embedding[k] AS DOUBLE) * xs[k])), 8)
                         * xs[j])
                      * (CAST(e.embedding[j] AS DOUBLE)
                       - ROUND(list_sum(list_transform(
                           generate_series(1, {dim}),
                           k -> CAST(e.embedding[k] AS DOUBLE) * xs[k])), 8)
                         * xs[j])))), 6)
             AS norm_after
    FROM embeddings e CROSS JOIN xf
    """
    )


@register(
    "similarity_debias_embeddings",
    _debias_sql(DIM, 4),
    doc="All-but-the-top debiasing (Mu & Viswanath 2018): project every "
    "embedding against the power-iteration dominant direction and "
    "report the removed component plus norms before/after — the "
    "isotropy-restoring postprocessing step for retrieval. The "
    "projection is a pure scan-side fold against the broadcast-literal "
    "direction (no shuffle after training); composes "
    "power_iteration_top_pc.",
)
def similarity_debias_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.similarity import (
        dot,
        power_iteration_top_pc,
    )

    emb = load(spark, sf_dir, "embeddings")
    pc = (
        power_iteration_top_pc(emb, "embedding", "vec_id", dim=DIM, iters=4)
        .orderBy("dim_idx")
        .collect()
    )
    w = [r.weight for r in pc]
    wlit = array_lit(w)
    d = F.round(F.expr(dot("embedding", array_sql(w))), 8)
    resid = F.zip_with(
        F.col("embedding"),
        wlit,
        lambda v, x: v.cast("double") - d * x,
    )
    return emb.select(
        "vec_id",
        F.round(d, 6).alias("pc1_component"),
        F.round(F.expr(l2_norm("embedding")), 6).alias("norm_before"),
        F.round(
            F.sqrt(
                F.aggregate(
                    resid, F.lit(0.0), lambda acc, r: acc + r * r
                )
            ),
            6,
        ).alias("norm_after"),
    )


@register(
    "similarity_kmeans_assign",
    expected_fixture_sql("similarity_kmeans_assign"),
    doc="Distributed Lloyd k-means (k=8, 4 iterations) over the FULL "
    "embeddings table — the whole-corpus clustering shape beside the "
    "sampled IVF trainer: assignment is a broadcast-centroid matmul per "
    "Arrow batch (pure map), the update one combinable k*dim decimal "
    "aggregate per iteration (MLlib's communication pattern), model "
    "state a bounded k*dim driver collect. Deterministic trajectory "
    "(TakeOrdered init, grid-rounded arithmetic) replayed by the "
    "plain-NumPy mirror in tools/build_expected.py.",
)
def similarity_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.clustering import kmeans_fit_assign

    emb = load(spark, sf_dir, "embeddings")
    return kmeans_fit_assign(emb, "embedding", "vec_id", k=8, iters=4)


_DECON_SQL = f"""
    WITH ev AS (
      SELECT vec_id + 10000 AS eval_id,
             list_transform(generate_series(1, {DIM}),
               i -> CAST(embedding[i] AS DOUBLE)
                    * (1.0 + 0.0005 * ((vec_id + i - 1) % 3))) AS ev
      FROM embeddings WHERE vec_id < 50
      UNION ALL
      SELECT vec_id + 10000 AS eval_id,
             list_reverse(list_transform(generate_series(1, {DIM}),
               i -> CAST(embedding[i] AS DOUBLE))) AS ev
      FROM embeddings WHERE vec_id >= 50 AND vec_id < 100
    ),
    scored AS (
      SELECT e.eval_id, t.vec_id AS train_id,
             list_sum(list_transform(generate_series(1, {DIM}),
               i -> e.ev[i] * CAST(t.embedding[i] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(generate_series(1, {DIM}),
                  i -> e.ev[i] * e.ev[i])))
              * sqrt(list_sum(list_transform(generate_series(1, {DIM}),
                  i -> CAST(t.embedding[i] AS DOUBLE)
                       * CAST(t.embedding[i] AS DOUBLE))))) AS cs
      FROM ev e, embeddings t
    )
    SELECT eval_id, train_id, ROUND(cs, 9) AS cosine_sim
    FROM scored WHERE cs >= 0.99
"""


def _decon_eval(emb: DataFrame) -> DataFrame:
    """Synthetic eval set: 50 CONTAMINATED rows (the planted-perturbation
    formula — near-copies of train rows 0..49) and 50 NOVEL rows
    (dimension-reversed vectors of rows 50..99: natural max cross-cosine
    in this corpus is ~0.51, far below threshold)."""
    vid = F.col("vec_id")
    contaminated = (
        emb.where(vid < 50)
        .select(
            "vec_id",
            F.transform(
                F.col("embedding"),
                lambda x, i: x.cast("double")
                * (
                    F.lit(1.0)
                    + F.lit(0.0005) * ((vid + i) % 3).cast("double")
                ),
            ).alias("embedding"),
        )
        .select((vid + 10000).alias("vec_id"), "embedding")
    )
    novel = emb.where((vid >= 50) & (vid < 100)).select(
        (vid + 10000).alias("vec_id"),
        F.reverse(F.col("embedding").cast("array<double>")).alias(
            "embedding"
        ),
    )
    return contaminated.unionByName(novel)


@register(
    "similarity_eval_decontamination",
    _DECON_SQL,
    doc="Embedding-level eval-set decontamination: exact (eval, train) "
    "cosine matches at >= 0.99 over a synthetic eval set of 50 planted "
    "near-copies + 50 novel vectors — every contaminated pair found, no "
    "recall dial.  The eval matrix rides the mapInPandas closure "
    "(bounded by nature) against a pure-map scan of the train side: "
    "zero shuffles at any train scale; candidates screen through one "
    "matmul per Arrow batch, survivors re-score with the engine-portable "
    "sequential fold.",
)
def similarity_eval_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from heparchy_spark.operators.similarity import broadcast_decontaminate

    emb = load(spark, sf_dir, "embeddings")
    pairs = broadcast_decontaminate(
        emb, _decon_eval(emb), "embedding", "vec_id", threshold=0.99
    )
    return pairs.select(
        "eval_id", "train_id", F.round("cosine_sim", 9).alias("cosine_sim")
    )


@register(
    "similarity_whiten_dims",
    """
    WITH comp AS (
      SELECT vec_id,
             unnest(range(1, len(embedding) + 1)) AS dim_idx,
             unnest(list_transform(embedding,
                                   x -> ROUND(CAST(x AS DOUBLE), 8))) AS v
      FROM embeddings
    ),
    stats AS (
      SELECT dim_idx,
             ROUND(ROUND(CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE), 8)
                   / COUNT(*), 8) AS mu,
             ROUND(SQRT(
               ROUND(CAST(SUM(CAST(ROUND(v * v, 8) AS DECIMAL(38,10)))
                          AS DOUBLE), 8) / COUNT(*)
               - ROUND(ROUND(CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE), 8)
                       / COUNT(*), 8)
                 * ROUND(ROUND(CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE), 8)
                         / COUNT(*), 8)
             ), 8) AS sigma
      FROM comp GROUP BY dim_idx
    )
    SELECT c.vec_id, c.dim_idx,
           ROUND((c.v - s.mu) / s.sigma, 6) AS z
    FROM comp c JOIN stats s USING (dim_idx)
    """,
    doc="Per-dimension whitening (z-normalization) of the embedding "
    "table — the preprocessing pass ANN indexes and linear probes "
    "want: one combinable moments aggregate per dimension (a "
    "|dim|-row table at any corpus scale), broadcast back over a "
    "pure-map scan.  Decimal-exact moments on the round-8 grid keep "
    "mu/sigma bit-identical across engines.",
    expects_broadcast="per-dimension stats (fixed embedding dim)",
)
def similarity_whiten_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.queries.numeric import dsum

    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("__i0", "__v0"),
    ).select(
        "vec_id",
        (F.col("__i0") + 1).alias("dim_idx"),
        F.round(F.col("__v0").cast("double"), 8).alias("v"),
    )
    mu = F.round(dsum(F.col("v"), 8) / F.count(F.lit(1)), 8)
    stats = comp.groupBy("dim_idx").agg(
        mu.alias("mu"),
        F.round(
            F.sqrt(
                dsum(F.round(F.col("v") * F.col("v"), 8), 8)
                / F.count(F.lit(1))
                - mu * mu
            ),
            8,
        ).alias("sigma"),
    )
    return comp.join(F.broadcast(stats), "dim_idx").select(
        "vec_id",
        "dim_idx",
        F.round((F.col("v") - F.col("mu")) / F.col("sigma"), 6).alias("z"),
    )


@register(
    "similarity_binary_hamming_topk",
    f"""
    WITH codes AS (
      -- bit 63 is the sign bit: Spark's shiftleft(1L, 63) wraps to
      -- Long.MIN_VALUE, so the oracle adds that literal instead of a
      -- left shift DuckDB would reject; the BIGINT cast collapses the
      -- HUGEINT accumulator back to the engine-shared int64.
      SELECT vec_id,
             -- same polarity as Spark's binary_quantize (set the bit
             -- when x >= 0, else clear) so a NULL element leaves the
             -- bit CLEAR in both engines
             CAST(SUM(CASE WHEN embedding[i] >= 0 THEN
                        CASE WHEN i = 64
                        THEN (CAST(-9223372036854775807 AS BIGINT) - 1)
                        ELSE (CAST(1 AS BIGINT) << (i - 1)) END
                      ELSE CAST(0 AS BIGINT)
                      END) AS BIGINT) AS code
      FROM embeddings, generate_series(1, {DIM}) AS t(i)
      GROUP BY vec_id
    ),
    q AS (SELECT vec_id AS query_id, code AS qcode
          FROM codes WHERE vec_id < 5),
    d AS (
      SELECT q.query_id, c.vec_id,
             bit_count(xor(c.code, q.qcode)) AS hamming
      FROM codes c, q
      WHERE c.vec_id <> q.query_id
    ),
    r AS (
      SELECT query_id, vec_id, hamming,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY hamming, vec_id) AS rank
      FROM d
    )
    SELECT query_id, vec_id, CAST(hamming AS BIGINT) AS hamming,
           CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 10
    """,
    doc="Binary-quantized ANN: sign-bit codes packed into one int64 "
    "(32x storage shrink), then exact Hamming top-10 per query "
    "(vec_id<5) via popcount(XOR) — the candidate generator of a "
    "two-stage binary-rerank pipeline.  Packing is a map-side zip_with/"
    "aggregate fold in the scan projection (zero shuffles at any "
    "corpus size); the bounded query side broadcasts and only the "
    "|Q|*k ranking state shuffles.  Sign extraction is a comparison, "
    "not arithmetic, so codes are bit-identical cross-engine "
    "(operators/similarity.py binary_quantize/hamming_topk).",
    expects_bnlj=True,
    expects_broadcast="bounded query batch",
)
def similarity_binary_hamming_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from heparchy_spark.operators.similarity import (
        binary_quantize,
        hamming_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    codes = binary_quantize(emb, "embedding", "vec_id", dim=DIM)
    q = codes.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("qcode")
    )
    out = hamming_topk(codes, q, k=10)
    return out.select(
        "query_id",
        "vec_id",
        F.col("hamming").cast("long").alias("hamming"),
        F.col("rank").cast("long").alias("rank"),
    )


@register(
    "similarity_binary_rerank_topk",
    f"""
    WITH codes AS (
      SELECT vec_id,
             -- same polarity as Spark's binary_quantize (set the bit
             -- when x >= 0, else clear) so a NULL element leaves the
             -- bit CLEAR in both engines
             CAST(SUM(CASE WHEN embedding[i] >= 0 THEN
                        CASE WHEN i = 64
                        THEN (CAST(-9223372036854775807 AS BIGINT) - 1)
                        ELSE (CAST(1 AS BIGINT) << (i - 1)) END
                      ELSE CAST(0 AS BIGINT)
                      END) AS BIGINT) AS code
      FROM embeddings, generate_series(1, {DIM}) AS t(i)
      GROUP BY vec_id
    ),
    q AS (SELECT vec_id AS query_id, code AS qcode
          FROM codes WHERE vec_id < 5),
    cand AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, c.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY bit_count(xor(c.code, q.qcode)), c.vec_id
               ) AS hr
        FROM codes c, q
        WHERE c.vec_id <> q.query_id
      ) WHERE hr <= 50
    ),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
             ROUND(
               list_sum(list_transform(generate_series(1, {DIM}),
                 i -> CAST(e.embedding[i] AS DOUBLE)
                    * CAST(qe.embedding[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(generate_series(1, {DIM}),
                    i -> CAST(e.embedding[i] AS DOUBLE)
                       * CAST(e.embedding[i] AS DOUBLE))))
                * sqrt(list_sum(list_transform(generate_series(1, {DIM}),
                    i -> CAST(qe.embedding[i] AS DOUBLE)
                       * CAST(qe.embedding[i] AS DOUBLE))))),
               9) AS cosine_sim
      FROM cand
      JOIN embeddings e ON e.vec_id = cand.vec_id
      JOIN embeddings qe ON qe.vec_id = cand.query_id
    )
    SELECT query_id, vec_id, cosine_sim, CAST(rk AS BIGINT) AS rank
    FROM (
      SELECT query_id, vec_id, cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY query_id
               ORDER BY cosine_sim DESC, vec_id) AS rk
      FROM scored
    ) WHERE rk <= 10
    """,
    doc="Two-stage binary-quantized retrieval, end to end: Hamming "
    "top-50 candidates from the packed sign codes (map-side fold + "
    "popcount against broadcast queries), then EXACT cosine rerank of "
    "only the 50 survivors per query — the 32x-compressed serving "
    "pipeline where the full-precision vectors are touched for 50 "
    "rows per query instead of the whole corpus.  Sequential-fold "
    "dots on the round-9 grid keep the rerank engine-exact.",
    expects_bnlj=True,
    expects_broadcast="bounded query batch",
)
def similarity_binary_rerank_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from heparchy_spark.operators.similarity import (
        binary_quantize,
        cosine,
        hamming_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    codes = binary_quantize(emb, "embedding", "vec_id", dim=DIM)
    q = codes.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("qcode")
    )
    cand = hamming_topk(codes, q, k=50).select("query_id", "vec_id")
    ev = emb.select(F.col("vec_id"), F.col("embedding").alias("__cv"))
    qv = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qv"),
    )
    scored = (
        cand.join(ev, "vec_id")
        .join(F.broadcast(qv), "query_id")
        .select(
            "query_id",
            "vec_id",
            F.round(F.expr(cosine("__cv", "__qv")), 9).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(
            "query_id",
            "vec_id",
            "cosine_sim",
            F.col("rank").cast("long").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# similarity_binary_multiword_topk — multi-word (dim > 64) binary ANN
# ---------------------------------------------------------------------------

_MW_DIM = 160  # 64 + 64 + 32 -> exercises 3 code words incl. a partial one


def _mw_word_sql(off: int, width: int) -> str:
    """One packed int64 word of the widened vector ``w`` — the
    shifted-ones sum over elements ``off+1 .. off+width`` (1-based),
    bit 63 via the MIN_VALUE literal DuckDB accepts where a left shift
    of 1 would overflow.  Same >=0 polarity as binary_quantize, so a
    NULL element leaves the bit clear in both engines."""
    return (
        f"CAST(list_sum(list_transform(generate_series(1, {width}),"
        f" i -> CASE WHEN w[i + {off}] >= 0 THEN"
        " CASE WHEN i = 64 THEN (CAST(-9223372036854775807 AS BIGINT) - 1)"
        " ELSE (CAST(1 AS BIGINT) << (i - 1)) END"
        " ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
    )


def _mw_sql() -> str:
    n_words = (_MW_DIM + 63) // 64
    words = ", ".join(
        _mw_word_sql(w * 64, min(64, _MW_DIM - w * 64))
        for w in range(n_words)
    )
    return f"""
    WITH wide AS (
      SELECT vec_id,
             embedding || list_transform(embedding, x -> -x)
                       || embedding[1:32] AS w
      FROM embeddings
    ),
    codes AS (
      SELECT vec_id, [{words}] AS codes FROM wide
    ),
    q AS (SELECT vec_id AS query_id, codes AS qcodes
          FROM codes WHERE vec_id < 5),
    d AS (
      SELECT q.query_id, c.vec_id,
             CAST(list_sum(list_transform(generate_series(1, {n_words}),
               j -> bit_count(xor(c.codes[j], q.qcodes[j]))))
               AS BIGINT) AS hamming
      FROM codes c, q
      WHERE c.vec_id <> q.query_id
    ),
    r AS (
      SELECT query_id, vec_id, hamming,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY hamming, vec_id) AS rank
      FROM d
    )
    SELECT query_id, vec_id, hamming, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 10
    """


@register(
    "similarity_binary_multiword_topk",
    _mw_sql(),
    doc="Binary-quantized ANN at production embedding widths: the "
    "corpus 64-dim vectors are widened to 160 dims (v || -v || v[:32] "
    "— deterministic, sign-bearing) so the packing genuinely crosses "
    "word boundaries, then sign-bit-packed into ceil(160/64)=3 int64 "
    "words and searched by exact Hamming top-10 per query (vec_id<5), "
    "distance = sum of per-word popcount(XOR).  Packing and distance "
    "are per-row zip_with/aggregate folds in the scan projection — "
    "zero shuffles at any corpus size or dim; the bounded query side "
    "broadcasts and only |Q|*k ranking state shuffles "
    "(operators/similarity.py binary_quantize multi-word layout).",
    expects_bnlj=True,
    expects_broadcast="bounded query batch",
)
def similarity_binary_multiword_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from heparchy_spark.operators.similarity import (
        binary_quantize,
        hamming_topk,
    )

    emb = load(spark, sf_dir, "embeddings")
    wide = emb.select(
        "vec_id",
        F.expr(
            "concat(embedding, transform(embedding, x -> -x),"
            " slice(embedding, 1, 32))"
        ).alias("wemb"),
    )
    codes = binary_quantize(wide, "wemb", "vec_id", dim=_MW_DIM)
    q = codes.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("qcodes")
    )
    out = hamming_topk(codes, q, k=10)
    return out.select(
        "query_id",
        "vec_id",
        F.col("hamming").cast("long").alias("hamming"),
        F.col("rank").cast("long").alias("rank"),
    )


@register(
    "similarity_pq_recall_at_k",
    expected_fixture_sql("similarity_pq_recall_at_k"),
    doc="Compression-quality audit for the PQ index — recall@10 of ADC "
    "top-10 against exact brute-force squared-L2 top-10 for the 5 "
    "query vectors: the eval that tells you whether m=8 subspaces x "
    "16 codes preserve enough geometry to serve, the same way "
    "similarity_ivf_recall_at_k audits the IVF routing.  Exact side = "
    "broadcast-query scan + sequential-fold squared distance + "
    "per-query WindowGroupLimit top-10; hit count = one left-semi "
    "join; recall = int/int.  Oracle = plain-NumPy mirror of BOTH "
    "pipelines.",
    expects_bnlj=True,  # 5-row broadcast query batch crossJoin
    expects_broadcast="bounded eval query batch + fixed PQ LUT (k*m rows)",
)
def similarity_pq_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.similarity import pq_adc_topk, pq_train

    emb = load(spark, sf_dir, "embeddings")
    books = pq_train(
        emb, "embedding", m=8, n_codes=16, sample_size=2000, iters=4, seed=7,
        order_col="vec_id",
    )
    queries = emb.where(F.col("vec_id") < 5)
    approx = pq_adc_topk(
        emb, "embedding", "vec_id", queries, "embedding", "vec_id", books, k=10
    ).select("query_id", "match_id")
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__q")
    )
    l2sq = F.aggregate(
        F.zip_with(
            F.col("__v"),
            F.col("__q"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        emb.select(
            F.col("vec_id").alias("match_id"), F.col("embedding").alias("__v")
        )
        .crossJoin(F.broadcast(q))
        .select("query_id", "match_id", l2sq.alias("d2"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("d2"), F.asc("match_id")
    )
    exact = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("query_id", "match_id")
    )
    hits = (
        exact.join(approx, ["query_id", "match_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "k_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("k_exact")
            ).alias("recall_at_k"),
        )
    )


@register(
    "similarity_cluster_purity",
    expected_fixture_sql("similarity_cluster_purity"),
    doc="Clustering-quality audit for the distributed k-means — the "
    "label-agreement eval beside the IVF/PQ recall audits: per "
    "cluster, member count, the majority label (ties to the "
    "lexicographically smaller label) and its share, plus how much of "
    "the corpus the cluster holds.  Purity says whether unsupervised "
    "structure tracks the labeled structure before anyone trusts the "
    "clusters for curation buckets.  Assignment is the deterministic "
    "kmeans trajectory (similarity_kmeans_assign); the rollup is one "
    "grouped count + one WindowGroupLimit argmax; shares are exact "
    "int/int divisions.  Oracle = plain-NumPy trajectory mirror + "
    "plain-Python rollup, precomputed.",
)
def similarity_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.clustering import kmeans_fit_assign

    emb = load(spark, sf_dir, "embeddings")
    assign = kmeans_fit_assign(emb, "embedding", "vec_id", k=8, iters=4)
    labeled = assign.join(
        emb.select("vec_id", "label"), "vec_id"
    )
    per = labeled.groupBy("cluster", "label").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("n"), F.asc("label")
    )
    total = per.groupBy("cluster").agg(
        F.sum("n").cast("long").alias("n_members")
    )
    top = (
        per.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select("cluster", F.col("label").alias("top_label"), F.col("n").alias("__top_n"))
    )
    return (
        total.join(top, "cluster")
        .select(
            "cluster",
            "n_members",
            "top_label",
            (
                F.col("__top_n").cast("double")
                / F.col("n_members").cast("double")
            ).alias("top_share"),
        )
    )


# ---------------------------------------------------------------------------
# similarity_int8_recall_at_k — compression-cost audit for scalar
# quantization, completing the eval triple (IVF / PQ / int8)
# ---------------------------------------------------------------------------

def _int8_recall_oracle() -> str:
    dot = (
        "list_sum(list_transform(generate_series(1, {d}),"
        " i -> {a}[i] * {b}[i]))"
    )

    def cos(a: str, b: str) -> str:
        return (
            f"ROUND({dot.format(d=DIM, a=a, b=b)}"
            f" / (sqrt({dot.format(d=DIM, a=a, b=a)})"
            f" * sqrt({dot.format(d=DIM, a=b, b=b)})), 9)"
        )

    return f"""
    WITH base AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, v, list_min(v) AS vmin,
             (list_max(v) - list_min(v)) / 255.0 AS scale
      FROM base
    ),
    deq AS (
      SELECT vec_id, v,
             CASE WHEN scale > 0 THEN list_transform(v,
               x -> vmin + round((x - vmin) / scale) * scale)
             ELSE v END AS dv
      FROM s
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 5),
    ex AS (
      SELECT query_id, match_id FROM (
        SELECT q.query_id, d.vec_id AS match_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {cos('d.v', 'q.qv')} DESC, d.vec_id) AS rk
        FROM deq d, q
      ) WHERE rk <= 10
    ),
    ap AS (
      SELECT query_id, match_id FROM (
        SELECT q.query_id, d.vec_id AS match_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {cos('d.dv', 'q.qv')} DESC, d.vec_id) AS rk
        FROM deq d, q
      ) WHERE rk <= 10
    )
    SELECT e.query_id,
           COUNT(*) AS k_exact,
           CAST(COALESCE(SUM(CASE WHEN a.match_id IS NOT NULL
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_hits,
           CAST(COALESCE(SUM(CASE WHEN a.match_id IS NOT NULL
                                  THEN 1 ELSE 0 END), 0) AS DOUBLE)
             / COUNT(*) AS recall_at_k
    FROM ex e LEFT JOIN ap a
      ON a.query_id = e.query_id AND a.match_id = e.match_id
    GROUP BY e.query_id
    """


@register(
    "similarity_int8_recall_at_k",
    _int8_recall_oracle(),
    doc="Compression-cost audit completing the ANN eval triple beside "
    "IVF and PQ recall: recall@10 of asymmetric cosine search over the "
    "int8 scalar-dequantized corpus (affine min/max codebook per "
    "vector, full-precision queries — the ADC serving shape) against "
    "exact cosine top-10.  Tells you what the 4x storage shrink costs "
    "in retrieval BEFORE you serve from it.  Both sides rank on "
    "round-9 cosine with match_id tiebreak (cross-engine-stable); "
    "dequantization is pure per-row arithmetic (no training, so a "
    "FULL SQL oracle, unlike the fixture-mirrored IVF/PQ audits).  "
    "Scale: corpus-side scan x 5 broadcast queries, WindowGroupLimit "
    "top-k per query — no all-pairs.",
    expects_bnlj=True,  # 5-row broadcast query batch crossJoin
    expects_broadcast="bounded eval query batch + 1-row quantization bounds",
)
def similarity_int8_recall_at_k(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    vmin = F.array_min(v)
    scale = (F.array_max(v) - vmin) / F.lit(255.0)
    dv = F.when(
        scale > 0,
        F.transform(v, lambda x: vmin + F.round((x - vmin) / scale) * scale),
    ).otherwise(v)
    deq = emb.select(
        F.col("vec_id").alias("match_id"),
        v.alias("__v"),
        dv.alias("__dv"),
    )
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("__q"),
    )
    scored = deq.crossJoin(F.broadcast(q))

    def topk(score_col: F.Column) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.desc("__c"), F.asc("match_id")
        )
        return (
            scored.select(
                "query_id", "match_id", F.round(score_col, 9).alias("__c")
            )
            .withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 10)
            .select("query_id", "match_id")
        )

    exact = topk(F.expr(cosine("__v", "__q")))
    approx = topk(F.expr(cosine("__dv", "__q")))
    hits = (
        exact.join(approx, ["query_id", "match_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("k_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "k_exact",
            F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
            (
                F.coalesce("n_hits", F.lit(0)).cast("double")
                / F.col("k_exact")
            ).alias("recall_at_k"),
        )
    )

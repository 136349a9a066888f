"""Linear text-quality classifier — hashed bag-of-words features +
batch-gradient logistic regression, trained and applied as plain
DataFrame algebra (the CCNet/fastText-style quality-filter stage of a
pretraining pipeline, reduced to its Spark-native core).

Why this shape: a quality filter must SCORE the full corpus (that part
has to be distributed — one feature join + one per-doc aggregate), while
TRAINING only needs aggregate gradients — each iteration is a per-doc
aggregate and a per-bucket aggregate, both map-side combinable, with the
weight vector itself bounded (n_buckets + 1 doubles) and carried between
iterations as a broadcast table.  No MLlib, no Python in the hot path.

Determinism contract (the corpus discipline, ``queries/numeric.py``):
every float reduction accumulates round-8 addends in exact decimal, the
sigmoid input/output sit on the round-8 grid, and weight updates round
engine-side (Spark and DuckDB both round half-away-from-zero; Python's
``round`` does not, so no weight arithmetic happens on the driver) — the
whole training trajectory is a pure function of the input and replays
bit-for-bit as unrolled SQL CTEs, the ``pagerank`` oracle pattern.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from heparchy_spark.functions.literals import array_lit

__all__ = ["hashed_features", "logreg_train", "logreg_score"]


def _default_bucket(col: Column, n_buckets: int) -> Column:
    """Engine-portable token bucket: sha256 prefix % n (the
    ``dataset.hash_bucket`` convention).  Production pipelines that never
    cross engines can pass ``bucket_fn=lambda c: F.xxhash64(c) % n`` for
    a cheaper hash."""
    return (
        F.conv(F.substring(F.sha2(col, 256), 1, 12), 16, 10).cast("long")
        % n_buckets
    )


def hashed_features(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int = 64,
    bucket_fn=None,
) -> DataFrame:
    """Sparse hashed bag-of-words: (doc_id, bucket, x) rows where ``x``
    is the round-8 term frequency cnt/doc_len, plus one bias row per
    document (bucket = n_buckets, x = 1.0).

    Term frequencies, not raw counts: with raw counts the dot product
    grows with document LENGTH, so a uniform residual drives z tens of
    units per step and full-batch gradient descent oscillates between
    saturated sigmoids instead of converging (observed: 4 steps on
    ~50-token docs landed every score at 0.996).  Normalized, the
    feature mass per document is exactly 1 (+bias) and z stays within
    +-2 max|w|.

    One token-stream pass folded by (doc, bucket), then a per-doc
    window for the length normalizer; the bias rides a second narrow
    projection of the same scan.  Documents with no tokens still get
    their bias row, so every input row is scorable.
    """
    from pyspark.sql import Window

    from heparchy_spark.operators.dedup import normalize_text

    bucket = bucket_fn or (lambda c: _default_bucket(c, n_buckets))
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("__tok"),
    ).where(F.length("__tok") > 0)
    counts = (
        toks.select("doc_id", bucket(F.col("__tok")).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dl = Window.partitionBy("doc_id")
    tf = counts.select(
        "doc_id",
        "bucket",
        F.round(
            F.col("cnt").cast("double") / F.sum("cnt").over(dl), 8
        ).alias("x"),
    )
    bias = df.select(
        F.col(id_col).alias("doc_id"),
        F.lit(n_buckets).cast("long").alias("bucket"),
        F.lit(1.0).alias("x"),
    )
    return tf.unionByName(bias)


def _z_scores(feats: DataFrame, w_df: DataFrame) -> DataFrame:
    """(doc_id, z): decimal-accumulated round-8 dot products."""
    from heparchy_spark.queries.numeric import dsum

    return (
        feats.join(F.broadcast(w_df), "bucket")
        .groupBy("doc_id")
        .agg(dsum(F.round(F.col("x") * F.col("w"), 8), 8).alias("z"))
    )


def logreg_train(
    feats: DataFrame,
    labels: DataFrame,
    n_buckets: int = 64,
    iters: int = 4,
    lr_pct: int = 50,
) -> list[float]:
    """Batch-gradient logistic regression over hashed features: returns
    the trained weight vector (length n_buckets + 1, bias last) after
    ``iters`` full-batch steps of ``w += lr * mean((y - sigma(w.x)) x)``.

    ``labels`` carries (doc_id, y) with y in {0, 1}.  ``lr_pct`` is an
    integer percentage so the step scale is exactly representable.

    Scale shape: ONE doc-keyed shuffle total (compacting the labeled
    features to per-doc sorted arrays, cached); each iteration is then a
    pure per-row map (dot product / sigmoid / residual from broadcast
    weight literals) feeding one per-bucket aggregate (<= n_buckets + 1
    groups, map-side combinable) and a bounded (n_buckets + 1)-row
    collect carrying the weights to the next step — the same
    bounded-driver-state pattern as ``bpe_train``'s argmax and
    ``pq_train``'s codebooks.  All rounding happens engine-side; the
    driver only ferries exact doubles.
    """
    from heparchy_spark.queries.numeric import dsum

    spark = feats.sparkSession
    n = labels.count()
    lr = lr_pct / 100.0
    # Compact the labeled training table ONCE: per-doc sorted (bucket, x)
    # arrays with the label on the same row.  Every iteration then reads
    # this cached frame with a pure per-row map (z, sigmoid, residual all
    # from the broadcast weight literals) — no doc-keyed shuffle or join
    # per step; the only reduction left is the <= n_buckets+1-group
    # gradient aggregate, so an iteration is ONE action over ONE small
    # shuffle.  (The previous form re-shuffled the feature rows by doc_id
    # three times per iteration: groupBy for z, the label join, and the
    # residual join — measured 2.4 s/step at sf0.1 vs ~0.2 s for this.)
    # Size the training frame's partitioning to the LABELED SAMPLE, not
    # the session default: the per-step gradient scan over a few
    # thousand cached rows otherwise pays 32 tasks of scheduling per
    # action (measured ~1.7x the whole training loop at sf0.1).  The
    # coalesce keeps one task per ~10k docs, which still fans a 1e8-row
    # labeled set across the cluster.
    parts = max(1, min(200, (n + 9999) // 10000))
    compact = (
        feats.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("bucket", "x"))).alias(
                "fx"
            )
        )
        .join(labels, "doc_id")
        .select("fx", F.col("y").cast("double").alias("y"))
        .coalesce(parts)
        .persist()
    )
    try:
        weights = [0.0] * (n_buckets + 1)
        for _ in range(iters):
            # z via a sequential in-array fold: the addends round(x*w, 8)
            # sit exactly on the 1e-8 grid with |partial sum| << 2^53/1e8,
            # so every double add is EXACT and the fold equals the decimal
            # dsum of _z_scores bit-for-bit (order-independent because
            # exact) — the oracle's unrolled dsum CTEs replay unchanged.
            w_arr = array_lit(weights)
            z = F.aggregate(
                F.col("fx"),
                F.lit(0.0),
                lambda acc, f: acc
                + F.round(
                    f["x"]
                    * F.element_at(w_arr, f["bucket"].cast("int") + 1),
                    8,
                ),
            )
            r = F.col("y") - F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.round(z, 8))), 8
            )
            # r is hoisted into its own projection: inlined beside the
            # generator it would re-evaluate the whole z fold once per
            # EXPLODED row (~|fx| times per doc) instead of once per doc
            # — measured 2.6x slower.
            grad = (
                compact.select(r.alias("r"), "fx")
                .select("r", F.explode("fx").alias("f"))
                .groupBy(F.col("f.bucket").alias("bucket"))
                .agg(
                    dsum(
                        F.round(F.col("r") * F.col("f.x"), 8), 8
                    ).alias("g")
                )
            )
            # Weight update stays ENGINE-side (Spark rounds half-away-from
            # -zero via the shortest-repr BigDecimal; Python's round does
            # not): a 65-row broadcast join riding the same single action.
            w_df = spark.createDataFrame(
                [(b, w) for b, w in enumerate(weights)],
                "bucket long, w double",
            )
            updated = (
                w_df.join(grad, "bucket", "left")
                .select(
                    "bucket",
                    F.round(
                        F.col("w")
                        + F.lit(lr) * F.coalesce(F.col("g"), F.lit(0.0)) / n,
                        8,
                    ).alias("w"),
                )
                .collect()
            )
            weights = [0.0] * (n_buckets + 1)
            for row in updated:
                weights[row["bucket"]] = row["w"]
    finally:
        compact.unpersist()
    return weights


def logreg_score(feats: DataFrame, weights: list[float]) -> DataFrame:
    """(doc_id, quality_score, keep): sigmoid scores under a trained
    weight vector — the corpus-scale application pass (one broadcast
    join + one per-doc aggregate; linear, no Python)."""
    spark = feats.sparkSession
    # The bucket join would silently DROP feature rows whose bucket exceeds
    # the weight vector (a weights/n_buckets mismatch), producing
    # plausible-looking but wrong scores.  Guard lazily in-plan: the check
    # rides the scan the query already does (no extra driver job) and
    # fails the action with a precise message.
    feats = feats.withColumn(
        "bucket",
        F.when(
            F.col("bucket") >= F.lit(len(weights)),
            F.raise_error(
                F.concat(
                    F.lit("logreg_score: feature bucket "),
                    F.col("bucket").cast("string"),
                    F.lit(
                        f" out of range for a {len(weights)}-weight vector"
                        " — was the model trained with a different"
                        " n_buckets?"
                    ),
                )
            ).cast("long"),
        ).otherwise(F.col("bucket")),
    )
    w_df = spark.createDataFrame(
        [(b, w) for b, w in enumerate(weights)], "bucket long, w double"
    )
    z = _z_scores(feats, w_df)
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6)
    return z.select(
        "doc_id",
        score.alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )

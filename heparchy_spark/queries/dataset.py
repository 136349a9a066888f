"""Dataset-assembly query corpus over ``documents`` (operators.dataset)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from heparchy_spark.operators.dataset import (
    pack_sequences,
    split_assign,
    stratified_sample,
)
from heparchy_spark.operators.sweep import prefix_sum, range_bucket, sql_bin_of
from heparchy_spark.operators.text import token_count
from heparchy_spark.queries import register
from heparchy_spark.queries.numeric import davg, sql_davg
from heparchy_spark.queries.tables import load
from heparchy_spark.queries.text import _TOKCOUNT_SQL
from heparchy_spark.queries.dedup import _JACCARD_PAIRS_06_SQL

_BUCKET_SQL = (
    "('0x' || substr(sha256(text || 'split'), 1, 12))::BIGINT % 10000"
)


@register(
    "dataset_split_assign",
    f"""
    SELECT doc_id,
           CASE WHEN __b < 8000 THEN 'train'
                WHEN __b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id, {_BUCKET_SQL} AS __b FROM documents)
    """,
    doc="Deterministic 80/10/10 train/val/test assignment by content-hash "
    "bucket: reproducible, stable under corpus growth, duplicate contents "
    "co-assign (no cross-split leakage).",
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    out = split_assign(
        docs, "text", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="split"
    )
    return out.select("doc_id", "split")


@register(
    "dataset_stratified_sample",
    """
    WITH __t AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang ORDER BY sha256(text), doc_id) AS __rn,
             count(*) OVER (PARTITION BY lang) AS __n
      FROM documents
    )
    SELECT doc_id, lang FROM __t WHERE __rn <= ceil(0.2 * __n)
    """,
    doc="Exact-quota 20% stratified sample per language, chosen by "
    "content-hash order (deterministic, engine-portable).",
)
def dataset_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", "text", "doc_id", 0.2).select(
        "doc_id", "lang"
    )


@register(
    "dataset_pack_bins",
    f"""
    SELECT doc_id, lang,
           CAST(__tc AS BIGINT) AS seq_len,
           CAST(floor(CAST(__cum - __tc AS DOUBLE) / 512.0) AS BIGINT)
             AS bin_id
    FROM (
      SELECT doc_id, lang, __tc,
             sum(__tc) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS __cum
      FROM (SELECT doc_id, lang, {_TOKCOUNT_SQL} AS __tc FROM documents)
    )
    """,
    doc="Sequence packing into 512-token bins per language shard: running "
    "floor((cumsum-len)/budget) in id order — streaming first-fit "
    "approximation, parallel across shards (no global cumsum).",
)
def dataset_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return pack_sequences(
        docs, "lang", "doc_id", token_count("text"), budget=512
    )


@register(
    "dataset_mix_sources",
    """
    WITH __cnt AS (
      SELECT lang, count(*) AS __n,
             CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 200
                       WHEN 'es' THEN 150 WHEN 'fr' THEN 100
                       WHEN 'zh' THEN 50 END AS __w
      FROM documents GROUP BY lang
    ), __ns AS (
      SELECT min(floor(CAST(1000 AS DOUBLE) * __n / __w)) AS __nstar
      FROM __cnt WHERE __w IS NOT NULL
    ), __ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang ORDER BY sha256(text || 'mix'), doc_id
             ) AS __rn
      FROM documents
    )
    SELECT r.doc_id, r.lang
    FROM __ranked r JOIN __cnt USING (lang) CROSS JOIN __ns
    WHERE __w IS NOT NULL
      AND r.__rn <= floor(__w * __nstar / CAST(1000 AS DOUBLE))
    """,
    doc="Data mixing: downsample to a 50/20/15/10/5 en/de/es/fr/zh target "
    "mix — the largest corpus reaching that mix with no upsampling "
    "(N* = min_s floor(1000*n_s/w_s)), rows picked by content-hash order. "
    "Integer per-mille weights keep quotas engine-portable.",
    expects_bnlj=True,
    expects_broadcast="per-source counts + 1-row N* (bounded source domain)",
)
def dataset_mix_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dataset import mix_sources

    docs = load(spark, sf_dir, "documents")
    out = mix_sources(
        docs,
        "lang",
        "text",
        "doc_id",
        {"en": 500, "de": 200, "es": 150, "fr": 100, "zh": 50},
        salt="mix",
    )
    return out.select("doc_id", "lang")


@register(
    "dataset_shuffle_shards",
    """
    WITH __k AS (
      SELECT doc_id,
             (('0x' || substr(sha256(text || 'shuffle'), 1, 12))::BIGINT % 8)
               AS shard_id,
             sha256(text || 'shuffle') AS __h
      FROM documents
    )
    SELECT doc_id, shard_id,
           CAST(row_number() OVER (
             PARTITION BY shard_id ORDER BY __h, doc_id) AS BIGINT) AS pos
    FROM __k
    """,
    doc="Deterministic global shuffle into 8 training shards: shard from a "
    "content-hash bucket, position from hash order within the shard — a "
    "reproducible permutation with per-shard (not global) ordering, so no "
    "single-partition sort at scale.",
)
def dataset_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dataset import shuffle_shards

    docs = load(spark, sf_dir, "documents")
    return shuffle_shards(docs, "text", "doc_id", n_shards=8, salt="shuffle")


@register(
    "dataset_training_corpus",
    f"""
    WITH __f AS (
      SELECT doc_id, text FROM documents
      WHERE n_chars >= 100
        AND length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              >= 0.6 * length(text)
        AND ({_TOKCOUNT_SQL}) BETWEEN 20 AND 100000
    ), __r AS (
      SELECT doc_id, text,
             row_number() OVER (
               PARTITION BY sha256(trim(regexp_replace(regexp_replace(
                 lower(text), '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')))
               ORDER BY doc_id) AS __rn
      FROM __f
    ), __d AS (
      SELECT doc_id, text FROM __r WHERE __rn = 1
    ), __s AS (
      SELECT doc_id, text,
             CASE WHEN {_BUCKET_SQL} < 8000 THEN 'train'
                  WHEN {_BUCKET_SQL} < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM __d
    ), __t AS (
      SELECT doc_id, split, CAST({_TOKCOUNT_SQL} AS BIGINT) AS seq_len
      FROM __s
    )
    SELECT doc_id, split, seq_len,
           CAST(floor(CAST(__cum - seq_len AS DOUBLE) / 1024.0) AS BIGINT)
             AS bin_id
    FROM (
      SELECT doc_id, split, seq_len,
             sum(seq_len) OVER (
               PARTITION BY split ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS __cum
      FROM __t
    )
    """,
    doc="End-to-end training-corpus assembly as ONE declarative plan: "
    "quality gates (pushdown-friendly) -> exact dedup first-wins on the "
    "normalized content hash -> leakage-safe hash split -> 1024-token "
    "sequence packing per split. Composition of the individual operators "
    "with no materialization between stages — Catalyst fuses the filter "
    "into the scan and pipelines the three window stages.",
)
def dataset_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from heparchy_spark.operators.dedup import normalize_text
    from heparchy_spark.operators.dataset import pack_sequences

    docs = load(spark, sf_dir, "documents")
    alpha = F.length(F.regexp_replace("text", r"[^A-Za-z]", "")).cast("double")
    filt = docs.where(
        (F.col("n_chars") >= 100)
        & (alpha >= 0.6 * F.length("text"))
        & token_count("text").between(20, 100000)
    )
    w = Window.partitionBy(F.sha2(normalize_text("text"), 256)).orderBy(
        "doc_id"
    )
    rep = (
        filt.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    sp = split_assign(
        rep, "text", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="split"
    )
    return pack_sequences(sp, "split", "doc_id", token_count("text"), 1024)


@register(
    "dataset_weighted_sample",
    """
    WITH s AS (
      SELECT doc_id, n_chars AS weight,
             ROUND(
               ln((('0x' || substr(sha256(text || 'wsample'), 1, 12))::BIGINT
                   + 0.5) / 281474976710656.0)
               / CAST(n_chars AS DOUBLE), 9) AS skey
      FROM documents
    )
    SELECT doc_id, weight, skey FROM s
    ORDER BY skey DESC, doc_id LIMIT 100
    """,
    doc="Weighted 100-sample of documents by length "
    "(operators/dataset.py weighted_sample): Efraimidis-Spirakis A-ES "
    "keys ln(u)/w with the uniform drawn from the content-hash prefix — "
    "deterministic, growth-stable weighted sampling with a TakeOrdered "
    "plan (k per partition, no global sort).",
)
def dataset_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dataset import weighted_sample

    docs = load(spark, sf_dir, "documents")
    return weighted_sample(docs, "text", "n_chars", k=100)


@register(
    "dataset_contrastive_negatives",
    """
    WITH v AS (
      SELECT vec_id, label,
             ('0x' || substr(sha256(CAST(vec_id AS VARCHAR) || 'negatives'),
                             1, 12))::BIGINT % 16 AS blk
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS anchor_id, c.vec_id AS neg_id, c.label AS neg_label,
             sha256(CAST(a.vec_id AS VARCHAR) || ':' ||
                    CAST(c.vec_id AS VARCHAR) || 'negatives') AS rk_hash
      FROM v a JOIN v c ON a.blk = c.blk AND a.label <> c.label
    ),
    ranked AS (
      SELECT anchor_id, neg_id, neg_label,
             ROW_NUMBER() OVER (
               PARTITION BY anchor_id ORDER BY rk_hash, neg_id
             ) AS rk
      FROM pairs
    )
    SELECT anchor_id, neg_id, neg_label, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 4
    """,
    doc="Contrastive negative mining over embeddings "
    "(operators/dataset.py contrastive_negatives): each anchor probes "
    "ONE hash-assigned bucket (equi-join, n/B fan-out — never "
    "all-pairs) for 4 different-label negatives ranked by a pairwise "
    "content hash; rerun-stable with no RNG state.",
)
def dataset_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dataset import contrastive_negatives

    emb = load(spark, sf_dir, "embeddings")
    return contrastive_negatives(emb, "vec_id", "label", k=4, n_buckets=16)


def _dsir_sql() -> str:
    from heparchy_spark.queries.dedup import _NORM_SQL
    from heparchy_spark.queries.numeric import sql_dsum

    return f"""
    WITH toks AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS t,
             unnest(string_split({_NORM_SQL}, ' ')) AS tok
      FROM documents
    ),
    tc AS (
      SELECT tok, COUNT(*) AS c_raw, SUM(t) AS c_tgt
      FROM toks WHERE tok <> '' GROUP BY tok
    ),
    tot AS (
      SELECT COUNT(*) AS v, SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt
      FROM tc
    ),
    lr AS (
      SELECT tok,
             ROUND(
               ln(CAST(c_tgt + 1 AS DOUBLE) / CAST(n_tgt + v AS DOUBLE))
               - ln(CAST(c_raw + 1 AS DOUBLE) / CAST(n_raw + v AS DOUBLE)),
               8) AS logratio
      FROM tc CROSS JOIN tot
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
           {sql_dsum('logratio', 6)} AS dsir_logweight
    FROM (SELECT doc_id, tok FROM toks WHERE tok <> '') s
    JOIN lr USING (tok)
    GROUP BY doc_id
    """


@register(
    "dataset_dsir_logweights",
    _dsir_sql(),
    doc="DSIR importance weights (Xie et al. 2023) for resampling the "
    "corpus toward the English subset: per-doc sum of add-one-smoothed "
    "unigram log-ratios ln(p_en/p_raw) (operators/dataset.py "
    "dsir_logweights). One wordcount pass (the target counter rides the "
    "same combinable aggregate as a conditional sum), a vocabulary-"
    "sized broadcast log-ratio table, one per-doc aggregate; round-8 "
    "ratios accumulate in exact decimal so the sum is order-independent.",
    expects_bnlj=True,
    expects_broadcast="fixed hashed-bucket weight tables",
)
def dataset_dsir_logweights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dataset import dsir_logweights

    docs = load(spark, sf_dir, "documents")
    return dsir_logweights(
        docs, "text", "doc_id", F.col("lang") == "en"
    )


def _logreg_sql(
    n_buckets: int,
    iters: int,
    lr_pct: int,
    label_sql: str = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
) -> str:
    """Unrolled training-trajectory replay (the pagerank-CTE pattern):
    every reduction is decimal-accumulated on the round-8 grid and every
    weight update rounds engine-side, so the SQL replay is bit-exact."""
    from heparchy_spark.queries.dedup import _NORM_SQL
    from heparchy_spark.queries.numeric import sql_dsum

    bucket = (
        f"('0x' || substr(sha256(tok), 1, 12))::BIGINT % {n_buckets}"
    )
    lr = lr_pct / 100.0
    parts = [
        f"""feats AS MATERIALIZED (
      SELECT doc_id, bucket,
             ROUND(CAST(cnt AS DOUBLE)
                   / SUM(cnt) OVER (PARTITION BY doc_id), 8) AS x
      FROM (
        SELECT doc_id, {bucket} AS bucket, COUNT(*) AS cnt
        FROM (SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS tok
              FROM documents)
        WHERE tok <> '' GROUP BY 1, 2
      )
      UNION ALL
      SELECT doc_id, {n_buckets}, 1.0 FROM documents
    )""",
        f"""lab AS (
      SELECT doc_id, {label_sql} AS y
      FROM documents
    )""",
        "nn AS (SELECT COUNT(*) AS n FROM lab)",
        f"""w0 AS (
      SELECT unnest(generate_series(0, {n_buckets})) AS bucket, 0.0 AS w
    )""",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"""z{i} AS MATERIALIZED (
      SELECT doc_id, {sql_dsum('ROUND(x * w, 8)', 8)} AS z
      FROM feats JOIN w{i - 1} USING (bucket) GROUP BY doc_id
    )"""
        )
        parts.append(
            f"""r{i} AS MATERIALIZED (
      SELECT z{i}.doc_id,
             CAST(y AS DOUBLE) - ROUND(1.0 / (1.0 + exp(-z)), 8) AS r
      FROM z{i} JOIN lab USING (doc_id)
    )"""
        )
        parts.append(
            f"""g{i} AS MATERIALIZED (
      SELECT bucket, {sql_dsum('ROUND(r * x, 8)', 8)} AS g
      FROM feats JOIN r{i} USING (doc_id) GROUP BY bucket
    )"""
        )
        parts.append(
            f"""w{i} AS MATERIALIZED (
      SELECT prev.bucket,
             ROUND(prev.w + {lr} * COALESCE(g{i}.g, 0.0) / n, 8) AS w
      FROM w{i - 1} prev LEFT JOIN g{i} USING (bucket) CROSS JOIN nn
    )"""
        )
    parts.append(
        f"""zf AS (
      SELECT doc_id, {sql_dsum('ROUND(x * w, 8)', 8)} AS z
      FROM feats JOIN w{iters} USING (bucket) GROUP BY doc_id
    )"""
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + """
    SELECT doc_id, ROUND(1.0 / (1.0 + exp(-z)), 6) AS quality_score,
           ROUND(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
    FROM zf
    """
    )


@register(
    "quality_logreg_scores",
    _logreg_sql(n_buckets=64, iters=4, lr_pct=50),
    doc="CCNet/fastText-style quality filter as pure DataFrame algebra: "
    "batch-gradient logistic regression over 64 hashed bag-of-words "
    "buckets (+bias), 4 full-batch steps toward the English subset, "
    "then corpus-wide sigmoid scoring (operators/classifier.py). Per "
    "step: one per-doc dot-product aggregate, one doc-keyed residual "
    "join, one <=65-group gradient aggregate, one bounded 65-row weight "
    "collect; every reduction decimal-accumulates round-8 addends and "
    "weights round engine-side, so the oracle replays the trajectory as "
    "unrolled CTEs (the pagerank pattern).",
    expects_broadcast="fixed hashed-feature weight vector (2^k buckets)",
)
def quality_logreg_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.classifier import (
        hashed_features,
        logreg_score,
        logreg_train,
    )

    docs = load(spark, sf_dir, "documents")
    feats = hashed_features(docs, "text", "doc_id", n_buckets=64).persist()
    labels = docs.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("y")
    )
    weights = logreg_train(feats, labels, n_buckets=64, iters=4, lr_pct=50)
    return logreg_score(feats, weights)


def _temperature_sql(total: int, alpha_pct: int) -> str:
    from heparchy_spark.queries.numeric import sql_dsum

    alpha = alpha_pct / 100.0
    return f"""
    WITH cnt AS (SELECT lang AS s, COUNT(*) AS n FROM documents GROUP BY lang),
    pw AS (
      SELECT s, n, ROUND(pow(CAST(n AS DOUBLE), {alpha}), 8) AS pw FROM cnt
    ),
    norm AS (SELECT {sql_dsum('pw', 8)} AS z FROM pw),
    quota AS (
      SELECT s, LEAST(n, CAST(floor({total} * pw / z) AS BIGINT)) AS q
      FROM pw CROSS JOIN norm
    ),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang ORDER BY sha256(text || 'temp'), doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, lang FROM ranked JOIN quota ON lang = s WHERE rn <= q
    """


@register(
    "dataset_temperature_sample",
    _temperature_sql(total=200, alpha_pct=50),
    doc="Temperature-based multilingual sampling (the mT5/XLM-R alpha "
    "rule, alpha=0.5): 200-row draw with per-language quotas "
    "proportional to n^0.5 — low-resource languages upweighted relative "
    "to raw share, rows picked by content-hash order "
    "(operators/dataset.py temperature_sample). Quota math rides "
    "round-8 powers + decimal normalizer; the only full shuffle is the "
    "per-source ranking window.",
    expects_bnlj=True,
    expects_broadcast="per-source quota frames (bounded source domain)",
)
def dataset_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dataset import temperature_sample

    docs = load(spark, sf_dir, "documents")
    return temperature_sample(
        docs, "lang", "text", "doc_id", total=200, alpha_pct=50
    )


@register(
    "dataset_dsir_resample",
    f"""
    WITH lw AS ({_dsir_sql()}),
    s AS (
      SELECT d.doc_id, ROUND(exp(lw.dsir_logweight), 8) AS weight,
             ROUND(
               ln((('0x' || substr(sha256(d.text || 'dsir'), 1, 12))::BIGINT
                   + 0.5) / 281474976710656.0)
               / ROUND(exp(lw.dsir_logweight), 8), 9) AS skey
      FROM documents d JOIN lw ON lw.doc_id = d.doc_id
      WHERE ROUND(exp(lw.dsir_logweight), 8) > 0
    )
    SELECT doc_id, weight, skey FROM s
    ORDER BY skey DESC, doc_id LIMIT 100
    """,
    doc="The DSIR importance-RESAMPLING step (Xie et al. 2023): draw a "
    "100-doc weighted sample with inclusion probability proportional "
    "to exp(dsir_logweight) — the corpus reshaped toward the English "
    "target distribution. Composes dsir_logweights with the A-ES "
    "weighted sampler (content-hash uniforms, TakeOrdered plan); the "
    "oracle nests the full DSIR chain as a CTE.",
    expects_bnlj=True,
    expects_broadcast="fixed hashed-bucket weight tables + 1-row bounds",
)
def dataset_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dataset import (
        dsir_logweights,
        weighted_sample,
    )

    docs = load(spark, sf_dir, "documents")
    lw = dsir_logweights(docs, "text", "doc_id", F.col("lang") == "en")
    joined = docs.join(lw.select("doc_id", "dsir_logweight"), "doc_id")
    return weighted_sample(
        joined,
        "text",
        F.round(F.exp(F.col("dsir_logweight")), 8),
        k=100,
        salt="dsir",
    )


def _auc_sql(
    label_sql: str = "CASE WHEN lang = 'en' THEN 1 ELSE 0 END",
    d_label_sql: str = "CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END",
) -> str:
    scored = _logreg_sql(n_buckets=64, iters=4, lr_pct=50, label_sql=label_sql)
    return f"""
    WITH s AS (
      SELECT sc.quality_score AS score,
             {d_label_sql} AS y
      FROM ({scored}) sc JOIN documents d ON sc.doc_id = d.doc_id
    ),
    hist AS (
      SELECT score, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS npos
      FROM s GROUP BY score
    ),
    ranked AS (
      SELECT score, n, npos,
             COALESCE(SUM(n) OVER (
               ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM hist
    )
    SELECT
      CAST(SUM(npos) AS BIGINT) AS n_pos,
      CAST(SUM(n - npos) AS BIGINT) AS n_neg,
      ROUND(
        (SUM(npos * (before + (n + 1) / 2.0))
         - SUM(npos) * (SUM(npos) + 1) / 2.0)
        / (SUM(npos) * SUM(n - npos)),
        6) AS auc
    FROM ranked
    """


@register(
    "quality_logreg_auc",
    _auc_sql(),
    doc="ROC AUC of the logistic quality classifier against its own "
    "training label (lang == 'en') — the Mann-Whitney rank statistic "
    "with tie-averaged ranks, computed from the SCORE HISTOGRAM: one "
    "combinable (score -> count, positives) aggregate over the corpus, "
    "then the rank algebra on the grouped frame, whose size is bounded "
    "by the round-6 score grid (<= 1e6 rows at ANY corpus scale) — "
    "never a per-row global rank window, which would funnel 100 TB "
    "through one reducer.",
    expects_broadcast="fixed hashed-feature weight vector (2^k buckets)",
    expects_global_window="round-6 score-grid histogram frame (value-domain bounded)",
)
def quality_logreg_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return logreg_label_auc(docs, (F.col("lang") == "en").cast("int"))


def logreg_label_auc(docs: DataFrame, label: Column) -> DataFrame:
    """Train the hashed-bag-of-words logistic classifier toward ``label``
    (0/1 column over ``documents``) and return its histogram-computed
    ROC AUC against that same label — shared by the quality-filter
    self-audit and the classifier two-sample drift test."""
    from pyspark.sql import Window

    from heparchy_spark.operators.classifier import (
        hashed_features,
        logreg_score,
        logreg_train,
    )

    feats = hashed_features(docs, "text", "doc_id", n_buckets=64).persist()
    labels = docs.select("doc_id", label.alias("y"))
    weights = logreg_train(feats, labels, n_buckets=64, iters=4, lr_pct=50)
    scored = logreg_score(feats, weights).join(labels, "doc_id")
    hist = scored.groupBy(F.col("quality_score").alias("score")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").cast("long").alias("npos"),
    )
    w = (
        Window.orderBy("score")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = hist.withColumn(
        "before", F.coalesce(F.sum("n").over(w), F.lit(0))
    )
    return ranked.agg(
        F.sum("npos").cast("long").alias("n_pos"),
        F.sum(F.col("n") - F.col("npos")).cast("long").alias("n_neg"),
        F.round(
            (
                F.sum(
                    F.col("npos")
                    * (F.col("before") + (F.col("n") + F.lit(1)) / F.lit(2.0))
                )
                - F.sum("npos") * (F.sum("npos") + F.lit(1)) / F.lit(2.0)
            )
            / (F.sum("npos") * F.sum(F.col("n") - F.col("npos"))),
            6,
        ).alias("auc"),
    )


@register(
    "dataset_split_leakage",
    f"""
    WITH pairs AS ({_JACCARD_PAIRS_06_SQL}),
    sp AS (
      SELECT doc_id,
             CASE WHEN __b < 8000 THEN 'train'
                  WHEN __b < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id, {_BUCKET_SQL} AS __b FROM documents)
    )
    SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b,
           p.jaccard
    FROM pairs p
    JOIN sp sa ON sa.doc_id = p.id_a
    JOIN sp sb ON sb.doc_id = p.id_b
    WHERE sa.split <> sb.split
    """,
    doc="Train/val/test leakage audit: near-duplicate pairs (3-gram "
    "Jaccard >= 0.6) that STRADDLE split boundaries — exact duplicates "
    "co-assign by content hash so they can never leak, but near-dups "
    "hash apart; this is the release gate that catches them.  Composes "
    "the PPJoin pair generator with the split assignment (both "
    "broadcast-weight joins on the tiny pair set).",
)
def dataset_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dedup import ngram_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", n=3, threshold=0.6)
    sp = split_assign(
        docs, "text", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="split"
    ).select("doc_id", "split")
    return (
        pairs.join(
            sp.select(
                F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
            ),
            "id_a",
        )
        .join(
            sp.select(
                F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
            ),
            "id_b",
        )
        .where(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
    )


def _calibration_sql() -> str:
    from heparchy_spark.queries.numeric import sql_dsum

    scored = _logreg_sql(n_buckets=64, iters=4, lr_pct=50)
    return f"""
    WITH s AS (
      SELECT sc.quality_score AS score,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      FROM ({scored}) sc JOIN documents d ON sc.doc_id = d.doc_id
    )
    , r AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM s)
    SELECT {sql_bin_of("score", "(SELECT lo FROM r)", "(SELECT hi FROM r)", 10)}
             AS bin,
           COUNT(*) AS n_docs,
           ROUND({sql_dsum('score', 8)} / COUNT(*), 6) AS mean_score,
           ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate
    FROM s GROUP BY 1 ORDER BY 1
    """


@register(
    "quality_calibration_curve",
    _calibration_sql(),
    doc="Reliability diagram of the logistic quality classifier: scores "
    "bucketed into 10 bins spanning the observed score range "
    "(broadcast min/max — absolute deciles would collapse for a "
    "lightly-trained sigmoid), per-bin count, decimal-exact mean "
    "score, and empirical positive rate — the calibration companion "
    "to quality_logreg_auc (same bounded-histogram shape: the grouped "
    "frame never exceeds 10 rows regardless of corpus size).",
    expects_bnlj=True,
    expects_broadcast="fixed calibration-bucket frame + 1-row totals",
)
def quality_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.classifier import (
        hashed_features,
        logreg_score,
        logreg_train,
    )
    from heparchy_spark.queries.numeric import dsum

    docs = load(spark, sf_dir, "documents")
    feats = hashed_features(docs, "text", "doc_id", n_buckets=64).persist()
    labels = docs.select(
        "doc_id", (F.col("lang") == "en").cast("int").alias("y")
    )
    weights = logreg_train(feats, labels, n_buckets=64, iters=4, lr_pct=50)
    scored = logreg_score(feats, weights).join(labels, "doc_id")
    # bins are RELATIVE to the observed score range (operators/sweep.py
    # range_bucket, broadcast min/max): a lightly-trained sigmoid
    # occupies a narrow band, so absolute deciles would collapse to one
    # bin
    return (
        range_bucket(scored, "quality_score", 10, "bin")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                dsum(F.col("quality_score"), 8) / F.count(F.lit(1)), 6
            ).alias("mean_score"),
            F.round(
                F.sum("y").cast("double") / F.count(F.lit(1)), 6
            ).alias("pos_rate"),
        )
        .orderBy("bin")
    )


@register(
    "dataset_target_encoding_loo",
    """
    WITH d AS (
      SELECT doc_id, source,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    g AS (
      SELECT source, SUM(y) AS sy, COUNT(*) AS n FROM d GROUP BY source
    )
    SELECT d.doc_id, d.source, CAST(d.y AS INT) AS y,
           CASE WHEN g.n > 1 THEN
             ROUND(CAST(g.sy - d.y AS DOUBLE) / (g.n - 1), 9)
           END AS target_enc
    FROM d JOIN g USING (source)
    ORDER BY d.doc_id
    """,
    doc="Leave-one-out target encoding of the document source category "
    "against the is-English label: each row's encoding is the mean "
    "label of the OTHER rows in its category ((sum_y - y_i)/(n - 1)), "
    "the leakage-safe form of mean-target encoding (plain per-category "
    "means leak each row's own label into its feature).  One combinable "
    "per-category aggregate broadcast back onto the corpus — category "
    "cardinality bounds the broadcast, corpus size never does; "
    "singleton categories encode NULL rather than a self-leak.",
    expects_broadcast="per-category stats (bounded category domain)",
)
def dataset_target_encoding_loo(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    g = d.groupBy("source").agg(
        F.sum("y").alias("__sy"), F.count(F.lit(1)).alias("__n")
    )
    return (
        d.join(F.broadcast(g), "source")
        .select(
            "doc_id",
            "source",
            "y",
            F.when(
                F.col("__n") > 1,
                F.round(
                    (F.col("__sy") - F.col("y")).cast("double")
                    / (F.col("__n") - 1),
                    9,
                ),
            ).alias("target_enc"),
        )
        .orderBy("doc_id")
    )


@register(
    "quality_woe_iv",
    """
    WITH d AS (
      SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    tot AS (
      SELECT SUM(y) AS pt, COUNT(*) - SUM(y) AS nt FROM d
    ),
    g AS (
      SELECT source, SUM(y) AS p, COUNT(*) - SUM(y) AS n
      FROM d GROUP BY source
    ),
    w AS (
      SELECT source, p, n,
             ROUND(ln(((p + 0.5) / pt) / ((n + 0.5) / nt)), 9) AS woe,
             (p + 0.5) / pt - (n + 0.5) / nt AS ds
      FROM g, tot
    )
    SELECT source, CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
           woe, ROUND(ds * woe, 9) AS iv_term
    FROM w ORDER BY source
    """,
    doc="Weight-of-evidence encoding and per-category information-value "
    "terms for source vs the is-English label (the credit-scoring / "
    "feature-screening standard): woe = ln(smoothed positive share / "
    "smoothed negative share), iv_term = (share delta) * woe, Haldane "
    "+0.5 smoothing so empty cells stay finite.  Two combinable count "
    "aggregates (per-category and global) joined broadcast-side; the "
    "woe is ROUNDED to the 1e-9 grid before entering the iv product so "
    "both engines multiply identical doubles.",
    expects_bnlj=True,
    expects_broadcast="per-bucket WoE table (fixed bucket count)",
)
def quality_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "source", (F.col("lang") == "en").cast("int").alias("y")
    )
    tot = d.agg(
        F.sum("y").alias("__pt"),
        (F.count(F.lit(1)) - F.sum("y")).alias("__nt"),
    )
    g = d.groupBy("source").agg(
        F.sum("y").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("n_neg"),
    )
    woe = F.round(
        F.log(
            ((F.col("n_pos") + 0.5) / F.col("__pt"))
            / ((F.col("n_neg") + 0.5) / F.col("__nt"))
        ),
        9,
    )
    ds = (F.col("n_pos") + 0.5) / F.col("__pt") - (
        F.col("n_neg") + 0.5
    ) / F.col("__nt")
    return (
        g.join(F.broadcast(tot))
        .select(
            "source",
            F.col("n_pos").cast("long").alias("n_pos"),
            F.col("n_neg").cast("long").alias("n_neg"),
            woe.alias("woe"),
            F.round(ds * woe, 9).alias("iv_term"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# dataset_curriculum_shards — quality-ordered training shards, no global sort
# ---------------------------------------------------------------------------

_CURR_SHARD = 100


def _curriculum_sql() -> str:
    from heparchy_spark.queries.text import _TOKCOUNT_SQL

    safe_n = "(CASE WHEN __n > 0 THEN __n ELSE 1.0 END)"
    quality = (
        "(CASE WHEN __n >= 50 AND __n <= 100000 THEN 0.4 ELSE 0.0 END) "
        f"+ least((__alpha / {safe_n}) / 0.7, 1.0) * 0.3 "
        "+ (CASE WHEN __ntok > 0 AND (__n / __ntok) >= 3.0 "
        "AND (__n / __ntok) <= 12.0 THEN 0.3 ELSE 0.0 END)"
    )
    return f"""
    WITH base AS (
      SELECT doc_id,
             ROUND({quality}, 6) AS q,
             CAST(CONCAT('0x',
                  substr(sha256(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS h
      FROM (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) AS __n,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    AS DOUBLE) AS __alpha,
               CAST({_TOKCOUNT_SQL} AS DOUBLE) AS __ntok
        FROM documents
      )
    )
    SELECT doc_id, q AS quality,
           CAST(ROW_NUMBER() OVER (ORDER BY q DESC, h, doc_id)
                AS BIGINT) AS curriculum_rank,
           (ROW_NUMBER() OVER (ORDER BY q DESC, h, doc_id) - 1)
             // {_CURR_SHARD} AS shard_id
    FROM base
    """


@register(
    "dataset_curriculum_shards",
    _curriculum_sql(),
    doc="Curriculum shard assignment: the corpus globally ordered by "
    "quality (descending, hash tie-break) and cut into fixed-size "
    "shards — easy-first ordered training data.  The global rank is "
    "NOT a single-partition ROW_NUMBER window: tied-quality rows fold "
    "to one count row, the distributed two-level prefix scan "
    "(operators/sweep.py prefix_sum) turns the folded counts into "
    "per-quality start ranks, and rows rank within their (small) "
    "quality group only — the Gini/MWU rank-algebra shape, proven "
    "equal to the oracle's serial ROW_NUMBER.  At 100 TB the only "
    "serial state is n_buckets offset rows; a degenerate "
    "constant-quality corpus re-buckets the in-group window on a hash "
    "prefix the same way.",
    expects_bnlj=True,
    expects_broadcast="per-source/stage quota frames (bounded source domain)",
    expects_global_window="prefix_sum's n_buckets(=64)-row bucket-offset scan",
)
def dataset_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from heparchy_spark.operators.text import quality_score

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.round(quality_score("text"), 6).alias("q"),
        F.conv(
            F.substring(F.sha2(F.col("doc_id").cast("string"), 256), 1, 15),
            16,
            10,
        )
        .cast("long")
        .alias("__h"),
    )
    folded = scored.groupBy("q").agg(F.count(F.lit(1)).alias("cnt"))
    # descending curriculum ==> ascending scan over -q
    starts = prefix_sum(
        folded.withColumn("negq", -F.col("q")), "negq", ["cnt"]
    ).select("q", (F.col("cnt_cum") - F.col("cnt")).alias("start"))
    w = Window.partitionBy("q").orderBy("__h", "doc_id")
    ranked = (
        scored.join(F.broadcast(starts), "q")
        .withColumn("__rin", F.row_number().over(w))
        .withColumn(
            "curriculum_rank",
            (F.col("start") + F.col("__rin")).cast("long"),
        )
    )
    return ranked.select(
        "doc_id",
        F.col("q").alias("quality"),
        "curriculum_rank",
        F.expr(f"(curriculum_rank - 1) div {_CURR_SHARD}").alias(
            "shard_id"
        ),
    )


# ---------------------------------------------------------------------------
# quality_pr_curve — precision/recall at decile thresholds of the heuristic
# ---------------------------------------------------------------------------

_PR_QUALITY_SQL = (
    "(CASE WHEN __n >= 50 AND __n <= 100000 THEN 0.4 ELSE 0.0 END)"
    " + least((__alpha / (CASE WHEN __n > 0 THEN __n ELSE 1.0 END))"
    " / 0.7, 1.0) * 0.3"
    " + (CASE WHEN __ntok > 0 AND (__n / __ntok) >= 3.0"
    " AND (__n / __ntok) <= 12.0 THEN 0.3 ELSE 0.0 END)"
)


def _pr_curve_sql() -> str:
    from heparchy_spark.queries.text import _TOKCOUNT_SQL

    return f"""
    WITH scored AS (
      SELECT ROUND({_PR_QUALITY_SQL}, 6) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM (
        SELECT lang,
               CAST(length(text) AS DOUBLE) AS __n,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                    AS DOUBLE) AS __alpha,
               CAST({_TOKCOUNT_SQL} AS DOUBLE) AS __ntok
        FROM documents
      )
    ),
    bounds AS (SELECT MIN(s) AS lo, MAX(s) AS hi FROM scored),
    binned AS (
      SELECT {sql_bin_of("s", "lo", "hi", 10)} AS bin,
             COUNT(*) AS n,
             CAST(SUM(y) AS BIGINT) AS npos
      FROM scored CROSS JOIN bounds GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(npos) AS BIGINT) AS total_pos FROM binned),
    cum AS (
      SELECT bin,
             CAST(SUM(n) OVER (ORDER BY bin DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_ge,
             CAST(SUM(npos) OVER (ORDER BY bin DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp
      FROM binned
    )
    SELECT bin, n_ge, tp,
           ROUND(CAST(tp AS DOUBLE) / n_ge, 6) AS precision_at,
           ROUND(CAST(tp AS DOUBLE) / total_pos, 6) AS recall_at
    FROM cum CROSS JOIN tot
    """


@register(
    "quality_pr_curve",
    _pr_curve_sql(),
    doc="Precision-recall curve of the heuristic quality score against "
    "the is-English label at 10 range-relative thresholds "
    "(keep-everything-scoring->=-bin semantics): exact integer "
    "cumulative counts over the bounded bin histogram, one rounded "
    "division per point. The eval companion to quality_logreg_auc "
    "without retraining anything — one scan, a scalar bounds "
    "broadcast, and a 10-row window.",
    expects_bnlj=True,
    expects_broadcast="fixed threshold grid + 1-row totals",
    expects_global_window="bounded bin histogram + 10-row threshold window",
)
def quality_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from heparchy_spark.operators.text import quality_score

    docs = load(spark, sf_dir, "documents")
    scored = docs.select(
        F.round(quality_score("text"), 6).alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    binned = (
        range_bucket(scored, "s", 10, "bin")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").cast("long").alias("npos"),
        )
    )
    tot = binned.agg(F.sum("npos").cast("long").alias("total_pos"))
    w = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = binned.select(
        "bin",
        F.sum("n").over(w).cast("long").alias("n_ge"),
        F.sum("npos").over(w).cast("long").alias("tp"),
    )
    return cum.join(F.broadcast(tot)).select(
        "bin",
        "n_ge",
        "tp",
        F.round(F.col("tp").cast("double") / F.col("n_ge"), 6).alias(
            "precision_at"
        ),
        F.round(
            F.col("tp").cast("double") / F.col("total_pos"), 6
        ).alias("recall_at"),
    )


# ---------------------------------------------------------------------------
# dataset_kcenter_coreset — farthest-point diverse subset selection
# ---------------------------------------------------------------------------

_KC_K = 8


def _kc_d2(point: str, center: str) -> str:
    """Round-8 squared-L2 between two embedding rows, per-element double
    subtract/square summed left-to-right — the Spark fold verbatim."""
    diff = (
        f"(CAST({point}.embedding[i] AS DOUBLE)"
        f" - CAST({center}.embedding[i] AS DOUBLE))"
    )
    return (
        f"ROUND(list_sum(list_transform(generate_series(1, 64),"
        f" i -> {diff} * {diff})), 8)"
    )


def _kcenter_oracle(k: int) -> str:
    parts = [
        "e AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings)",
        "c1 AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT 1)",
        f"""m1 AS MATERIALIZED (
      SELECT p.vec_id, {_kc_d2('p', 'ce')} AS mind
      FROM e p CROSS JOIN
           (SELECT e.embedding FROM e JOIN c1 USING (vec_id)) ce
    )""",
    ]
    for r in range(2, k + 1):
        picked = " UNION ALL ".join(
            ["SELECT vec_id FROM c1"]
            + [f"SELECT vec_id FROM c{i}" for i in range(2, r)]
        )
        parts.append(
            f"""c{r} AS MATERIALIZED (
      SELECT vec_id, mind FROM m{r - 1}
      WHERE vec_id NOT IN ({picked})
      ORDER BY mind DESC, vec_id LIMIT 1
    )"""
        )
        if r < k:
            parts.append(
                f"""m{r} AS MATERIALIZED (
      SELECT m.vec_id,
             LEAST(m.mind, {_kc_d2('p', 'ce')}) AS mind
      FROM m{r - 1} m
      JOIN e p ON p.vec_id = m.vec_id
      CROSS JOIN
           (SELECT e.embedding FROM e JOIN c{r} USING (vec_id)) ce
    )"""
            )
    finals = " UNION ALL ".join(
        ["SELECT 1 AS center_rank, vec_id, 0.0 AS sep_dist2 FROM c1"]
        + [
            f"SELECT {r}, vec_id, mind FROM c{r}"
            for r in range(2, k + 1)
        ]
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    SELECT CAST(center_rank AS BIGINT) AS center_rank,"
        " vec_id, sep_dist2 FROM (" + finals + ")"
    )


@register(
    "dataset_kcenter_coreset",
    _kcenter_oracle(_KC_K),
    doc="Greedy k-center coreset (Gonzalez 1985 farthest-point "
    "sampling, the 2-approximation): seed = lowest vec_id, then 7 "
    "rounds of 'pick the point farthest from every chosen center' — "
    "the diversity-maximizing prototype selector of a curation "
    "pipeline, with sep_dist2 tracing the coverage-radius curve.  "
    "Round-8 left-to-right distance folds and lower-id tie-breaks "
    "make the trajectory engine-exact; the running min-distance rides "
    "a lazy-checkpointed frame so each round folds only the NEW "
    "center (O(k) scans total) and only k (id, vector) rows ever "
    "reach the driver (operators/dataset.py kcenter_coreset).",
)
def dataset_kcenter_coreset(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from heparchy_spark.operators.dataset import kcenter_coreset
    from heparchy_spark.queries.tables import load

    emb = load(spark, sf_dir, "embeddings")
    return kcenter_coreset(emb, "embedding", "vec_id", k=_KC_K)


# ---------------------------------------------------------------------------
# quality_conformal_coverage — split-conformal calibration + coverage audit
# ---------------------------------------------------------------------------


@register(
    "quality_conformal_coverage",
    f"""
    WITH base AS (
      SELECT o_orderkey % 4 AS part, o_orderpriority AS pr,
             o_totalprice AS y
      FROM orders
    ),
    mu AS (
      SELECT pr, {sql_davg('y')} AS mu
      FROM base WHERE part < 2 GROUP BY pr
    ),
    calr AS MATERIALIZED (
      SELECT ROUND(ABS(y - mu), 2) AS r
      FROM base JOIN mu USING (pr) WHERE part = 2
    ),
    kk AS (
      SELECT COUNT(*) AS n_cal,
             ((COUNT(*) + 1) * 9 + 9) // 10 AS k
      FROM calr
    ),
    cum AS (
      SELECT r, SUM(cnt) OVER (ORDER BY r) AS cum FROM (
        SELECT r, COUNT(*) AS cnt FROM calr GROUP BY r
      )
    ),
    q AS (
      SELECT COALESCE(
               (SELECT MIN(r) FROM cum, kk WHERE cum >= kk.k),
               (SELECT MAX(r) FROM calr)) AS qhat
    ),
    testr AS (
      SELECT ROUND(ABS(y - mu), 2) AS r
      FROM base JOIN mu USING (pr) WHERE part = 3
    )
    SELECT CAST(kk.n_cal AS BIGINT) AS n_cal,
           CAST(kk.k AS BIGINT) AS k,
           q.qhat AS qhat,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN testr.r <= q.qhat THEN 1 ELSE 0 END)
                AS BIGINT) AS n_covered,
           ROUND(CAST(SUM(CASE WHEN testr.r <= q.qhat THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS coverage
    FROM testr, q, kk
    GROUP BY kk.n_cal, kk.k, q.qhat
    """,
    doc="Split-conformal prediction audit (Vovk; Angelopoulos & Bates "
    "2021 tutorial rank rule): per-priority train-split means predict "
    "order totals, the calibration split's |residual| at exact rank "
    "ceil((n+1)*0.9) gives the 90% conformal radius qhat, and the "
    "held-out split reports empirical coverage — the distribution-free "
    "guarantee every model-gated curation step should verify.  All "
    "rank math is exact integers on round-2 residuals (davg round-6 "
    "means), so both engines agree bit-for-bit.  Scale shape: one "
    "grouped mean, a distinct-residual cumulative (bounded by the "
    "value domain, never the row count), scalar broadcasts; at corpus "
    "scale swap the exact rank for bottomk_sample_quantiles.",
    expects_bnlj=True,
    expects_broadcast="1-row conformal quantile threshold",
    expects_global_window="rounded-residual count frame (2-decimal value grid)",
)
def quality_conformal_coverage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from heparchy_spark.queries.tables import load

    o = load(spark, sf_dir, "orders").select(
        (F.col("o_orderkey") % 4).alias("part"),
        F.col("o_orderpriority").alias("pr"),
        F.col("o_totalprice").alias("y"),
    )
    mu = (
        o.where(F.col("part") < 2)
        .groupBy("pr")
        .agg(davg("y").alias("mu"))
    )
    resid = F.round(F.abs(F.col("y") - F.col("mu")), 2)
    calr = (
        o.where(F.col("part") == 2)
        .join(F.broadcast(mu), "pr")
        .select(resid.alias("r"))
    )
    kk = calr.agg(
        F.count(F.lit(1)).alias("n_cal"),
        F.expr("((count(1) + 1) * 9 + 9) div 10").alias("k"),
    )
    counts = calr.groupBy("r").agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.orderBy("r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("cum", F.sum("cnt").over(w))
    qmin = (
        cum.join(F.broadcast(kk))
        .where(F.col("cum") >= F.col("k"))
        .agg(F.min("r").alias("__q"))
    )
    qmax = calr.agg(F.max("r").alias("__qm"))
    q = qmin.join(F.broadcast(qmax)).select(
        F.coalesce("__q", "__qm").alias("qhat")
    )
    testr = (
        o.where(F.col("part") == 3)
        .join(F.broadcast(mu), "pr")
        .select(resid.alias("r"))
    )
    return (
        testr.join(F.broadcast(q))
        .join(F.broadcast(kk))
        .groupBy("n_cal", "k", "qhat")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                F.when(F.col("r") <= F.col("qhat"), 1).otherwise(0)
            ).cast("long").alias("n_covered"),
        )
        .select(
            F.col("n_cal").cast("long").alias("n_cal"),
            F.col("k").cast("long").alias("k"),
            "qhat",
            "n_test",
            "n_covered",
            F.round(
                F.col("n_covered").cast("double") / F.col("n_test"), 6
            ).alias("coverage"),
        )
    )


@register(
    "dataset_leakage_safe_split",
    f"""
    WITH RECURSIVE
    __pairs AS ({_JACCARD_PAIRS_06_SQL}),
    __sym AS (
      SELECT id_a AS a, id_b AS b FROM __pairs
      UNION ALL
      SELECT id_b AS a, id_a AS b FROM __pairs
    ),
    __reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.b, r.lab FROM __reach r JOIN __sym s ON s.a = r.node
    ),
    __comp AS (
      SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS component
      FROM __reach GROUP BY node
    )
    SELECT doc_id, component,
           CASE WHEN __b < 8000 THEN 'train'
                WHEN __b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM (
      SELECT doc_id, component,
             ('0x' || substr(sha256(CAST(component AS VARCHAR) || 'csplit'),
                             1, 12))::BIGINT % 10000 AS __b
      FROM __comp
    )
    """,
    doc="Near-duplicate-leakage-SAFE 80/10/10 split: connected components "
    "of the n-gram-Jaccard near-dup graph (banded candidates, min-label "
    "propagation) pick one label per dup cluster, and the split buckets "
    "on the COMPONENT's content hash — so near-dups can never straddle "
    "train/test (dataset_split_assign only co-assigns EXACT duplicates; "
    "dataset_split_leakage only detects the straddle).  Oracle replays "
    "components with a recursive CTE and the identical sha256-prefix "
    "bucket formula.",
)
def dataset_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dataset import cluster_safe_split
    from heparchy_spark.operators.dedup import ngram_jaccard_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.6, prefix_tokens=None
    )
    out = cluster_safe_split(
        docs,
        pairs,
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
        salt="csplit",
    )
    return out


@register(
    "dataset_packing_efficiency",
    f"""
    WITH packed AS (
      SELECT doc_id, lang,
             CAST(__tc AS BIGINT) AS seq_len,
             CAST(floor(CAST(__cum - __tc AS DOUBLE) / 512.0) AS BIGINT)
               AS bin_id
      FROM (
        SELECT doc_id, lang, __tc,
               sum(__tc) OVER (
                 PARTITION BY lang ORDER BY doc_id
                 ROWS UNBOUNDED PRECEDING) AS __cum
        FROM (SELECT doc_id, lang, {_TOKCOUNT_SQL} AS __tc FROM documents)
      )
    ),
    bins AS (
      SELECT lang, bin_id, SUM(seq_len) AS used, COUNT(*) AS n_docs
      FROM packed GROUP BY lang, bin_id
    )
    SELECT lang,
           COUNT(*) AS n_bins,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(used) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(used) AS DOUBLE) / (COUNT(*) * 512), 6)
             AS utilization,
           CAST(SUM(CASE WHEN used > 512 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_overflow_bins,
           CAST(SUM(CASE WHEN used < 512 THEN 512 - used ELSE 0 END)
                AS BIGINT) AS wasted_tokens
    FROM bins GROUP BY lang
    """,
    doc="Packing-efficiency audit of the 512-token sequence packer — the "
    "metric a training pipeline actually tracks about its packer: bins, "
    "docs, token utilization (tokens / bin-slots), overflow bins (a "
    "single doc longer than the budget spills past its slot in the "
    "first-fit floor scheme), and wasted padding tokens.  Exact integer "
    "aggregates over the packed frame, same windows as "
    "dataset_pack_bins (per-lang partitioned cumsum, no global sort); "
    "ratios are int/int divisions.  Full SQL oracle nesting the pack "
    "chain.",
)
def dataset_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    packed = pack_sequences(
        docs, "lang", "doc_id", token_count("text"), budget=512
    )
    bins = packed.groupBy("lang", "bin_id").agg(
        F.sum("seq_len").alias("used"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return bins.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("used").cast("long").alias("total_tokens"),
        F.round(
            F.sum("used").cast("double") / (F.count(F.lit(1)) * 512), 6
        ).alias("utilization"),
        F.sum((F.col("used") > 512).cast("int"))
        .cast("long")
        .alias("n_overflow_bins"),
        F.sum(
            F.when(F.col("used") < 512, F.lit(512) - F.col("used")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("wasted_tokens"),
    )


@register(
    "dataset_mixture_manifest",
    f"""
    WITH per AS (
      SELECT lang, source,
             COUNT(*) AS n_docs,
             CAST(SUM({_TOKCOUNT_SQL}) AS BIGINT) AS n_tokens,
             SUM(CAST(('0x' || substr(sha256(text), 1, 12))::BIGINT
                      AS DECIMAL(38,0))) AS checksum_dec
      FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT SUM(n_tokens) AS total_tokens FROM per)
    SELECT lang, source, n_docs, n_tokens,
           ROUND(CAST(n_tokens AS DOUBLE) / total_tokens, 6)
             AS token_share,
           CAST(checksum_dec % 1000000007 AS BIGINT) AS content_checksum
    FROM per CROSS JOIN tot
    """,
    doc="Mixture manifest — the dataset-card numbers a training run "
    "must be reproducible from: per (lang, source) cell, doc count, "
    "whitespace-token count, share of the total token budget, and a "
    "deterministic ORDER-FREE content checksum (sum of 48-bit "
    "sha256-prefix ints in DECIMAL(38,0), reduced mod 1e9+7) — two "
    "corpora with the same manifest row are byte-interchangeable for "
    "that cell, and a single changed/dropped document changes the "
    "checksum.  One grouped aggregate; the 1-row total joins back "
    "broadcast.  Full SQL oracle.",
    expects_bnlj=True,  # 1-row total crossJoin (bounded)
    expects_broadcast="1-row corpus totals",
)
def dataset_mixture_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pre = F.conv(F.substring(F.sha2(F.col("text"), 256), 1, 12), 16, 10)
    per = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).cast("long").alias("n_tokens"),
        F.sum(pre.cast("decimal(38,0)")).alias("checksum_dec"),
    )
    tot = per.agg(F.sum("n_tokens").alias("total_tokens"))
    return per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.col("total_tokens"), 6
        ).alias("token_share"),
        (F.col("checksum_dec") % 1000000007)
        .cast("long")
        .alias("content_checksum"),
    )

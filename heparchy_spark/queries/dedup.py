"""Dedup query corpus over the ``documents`` table (operators.dedup)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from heparchy_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_df,
    simhash_near_dup_pairs,
)
from heparchy_spark.queries import expected_fixture_sql, register
from heparchy_spark.queries.tables import load

# DuckDB expression mirroring operators.dedup.normalize_text
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', ' ', 'g'),"
    " '\\s+', ' ', 'g'))"
)
def _shingles_sql(n: int) -> str:
    """DuckDB expression for the distinct word n-gram shingles of the
    normalized text (n tokens joined by one space)."""
    words = " || ' ' || ".join(
        f"string_split({_NORM_SQL}, ' ')[i+{k}]" if k else
        f"string_split({_NORM_SQL}, ' ')[i]"
        for k in range(n)
    )
    return f"""
    list_distinct(
      list_transform(
        generate_series(
          1, greatest(len(string_split({_NORM_SQL}, ' ')) - {n - 1}, 0)),
        i -> {words}))
"""


_SHINGLES_SQL = _shingles_sql(3)


@register(
    "dedup_exact",
    """
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS rep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    doc="Exact dedup: sha256 content hash, min doc_id representative. "
    "Uniform hash keys -> skew-free shuffle at any scale.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(load(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "dedup_exact_normalized",
    f"""
    SELECT sha256({_NORM_SQL}) AS content_hash,
           MIN(doc_id) AS rep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    doc="Exact dedup on normalized text (lowercase, punct/whitespace folding).",
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(
        load(spark, sf_dir, "documents"), "text", "doc_id", normalize=True
    )


# Shared by the pairs query and the components query below.
_JACCARD_PAIRS_06_SQL = f"""
    WITH toks0 AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(w) - 2, 0)),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      FROM toks0
    ),
    toks AS (SELECT doc_id, unnest(s) AS tok FROM sh),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.id_a, c.id_b,
           CAST(c.n_shared AS DOUBLE)
             / (len(sa.s) + len(sb.s) - c.n_shared) AS jaccard
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.id_a
    JOIN sh sb ON sb.doc_id = c.id_b
    WHERE CAST(c.n_shared AS DOUBLE)
            / (len(sa.s) + len(sb.s) - c.n_shared) >= 0.6
"""


@register(
    "dedup_ngram_jaccard_pairs",
    _JACCARD_PAIRS_06_SQL,
    doc="Exact 3-gram Jaccard near-dup pairs (threshold 0.6), full recall: "
    "candidates from an equi-join on shared shingles (any pair with "
    "Jaccard > 0 shares one), verified by exact set sizes — the oracle "
    "mirrors the same near-linear shape instead of brute-forcing pairs.",
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        n=3,
        threshold=0.6,
        prefix_tokens=None,  # exact PPJoin prefix bound -> oracle-comparable
    )


@register(
    "dedup_minhash_lsh_pairs",
    expected_fixture_sql("dedup_minhash_lsh_pairs"),
    doc="MinHash(64) + LSH(16 bands) candidate pairs verified by exact "
    "Jaccard >= 0.5; oracle = plain-Python mirror of the whole signature/"
    "banding/verification pipeline, precomputed.",
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_near_dup_pairs(
        load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        num_perm=64,
        bands=16,
        jaccard_threshold=0.5,
    )


@register(
    "dedup_lsh_threshold_audit",
    expected_fixture_sql("dedup_lsh_threshold_audit"),
    doc="Empirical LSH S-curve calibration: per true-Jaccard decile over "
    "a growth-stable bottom-200-by-sha256(id) sample, the fraction of "
    "pairs the production MinHash(64)/16-band construction emits as "
    "candidates, beside the theoretical 1-(1-j^4)^16 midpoint curve — "
    "the recall audit the verified-pairs output cannot provide (pairs "
    "the banding never emits are never seen). All-pairs work is bounded "
    "by the fixed sample (declared BNLJ); at 100 TB only the k-doc "
    "TakeOrdered sample scans the corpus. Oracle = plain-Python mirror "
    "of the full sample/shingle/band/jaccard pipeline, precomputed.",
    expects_bnlj=True,  # ~k^2/2 pairs over the bounded k-doc sample
    expects_broadcast="bounded k-doc sample side of the audit pair join",
)
def dedup_lsh_threshold_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dedup import lsh_threshold_audit

    return lsh_threshold_audit(
        load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        sample_k=200,
        num_perm=64,
        bands=16,
    )


@register(
    "dedup_incremental_minhash",
    expected_fixture_sql("dedup_incremental_minhash"),
    doc="Incremental near-dup ingest: docs 400+ arrive as a new batch and "
    "are checked against the already-ingested corpus (docs < 400) via a "
    "(band, bucket) equi-join between the batch's band table and the "
    "corpus' persisted index — seen-seen pairs are never generated, and "
    "at 100 TB the seen side is a bucketed sidecar, not a rescan "
    "(operators/dedup.py incremental_minhash_near_dups). Oracle = the "
    "cross-split slice of the plain-Python minhash mirror.",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dedup import incremental_minhash_near_dups

    docs = load(spark, sf_dir, "documents")
    return incremental_minhash_near_dups(
        docs.where(F.col("doc_id") >= 400),
        docs.where(F.col("doc_id") < 400),
        "text",
        "doc_id",
        num_perm=64,
        bands=16,
        jaccard_threshold=0.5,
    )


@register(
    "dedup_simhash_fingerprints",
    expected_fixture_sql("dedup_simhash_fingerprints"),
    doc="64-bit SimHash fingerprint per document (column algebra, no UDF); "
    "oracle = plain-Python majority-vote mirror, precomputed.",
)
def dedup_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_df(load(spark, sf_dir, "documents"), "text", "doc_id")


@register(
    "dedup_simhash_pairs",
    expected_fixture_sql("dedup_simhash_pairs"),
    doc="SimHash near-dup pairs at Hamming distance <= 3 via pigeonhole "
    "block equi-join (exact by pigeonhole); oracle = brute-force Hamming "
    "over plain-Python fingerprints, precomputed.",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_dup_pairs(
        load(spark, sf_dir, "documents"), "text", "doc_id", max_hamming=3
    )


@register(
    "dedup_incremental_new_docs",
    """
    WITH __old AS (
      SELECT sha256(text) AS content_hash FROM documents WHERE doc_id % 2 = 0
    ), __new AS (
      SELECT doc_id, sha256(text) AS content_hash
      FROM documents WHERE doc_id % 2 = 1
    ), __batch AS (
      SELECT content_hash, min(doc_id) AS doc_id
      FROM __new GROUP BY content_hash
    )
    SELECT doc_id, content_hash
    FROM __batch b
    WHERE NOT EXISTS (
      SELECT 1 FROM __old o WHERE o.content_hash = b.content_hash
    )
    """,
    doc="Incremental ingest dedup: odd doc_ids are the incoming snapshot, "
    "even doc_ids the already-ingested corpus; batch-first-wins then "
    "left-anti join on the content hash.",
)
def dedup_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dedup import incremental_exact_dedup

    docs = load(spark, sf_dir, "documents")
    return incremental_exact_dedup(
        docs.where(F.col("doc_id") % 2 == 1),
        docs.where(F.col("doc_id") % 2 == 0),
        "text",
        "doc_id",
    )


# Reuses the dataset-split bucketing rule (queries.dataset._BUCKET_SQL) to
# carve an eval set out of `documents`; inlined here to keep the module
# import graph acyclic (dataset -> text -> dedup).
_SPLIT_BUCKET_SQL = (
    "(('0x' || substr(sha256(text || 'split'), 1, 12))::BIGINT % 10000)"
)


@register(
    "dedup_contamination_check",
    f"""
    WITH __b AS (
      SELECT doc_id, text, {_SPLIT_BUCKET_SQL} AS __bk FROM documents
    ), __tr AS (
      SELECT doc_id, {_shingles_sql(5)} AS sh FROM __b WHERE __bk < 9000
    ), __ev AS (
      SELECT DISTINCT s
      FROM (SELECT unnest({_shingles_sql(5)}) AS s FROM __b WHERE __bk >= 9000)
    ), __tx AS (
      SELECT doc_id, unnest(sh) AS s FROM __tr
    ), __hits AS (
      SELECT doc_id,
             count(*) AS n_shingles,
             count(CASE WHEN s IN (SELECT s FROM __ev) THEN 1 END)
               AS n_overlap
      FROM __tx GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(coalesce(h.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           coalesce(h.n_overlap, 0) > 0 AS contaminated
    FROM __tr t LEFT JOIN __hits h USING (doc_id)
    """,
    doc="Benchmark decontamination: training docs (split buckets < 9000) "
    "checked for 5-gram shingle collisions with the held-out eval split "
    "(buckets >= 9000). Eval shingle set is broadcast; the train stream "
    "is never shuffled for the join.",
    expects_broadcast="bounded eval-benchmark shingle set",
)
def dedup_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dataset import hash_bucket
    from heparchy_spark.operators.text import contamination_report

    docs = load(spark, sf_dir, "documents")
    b = docs.withColumn("__bk", hash_bucket("text", "split"))
    return contamination_report(
        b.where(F.col("__bk") < 9000),
        b.where(F.col("__bk") >= 9000),
        "text",
        "doc_id",
        n=5,
    )


@register(
    "dedup_jaccard_components",
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
    )
    SELECT node AS doc_id, CAST(min(lab) AS BIGINT) AS component
    FROM __reach GROUP BY node
    """,
    doc="Dedup cluster assignment: connected components of the 3-gram "
    "Jaccard >= 0.6 near-dup graph via min-label propagation (join + "
    "groupBy-min per round, O(diameter) rounds); the oracle computes the "
    "same fixpoint with a recursive CTE. Singleton docs keep their own id.",
)
def dedup_jaccard_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dedup import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.6, prefix_tokens=None
    )
    out = connected_components(
        pairs, "id_a", "id_b", docs, "doc_id", max_iter=25
    )
    return out.select(F.col("node").alias("doc_id"), "component")


@register(
    "dedup_cluster_representatives",
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
    SELECT component, doc_id AS rep_id, n_docs
    FROM (
      SELECT c.component, c.doc_id,
             row_number() OVER (
               PARTITION BY c.component
               ORDER BY d.n_chars DESC, c.doc_id) AS __rn,
             count(*) OVER (PARTITION BY c.component) AS n_docs
      FROM __comp c JOIN documents d USING (doc_id)
    )
    WHERE __rn = 1
    """,
    doc="Survivor selection per near-dup cluster: keep-longest (ties to "
    "min doc_id) over the Jaccard components — the policy step that turns "
    "cluster ids into the actual deduplicated corpus.",
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from heparchy_spark.operators.dedup import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.6, prefix_tokens=None
    )
    comp = connected_components(
        pairs, "id_a", "id_b", docs, "doc_id", max_iter=25
    ).select(F.col("node").alias("doc_id"), "component")
    joined = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    wc = Window.partitionBy("component")
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .withColumn("n_docs", F.count(F.lit(1)).over(wc))
        .where(F.col("__rn") == 1)
        .select("component", F.col("doc_id").alias("rep_id"), "n_docs")
    )


_BLOOM_M = 1 << 20  # bits
_BLOOM_K = 3


def _bloom_pos_sql(h: str, i: int) -> str:
    """Position i from sha256 hex slice (15 hex chars = 60 bits, positive)."""
    return (
        f"CAST(CONCAT('0x', substr({h}, {1 + 15 * i}, 15)) AS BIGINT)"
        f" % {_BLOOM_M}"
    )


def _bloom_pos_spark(h, i: int):
    from heparchy_spark.operators.sketch import sha_slice_pos

    return sha_slice_pos(h, i, _BLOOM_M)


@register(
    "dedup_bloom_prefilter",
    f"""
    WITH seen AS (
      SELECT sha256(text) AS h FROM documents WHERE doc_id % 2 = 0
    ),
    pos AS (
      {" UNION ALL ".join(
          f"SELECT {_bloom_pos_sql('h', i)} AS p FROM seen"
          for i in range(_BLOOM_K))}
    ),
    flt AS (
      SELECT p >> 5 AS word_idx,
             bit_or(CAST(1 AS BIGINT) << CAST(p & 31 AS INTEGER)) AS word
      FROM pos GROUP BY 1
    ),
    inc AS (
      SELECT doc_id, sha256(text) AS h FROM documents WHERE doc_id % 2 = 1
    ),
    ipos AS (
      {" UNION ALL ".join(
          f"SELECT doc_id, h, {_bloom_pos_sql('h', i)} AS p FROM inc"
          for i in range(_BLOOM_K))}
    ),
    probe AS (
      SELECT ipos.doc_id,
             SUM(CASE WHEN flt.word IS NOT NULL
                       AND ((flt.word >> CAST(ipos.p & 31 AS INTEGER)) & 1) = 1
                      THEN 1 ELSE 0 END) AS hits
      FROM ipos LEFT JOIN flt ON (ipos.p >> 5) = flt.word_idx
      GROUP BY 1
    )
    SELECT probe.doc_id,
           hits = {_BLOOM_K} AS maybe_dup,
           EXISTS (SELECT 1 FROM seen WHERE seen.h = inc.h) AS is_dup
    FROM probe JOIN inc ON inc.doc_id = probe.doc_id
    """,
    doc="Bloom-filter pre-filter for incremental dedup: the seen half of "
    "the corpus builds a 2^20-bit filter (sha256-slice positions, k=3) "
    "that the incoming half probes — the scale pattern that avoids "
    "shuffling a 100 TB seen-corpus per batch (operators/dedup.py "
    "bloom_filter_build/probe). maybe_dup is the filter verdict, is_dup "
    "the exact truth; no false negatives by construction. Oracle "
    "recomputes the identical filter in portable SQL.",
    expects_broadcast="1-row aggregated Bloom bitmap",
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dedup import (
        bloom_filter_build,
        bloom_filter_probe,
    )

    docs = load(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id", F.sha2(F.col("text"), 256).alias("h")
    )
    seen = hashed.where(F.col("doc_id") % 2 == 0)
    inc = hashed.where(F.col("doc_id") % 2 == 1)
    flt = bloom_filter_build(
        seen, [_bloom_pos_spark(F.col("h"), i) for i in range(_BLOOM_K)], _BLOOM_M
    )
    probed = bloom_filter_probe(
        inc, "doc_id", [_bloom_pos_spark(F.col("h"), i) for i in range(_BLOOM_K)], flt
    ).withColumnRenamed("maybe_present", "maybe_dup")
    truth = inc.join(
        seen.select(F.col("h").alias("__sh")).distinct(),
        F.col("h") == F.col("__sh"),
        "left",
    ).select(
        "doc_id", F.col("__sh").isNotNull().alias("is_dup")
    )
    return probed.join(truth, "doc_id").select("doc_id", "maybe_dup", "is_dup")


@register(
    "dedup_cdc_shared_chunks",
    expected_fixture_sql("dedup_cdc_shared_chunks"),
    doc="Content-defined chunking: chunk boundaries where xxhash64(token) "
    "% 16 == 0 (content property -> insert-shift-robust), per-chunk "
    "ordered hash fold, then chunks appearing in 2+ documents — shared-"
    "span detection with ONE groupBy on chunk hash instead of quadratic "
    "near-dup candidates (operators/dedup.py cdc_chunk_stream). Oracle = "
    "plain-Python mirror via the pinned xxh64, precomputed.",
)
def dedup_cdc_shared_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dedup import cdc_chunk_stream

    chunks = cdc_chunk_stream(
        load(spark, sf_dir, "documents"), "text", "doc_id", divisor=16
    )
    return (
        chunks.groupBy(F.col("__chunk_hash").alias("chunk_hash"))
        .agg(
            F.count_distinct("__id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("__n_toks").alias("chunk_len"),
        )
        .where(F.col("n_docs") >= 2)
    )


@register(
    "dedup_duplicated_spans",
    expected_fixture_sql("dedup_duplicated_spans"),
    doc="Exact-substring dedup primitive (Lee et al. 2022, token "
    "granularity): maximal token spans whose 8-gram occurs 2+ times "
    "corpus-wide, merged per document via the lag-window island trick "
    "(operators/dedup.py duplicated_ngram_spans). One combinable groupBy "
    "on the gram hash + one equi join back — no suffix array, no "
    "all-pairs. Oracle = plain-Python mirror via the pinned xxh64, "
    "precomputed.",
)
def dedup_duplicated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dedup import duplicated_ngram_spans

    return duplicated_ngram_spans(
        load(spark, sf_dir, "documents"), "text", "doc_id", n=8,
        min_occurrences=2,
    ).select("doc_id", "span_start", "span_end", "span_tokens", "n_grams")


@register(
    "dedup_fuzzy_blocked_pairs",
    """
    WITH vals AS (
      SELECT p_name AS value, split_part(p_name, ' ', 1) AS blk,
             COUNT(*) AS n
      FROM part GROUP BY 1, 2
    )
    SELECT a.value AS value_a, b.value AS value_b,
           levenshtein(a.value, b.value) AS edit_dist,
           a.n AS n_a, b.n AS n_b
    FROM vals a JOIN vals b ON a.blk = b.blk AND a.value < b.value
    WHERE levenshtein(a.value, b.value) BETWEEN 1 AND 4
    """,
    doc="Record-linkage candidate pairs over part names: canonicalize to "
    "a distinct-value dictionary with occurrence weights (one combinable "
    "aggregate — the only full-data pass), block on the first token, and "
    "compare inside blocks with banded Levenshtein "
    "(levenshtein(l, r, threshold) early-exits above the band and the "
    "-1 sentinel falls out of the BETWEEN filter). All-pairs comparison "
    "is never materialized — blocking plays the role LSH bands play for "
    "shingles.",
)
def dedup_fuzzy_blocked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.fuzzy import blocked_fuzzy_pairs

    part = load(spark, sf_dir, "part")
    return blocked_fuzzy_pairs(
        part,
        "p_name",
        block=F.split(F.col("value"), " ")[0],
        max_dist=4,
        min_dist=1,
    )


@register(
    "dedup_entity_resolution",
    """
    WITH RECURSIVE
    vals AS (
      SELECT p_name AS value, split_part(p_name, ' ', 1) AS blk,
             COUNT(*) AS n
      FROM part GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.value AS va, b.value AS vb
      FROM vals a JOIN vals b ON a.blk = b.blk AND a.value < b.value
      WHERE levenshtein(a.value, b.value) BETWEEN 1 AND 4
    ),
    sym AS (
      SELECT va AS a, vb AS b FROM pairs
      UNION ALL SELECT vb, va FROM pairs
    ),
    reach(node, lab) AS (
      SELECT value, value FROM vals
      UNION
      SELECT s.b, r.lab FROM reach r JOIN sym s ON s.a = r.node
    ),
    comp AS (
      SELECT node AS value, MIN(lab) AS cluster_key FROM reach GROUP BY node
    ),
    canon AS (
      SELECT cluster_key, value AS canonical FROM (
        SELECT c.cluster_key, c.value,
               row_number() OVER (
                 PARTITION BY c.cluster_key ORDER BY v.n DESC, c.value
               ) AS rk
        FROM comp c JOIN vals v ON v.value = c.value
      ) WHERE rk = 1
    )
    SELECT c.value, canon.canonical, v.n AS n_rows,
           c.value <> canon.canonical AS merged
    FROM comp c
    JOIN canon ON canon.cluster_key = c.cluster_key
    JOIN vals v ON v.value = c.value
    """,
    doc="Entity resolution end-to-end over part names: blocked banded-"
    "Levenshtein candidate pairs (operators/fuzzy.py) feed min-label "
    "connected components (operators/dedup.py), and each cluster "
    "canonicalizes to its most frequent value (ties to the "
    "lexicographically first) — the blocking/linkage/clustering/"
    "canonicalization pipeline of a record-dedup system as one "
    "declarative composition. Every stage is an equi-join or combinable "
    "aggregate over the DISTINCT-value dictionary, never the raw rows; "
    "the oracle replays clustering as a recursive CTE.",
)
def dedup_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from heparchy_spark.operators.dedup import connected_components
    from heparchy_spark.operators.fuzzy import blocked_fuzzy_pairs

    part = load(spark, sf_dir, "part")
    pairs = blocked_fuzzy_pairs(
        part,
        "p_name",
        block=F.split(F.col("value"), " ")[0],
        max_dist=4,
        min_dist=1,
    )
    vals = part.groupBy(F.col("p_name").alias("value")).agg(
        F.count(F.lit(1)).alias("n")
    )
    cc = connected_components(
        pairs, "value_a", "value_b", vals, "value", max_iter=25
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("n"), F.asc("node")
    )
    ranked = cc.join(vals, cc["node"] == vals["value"]).select(
        "node", "component", "n", F.row_number().over(w).alias("rk")
    )
    canon = ranked.where(F.col("rk") == 1).select(
        "component", F.col("node").alias("canonical")
    )
    return (
        ranked.join(canon, "component")
        .select(
            F.col("node").alias("value"),
            "canonical",
            F.col("n").alias("n_rows"),
            (F.col("node") != F.col("canonical")).alias("merged"),
        )
    )


@register(
    "dedup_sorted_neighborhood",
    f"""
    WITH sh AS (
      SELECT doc_id, {_NORM_SQL} AS nrm, {_SHINGLES_SQL} AS s FROM documents
    ),
    ranked AS (
      SELECT doc_id, string_split(nrm, ' ')[1] AS blk, nrm, s,
             ROW_NUMBER() OVER (
               PARTITION BY string_split(nrm, ' ')[1]
               ORDER BY nrm, doc_id) AS rn
      FROM sh
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(b.rn - a.rn AS BIGINT) AS dist,
           ROUND(
             CASE WHEN len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) > 0
                  THEN CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                       / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                  ELSE 0.0 END, 9) AS jaccard
    FROM ranked a
    JOIN ranked b ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 2
    """,
    doc="Sorted-neighborhood near-dup candidates (Hernandez & Stolfo "
    "1995): block on the first normalized token, sort within block, "
    "compare each row to its 2 successors, score by exact 3-gram "
    "Jaccard.  Per-block windows — no global sort; candidate volume is "
    "exactly window*n rows.",
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dedup import sorted_neighborhood_pairs

    out = sorted_neighborhood_pairs(
        load(spark, sf_dir, "documents"), "text", "doc_id", window=2, n=3
    )
    return out.select(
        "id_a", "id_b", F.col("dist").cast("long").alias("dist"), "jaccard"
    )


@register(
    "dedup_containment_pairs",
    f"""
    WITH sh AS (
      SELECT doc_id, {_NORM_SQL} AS nrm, {_SHINGLES_SQL} AS s FROM documents
    ),
    ranked AS (
      SELECT doc_id, string_split(nrm, ' ')[1] AS blk, nrm, s,
             ROW_NUMBER() OVER (
               PARTITION BY string_split(nrm, ' ')[1]
               ORDER BY nrm, doc_id) AS rn
      FROM ranked_src
    ),
    scored AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(a.s) AS BIGINT) AS size_a,
             CAST(len(b.s) AS BIGINT) AS size_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) AS inter
      FROM ranked a
      JOIN ranked b ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 2
    )
    SELECT id_a, id_b, size_a, size_b,
           ROUND(CASE WHEN size_a > 0 THEN inter / size_a ELSE 0.0 END, 9)
             AS containment_a,
           ROUND(CASE WHEN size_b > 0 THEN inter / size_b ELSE 0.0 END, 9)
             AS containment_b
    FROM scored
    WHERE GREATEST(
            CASE WHEN size_a > 0 THEN inter / size_a ELSE 0.0 END,
            CASE WHEN size_b > 0 THEN inter / size_b ELSE 0.0 END) >= 0.5
    """.replace("FROM ranked_src", "FROM sh"),
    doc="Asymmetric-containment near-dup pairs (Broder's containment "
    "coefficient |A∩B|/|A|): catches quote/excerpt duplication — a short "
    "doc embedded in a long one — that symmetric Jaccard under-scores "
    "when lengths differ.  Candidates come from the same sorted-"
    "neighborhood generator as dedup_sorted_neighborhood (per-block "
    "windows, exact successor-rank equi-join, volume = window*n); "
    "containment is scored on the codegen'd hashed-shingle sets attached "
    "to candidates only, and the oracle replays string-shingle sets "
    "(equal up to 64-bit collisions).",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.dedup import sorted_neighborhood_pairs

    out = sorted_neighborhood_pairs(
        load(spark, sf_dir, "documents"), "text", "doc_id", window=2, n=3
    )
    return out.where(
        F.greatest("containment_a", "containment_b") >= F.lit(0.5)
    ).select(
        "id_a", "id_b", "size_a", "size_b",
        "containment_a", "containment_b",
    )


# ---------------------------------------------------------------------------
# dedup_fs_linkage_scores — Fellegi-Sunter probabilistic record linkage
# ---------------------------------------------------------------------------

# Assumed per-field match probabilities (the m-vector).  Classic practice
# when no labeled pairs exist for EM: fix m near 1 and let the DATA-driven
# u-probabilities (chance agreement between two random records, computed
# exactly as sum(n_v^2)/N^2) carry the field-informativeness signal.
_FS_M = {"name2": 90, "brand": 95, "ptype": 90}  # percent
_FS_TOP = 50


def _fs_sql() -> str:
    fields = list(_FS_M)
    u_cols = ",\n             ".join(
        f"""(SELECT CAST(SUM(c * c) AS DOUBLE) FROM (
               SELECT COUNT(*) AS c FROM recs GROUP BY {f}))
             / (CAST((SELECT COUNT(*) FROM recs) AS DOUBLE)
                * (SELECT COUNT(*) FROM recs)) AS u_{f}"""
        for f in fields
    )
    terms = " + ".join(
        f"(CASE WHEN a.{f} = b.{f} THEN ln({_FS_M[f] / 100.0!r} / u_{f}) "
        f"ELSE ln({1 - _FS_M[f] / 100.0!r} / (1.0 - u_{f})) END)"
        for f in fields
    )
    agrees = ",\n           ".join(
        f"CAST(CASE WHEN a.{f} = b.{f} THEN 1 ELSE 0 END AS INTEGER)"
        f" AS agree_{f}"
        for f in fields
    )
    return f"""
    WITH recs AS (
      SELECT p_partkey AS pk,
             split_part(p_name, ' ', 1) || '/' || CAST(p_size AS VARCHAR)
               AS blk,
             split_part(p_name, ' ', 2) AS name2,
             p_brand AS brand, p_type AS ptype
      FROM part
    ),
    uprob AS (
      SELECT {u_cols}
    )
    SELECT a.pk AS p1, b.pk AS p2,
           {agrees},
           ROUND({terms}, 6) AS fs_weight
    FROM recs a JOIN recs b ON a.blk = b.blk AND a.pk < b.pk
    CROSS JOIN uprob
    ORDER BY fs_weight DESC, p1, p2
    LIMIT {_FS_TOP}
    """


@register(
    "dedup_fs_linkage_scores",
    _fs_sql(),
    doc="Fellegi-Sunter (1969) probabilistic record linkage over parts: "
    "candidate pairs from first-name-token blocking score "
    "sum_f ln(m_f/u_f) on field agreement and ln((1-m_f)/(1-u_f)) on "
    "disagreement, with u_f (chance agreement) computed EXACTLY from "
    "the data as sum(n_v^2)/N^2 and m_f fixed literals (no labeled "
    "pairs for EM; the data-driven u carries field informativeness — "
    "a rare brand match outweighs a common type match).  Top-50 pairs "
    "by weight.  Blocking key = (first name token, size): the corpus' "
    "8-value first token alone leaves 2.5k-row blocks (25M candidate "
    "pairs at sf0.1, measured 22s) — the composite key keeps blocks "
    "~50 rows and candidates ~500k; the blocked field drops out of "
    "the scored vector (within-block agreement is constant 1).  Scale "
    "shape: one tiny u-aggregate broadcast, a blocked equi-join "
    "(never all pairs; sub-block a skewed key on a hash prefix), "
    "TakeOrdered top-k.",
    expects_bnlj=True,
    expects_broadcast="bounded Fellegi-Sunter weight table",
)
def dedup_fs_linkage_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load(spark, sf_dir, "part")
    recs = part.select(
        F.col("p_partkey").alias("pk"),
        F.concat(
            F.split("p_name", " ")[0],
            F.lit("/"),
            F.col("p_size").cast("string"),
        ).alias("blk"),
        F.split("p_name", " ")[1].alias("name2"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("ptype"),
    )
    n = recs.count()
    fields = list(_FS_M)
    u_row = None
    for f in fields:
        uf = (
            recs.groupBy(f)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(
                (
                    F.sum(F.col("c") * F.col("c")).cast("double")
                    / F.lit(float(n))
                    / F.lit(n)
                ).alias(f"u_{f}")
            )
        )
        u_row = uf if u_row is None else u_row.join(F.broadcast(uf))
    a, b = recs.alias("a"), recs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.pk") < F.col("b.pk")),
    ).join(F.broadcast(u_row))
    terms = None
    agrees = []
    for f in fields:
        m = _FS_M[f] / 100.0
        agree = F.col(f"a.{f}") == F.col(f"b.{f}")
        t = F.when(agree, F.log(F.lit(m) / F.col(f"u_{f}"))).otherwise(
            F.log(F.lit(1 - m) / (F.lit(1.0) - F.col(f"u_{f}")))
        )
        terms = t if terms is None else terms + t
        agrees.append(agree.cast("int").alias(f"agree_{f}"))
    return (
        pairs.select(
            F.col("a.pk").alias("p1"),
            F.col("b.pk").alias("p2"),
            *agrees,
            F.round(terms, 6).alias("fs_weight"),
        )
        .orderBy(F.col("fs_weight").desc(), "p1", "p2")
        .limit(_FS_TOP)
    )


# ---------------------------------------------------------------------------
# dedup_fs_em_params — EM-estimated Fellegi-Sunter parameters (Splink-style)
# ---------------------------------------------------------------------------

_EM_ITERS = 10
_EM_G = "1000000000.0"


def _fs_em_sql() -> str:
    fields = list(_FS_M)  # name2, brand, ptype — same blocked pairs as FS
    nf = len(fields)
    agrees = ", ".join(
        f"CAST(CASE WHEN a.{f} = b.{f} THEN 1 ELSE 0 END AS INTEGER)"
        f" AS g{i + 1}"
        for i, f in enumerate(fields)
    )
    gcols = ", ".join(f"g{i + 1}" for i in range(nf))
    parts = [
        """recs AS MATERIALIZED (
      SELECT p_partkey AS pk,
             split_part(p_name, ' ', 1) || '/' || CAST(p_size AS VARCHAR)
               AS blk,
             split_part(p_name, ' ', 2) AS name2,
             p_brand AS brand, p_type AS ptype
      FROM part
    )""",
        f"""pc AS MATERIALIZED (
      SELECT {gcols}, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT {agrees}
        FROM recs a JOIN recs b ON a.blk = b.blk AND a.pk < b.pk
      ) GROUP BY {gcols}
    )""",
        "np AS MATERIALIZED (SELECT CAST(SUM(n) AS BIGINT) AS np FROM pc)",
        "p0 AS MATERIALIZED (SELECT 0.1 AS lam, "
        + ", ".join(f"0.9 AS m{i + 1}" for i in range(nf))
        + ", "
        + ", ".join(f"0.1 AS u{i + 1}" for i in range(nf))
        + ")",
    ]
    for k in range(_EM_ITERS):
        wm = " * ".join(
            f"(CASE WHEN g{i + 1} = 1 THEN p.m{i + 1}"
            f" ELSE 1.0 - p.m{i + 1} END)"
            for i in range(nf)
        )
        wu = " * ".join(
            f"(CASE WHEN g{i + 1} = 1 THEN p.u{i + 1}"
            f" ELSE 1.0 - p.u{i + 1} END)"
            for i in range(nf)
        )
        parts.append(f"""e{k} AS MATERIALIZED (
      SELECT {gcols}, n,
             CAST(FLOOR((w / (w + v)) * {_EM_G} + 0.5) AS BIGINT) AS ps
      FROM (
        SELECT pc.*, p.lam * {wm} AS w, (1.0 - p.lam) * {wu} AS v
        FROM pc, p{k} p
      )
    )""")
        s_cols = ["CAST(SUM(ps * n) AS BIGINT) AS sp"]
        for i in range(nf):
            s_cols.append(
                f"CAST(SUM(CASE WHEN g{i + 1} = 1 THEN ps * n"
                f" ELSE 0 END) AS BIGINT) AS sp{i + 1}"
            )
            s_cols.append(
                f"CAST(SUM(CASE WHEN g{i + 1} = 1 THEN"
                f" (1000000000 - ps) * n ELSE 0 END) AS BIGINT)"
                f" AS su{i + 1}"
            )
        parts.append(
            f"s{k} AS MATERIALIZED (SELECT " + ", ".join(s_cols)
            + f" FROM e{k})"
        )
        # sp clamped into [1, G*np - 1] and lam into [1e-9, 1 - 1e-9],
        # exactly as operators/fuzzy.py fs_em_params does — otherwise a
        # fully-saturated E-step (all responsibilities snapping to the
        # same grid end) would divide by zero in both engines.
        parts.append(
            f"sc{k} AS MATERIALIZED (SELECT"
            f" LEAST(GREATEST(sp, 1),"
            f" CAST({_EM_G[:-2]} AS BIGINT) * np.np - 1) AS sp, "
            + ", ".join(
                f"sp{i + 1}, su{i + 1}" for i in range(nf)
            )
            + f" FROM s{k}, np)"
        )
        mu_cols = [
            f"LEAST(GREATEST(FLOOR((CAST(sp AS DOUBLE) / {_EM_G}"
            f" / CAST(np.np AS DOUBLE)) * {_EM_G} + 0.5) / {_EM_G},"
            f" 1e-09), 1.0 - 1e-09) AS lam"
        ]
        for i in range(nf):
            mu_cols.append(
                f"LEAST(GREATEST(FLOOR((CAST(sp{i + 1} AS DOUBLE)"
                f" / CAST(sp AS DOUBLE)) * {_EM_G} + 0.5) / {_EM_G},"
                f" 1e-09), 1.0 - 1e-09) AS m{i + 1}"
            )
            mu_cols.append(
                f"LEAST(GREATEST(FLOOR((CAST(su{i + 1} AS DOUBLE)"
                f" / CAST({_EM_G[:-2]} * np.np - sp AS DOUBLE))"
                f" * {_EM_G} + 0.5) / {_EM_G},"
                f" 1e-09), 1.0 - 1e-09) AS u{i + 1}"
            )
        parts.append(
            f"p{k + 1} AS MATERIALIZED (SELECT " + ", ".join(mu_cols)
            + f" FROM sc{k}, np)"
        )
    finals = " UNION ALL ".join(
        f"SELECT '{f}' AS field, m{i + 1} AS m_prob, u{i + 1} AS u_prob,"
        f" lam AS match_share,"
        f" ROUND(LN(m{i + 1} / u{i + 1}), 6) AS match_weight,"
        f" ROUND(LN((1.0 - m{i + 1}) / (1.0 - u{i + 1})), 6)"
        f" AS nonmatch_weight FROM p{_EM_ITERS}"
        for i, f in enumerate(fields)
    )
    return "WITH " + ",\n    ".join(parts) + "\n    " + finals


@register(
    "dedup_fs_em_params",
    _fs_em_sql(),
    doc="Unsupervised Fellegi-Sunter parameter estimation by EM "
    "(Winkler 1988 — the Splink architecture) over the same blocked "
    "part comparison vectors as dedup_fs_linkage_scores: per field, "
    "m = P(agree|match), u = P(agree|non-match), the overall match "
    "share, and the resulting ln-odds weights, learned with no labels. "
    "The only pair-scaled pass is the agreement-PATTERN rollup "
    "(<= 2^F rows); EM iterates on that bounded table with 1e-9-grid "
    "responsibilities entering the M-step as exact scaled-integer "
    "sums, so the oracle replays all 10 rounds as unrolled CTEs "
    "bit-for-bit (operators/fuzzy.py fs_em_params).",
)
def dedup_fs_em_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.fuzzy import fs_em_params

    part = load(spark, sf_dir, "part")
    recs = part.select(
        F.col("p_partkey").alias("pk"),
        F.concat(
            F.split("p_name", " ")[0],
            F.lit("/"),
            F.col("p_size").cast("string"),
        ).alias("blk"),
        F.split("p_name", " ")[1].alias("name2"),
        F.col("p_brand").alias("brand"),
        F.col("p_type").alias("ptype"),
    )
    a, b = recs.alias("a"), recs.alias("b")
    fields = list(_FS_M)
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.pk") < F.col("b.pk")),
    ).select(
        *[
            (F.col(f"a.{f}") == F.col(f"b.{f}")).cast("int").alias(f)
            for f in fields
        ]
    )
    return fs_em_params(pairs, fields, iters=_EM_ITERS)


@register(
    "dedup_rouge_l_pairs",
    expected_fixture_sql("dedup_rouge_l_pairs"),
    doc="ROUGE-L scores (token-LCS precision/recall/F1, reference = "
    "id_a) for the MinHash-LSH near-dup candidate pairs — the dedup-QA "
    "metric separating order-preserving rewrites from bag-of-shingle "
    "coincidences the Jaccard verifier cannot tell apart.  The LCS "
    "dynamic program runs in Arrow-batched mapInPandas over the "
    "BOUNDED pair set (never corpus-scale); integer LCS + int/int "
    "divisions keep scores engine-exact.  Oracle = independent "
    "plain-Python mirror over the mirrored pair pipeline, precomputed "
    "(operators/text.py rouge_l_pairs).",
)
def dedup_rouge_l_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.text import rouge_l_pairs

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, "text", "doc_id", num_perm=64, bands=16,
        jaccard_threshold=0.5,
    )
    return rouge_l_pairs(docs, pairs, "text", "doc_id")


@register(
    "dedup_winnowing_pairs",
    expected_fixture_sql("dedup_winnowing_pairs"),
    doc="MOSS-style local-overlap pairs from winnowing fingerprints "
    "(Schleimer et al. 2003): doc pairs sharing >= 2 fingerprints "
    "after dropping fingerprints with document frequency > 100 (the "
    "MOSS noise rule AND the skew guard — a boilerplate fingerprint "
    "would emit O(df^2) candidates in its bucket), with the shared "
    "count and shared/min(|fp_a|, |fp_b|) containment ratio.  Catches "
    "quote/excerpt overlap MinHash's global similarity dilutes away.  "
    "Fingerprint self-join bounded by max_df; ratio is exact "
    "int/int + least().  Oracle = plain-Python mirror over the "
    "independently recomputed fingerprints, precomputed "
    "(operators/text.py winnowing_overlap_pairs).",
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.text import winnowing_overlap_pairs

    docs = load(spark, sf_dir, "documents")
    return winnowing_overlap_pairs(
        docs, "text", "doc_id", min_shared=2, max_df=100
    )

"""Deduplication operators — [ext] north-star pipeline ops (SURVEY.md §2.12).

Hot paths are JVM-side column algebra (hash/array functions), except the
MinHash signature pass, a vectorized Python map.  Scale notes:

- exact: map-side partial dedup via groupBy on a 256-bit content hash; one
  shuffle on the hash (uniform by construction — no skew).
- MinHash LSH: signatures and band buckets come from one vectorized NumPy
  pass per Arrow batch (``_band_table`` on ``map_columns``), |docs| x bands
  rows, and candidate pairs come from an equi self-join on (band,
  band_hash) — never an all-pairs product.  Verification (exact Jaccard)
  touches only candidates.
- SimHash: 64-bit fingerprint folded from token hashes with bit-count
  aggregation; near-dups = pairs at Hamming distance <= t, found by the
  standard pigeonhole block trick (split 64 bits into t+1 blocks; equal pair
  must share one block exactly) — again an equi join, not a cross join.
"""

from __future__ import annotations

import os
import re
import typing as ty

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from heparchy_spark.functions.literals import array_lit, sql_ident
from heparchy_spark.functions.worker import map_columns
from heparchy_spark.operators.banding import hamming_pairs

__all__ = [
    "normalize_sql",
    "normalize_text",
    "exact_dedup",
    "shingle_hash_stream",
    "hashed_shingles_df",
    "minhash_near_dup_pairs",
    "lsh_threshold_audit",
    "simhash_df",
    "simhash_near_dup_pairs",
    "ngram_jaccard_pairs",
    "sorted_neighborhood_pairs",
    "incremental_exact_dedup",
    "incremental_minhash_near_dups",
    "duplicated_ngram_spans",
    "connected_components",
    "connected_components_star",
    "bloom_filter_build",
    "bloom_filter_probe",
    "cdc_chunk_stream",
]


def normalize_sql(col: str) -> str:
    """Lowercase, strip non-alphanumerics, collapse whitespace, trim (dedup
    canon) of the named column, as SQL text."""
    return (
        f"trim(regexp_replace(regexp_replace(lower({sql_ident(col)}),"
        r" '[^a-z0-9\\s]', ' '), '\\s+', ' '))"
    )


def normalize_text(col: str) -> Column:
    """``normalize_sql`` as a Column — one SQL expression, one py4j
    command."""
    return F.expr(normalize_sql(col))


def exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    normalize: bool = False,
) -> DataFrame:
    """One representative row id per distinct content hash (min id wins).

    Output: (content_hash string, rep_id, n_copies).
    """
    content = normalize_text(text_col) if normalize else F.col(text_col)
    return (
        df.select(F.sha2(content, 256).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("rep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_hash_stream(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """Exploded (``__id``, ``__shh``) stream of 64-bit shingle hashes (with
    duplicates) — the scale-safe shingle primitive.

    Shape: posexplode(split) -> per-token xxhash64 -> window ``lead`` over
    (id, pos) -> hash-compose n consecutive token hashes. Every expression
    is whole-stage-codegen'd; there are NO higher-order array functions.
    (An earlier array-based formulation was ~15x slower end-to-end: HOF
    lambdas are interpreted, and Catalyst rewrites — projection collapse,
    InferFiltersFromGenerate + pushdown — re-inline such expressions into
    filters/operators where they are re-evaluated per array element.)

    No shingle *strings* are built: shingle identity is the hash
    composition, so set similarity equals string-shingle similarity up to
    64-bit collisions (~1e-19 per pair). One shuffle on id (the window);
    downstream per-id aggregations reuse that partitioning.  Duplicate
    shingles are left in: min() (MinHash) and collect_set (Jaccard) are
    insensitive to them, and dropping them early would cost a shuffle.
    """
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(normalize_text(text_col), " ")).alias(
            "__pos", "__tok"
        ),
    )
    w = Window.partitionBy("__id").orderBy("__pos")
    hashed = tok.select("__id", "__pos", F.xxhash64("__tok").alias("__h0"))
    lead_cols = [
        F.lead("__h0", k).over(w).alias(f"__h{k}") for k in range(1, n)
    ]
    sh = hashed.select("__id", "__h0", *lead_cols)
    if n > 1:
        sh = sh.where(F.col(f"__h{n - 1}").isNotNull())
    return sh.select(
        "__id", F.xxhash64(*[f"__h{k}" for k in range(n)]).alias("__shh")
    )


def hashed_shingles_df(
    df: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(__id, __shh): sorted distinct shingle-hash array per document —
    ``shingle_hash_stream`` folded back to one row per doc."""
    return (
        shingle_hash_stream(df, text_col, id_col, n)
        .groupBy("__id")
        .agg(F.sort_array(F.collect_set("__shh")).alias("__shh"))
    )


def duplicated_ngram_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans per document — the exact-substring
    dedup primitive (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022), at token granularity.

    A position is *duplicated* when its n-token gram occurs
    ``min_occurrences``+ times corpus-wide (within- or cross-document).
    Overlapping/adjacent duplicated positions merge into maximal spans
    (the island trick: a window ``lag`` marks island starts, a running sum
    numbers them, one aggregate folds each island to a span).  Output:
    ``(id, span_start, span_end, span_tokens, n_grams)`` with token-index
    bounds — the caller cuts or drops the spans.

    Spark shape, all whole-stage-codegen: posexplode tokens → lead-window
    gram hashes (the same no-HOF formulation as
    ``shingle_hash_stream``, restated here because this stream must keep
    positions — fold any tokenization change into both) →
    one combinable groupBy on the gram hash → equi join back (uniform
    64-bit key, AQE-splittable) → per-doc windows.  The suffix-array
    construction of the paper is replaced by gram hashing: at 64 bits a
    false duplicate needs an xxhash64 collision (~1e-19 per pair), and
    grams shorter than ``n`` tokens are below the dedup threshold by
    definition.  No all-pairs product anywhere; the gram stream is
    ``O(total tokens)`` rows and every reduction is partial-aggregatable.
    """
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(normalize_text(text_col), " ")).alias(
            "__pos", "__tok"
        ),
    )
    w = Window.partitionBy("__id").orderBy("__pos")
    hashed = tok.select("__id", "__pos", F.xxhash64("__tok").alias("__h0"))
    lead_cols = [
        F.lead("__h0", k).over(w).alias(f"__h{k}") for k in range(1, n)
    ]
    grams = hashed.select("__id", "__pos", "__h0", *lead_cols)
    if n > 1:
        grams = grams.where(F.col(f"__h{n - 1}").isNotNull())
    # Two consumers (the corpus-wide count and the per-doc join-back)
    # would each re-run the tokenize -> id-window gram computation; stage
    # it once.  Same caller-managed storage contract as the MinHash
    # staging / q2: long-lived sessions reclaim via
    # spark.catalog.clearCache() after materializing.
    grams = grams.select(
        "__id",
        "__pos",
        F.xxhash64(*[f"__h{k}" for k in range(n)]).alias("__gh"),
    ).persist()
    dup = (
        grams.groupBy("__gh")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .where(F.col("__cnt") >= min_occurrences)
        .select("__gh")
    )
    dup_pos = grams.join(dup, "__gh").select("__id", "__pos")
    wp = Window.partitionBy("__id").orderBy("__pos")
    islands = dup_pos.withColumn(
        "__new",
        F.when(F.col("__pos") - F.lag("__pos").over(wp) <= n, 0).otherwise(1),
    ).withColumn(
        "__island",
        F.sum("__new").over(
            wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("__id", "__island")
        .agg(
            F.min("__pos").alias("span_start"),
            (F.max("__pos") + F.lit(n - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(
            F.col("__id").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_grams",
        )
    )


def _band_table(sets: DataFrame, num_perm: int, bands: int) -> DataFrame:
    """(__id, band, bucket) LSH band table from a (__id, __shh) sets frame.

    One vectorized Arrow pass per partition (guide §4.2) instead of the
    old ``num_perm`` scalar min-aggregates over a set explode: the r10
    CPU probes put the 64-expression signature aggregate as the corpus's
    hottest genuinely CPU-parallel path (dedup_minhash_lsh_pairs was the
    ONLY query slower at 8 cores than 32 by >3x), and the JVM evaluates
    64 multiply-add-min expression trees per shingle occurrence where
    NumPy does 64 SIMD passes over the contiguous value buffer.  The
    arithmetic is bit-identical by construction (``functions.xxh64``):
    ``t1 = h & 2^32-1``, ``t2 = hash_int(1, hash_long(h, 42)) & 2^32-1``
    (exactly Spark's ``xxhash64(__e, lit(1))`` chain), ``sig_j = min(t1 +
    j*t2)`` (values < 2^38, no wrap in either engine), band bucket =
    chained ``hash_long`` over the band's row slice seeded 42 (Spark's
    multi-arg ``xxhash64``) — pinned by tests/test_expected_fixtures.py
    and the _band_table equivalence test.  Only (__id, __shh) crosses
    the Python boundary (one ``map_columns`` pass, fanned out to
    ``bands`` rows per document).

    This is the persistable near-dup index sidecar shape: banding any
    two tables built with the same (num_perm, bands, shingle_n) is a
    plain (band, bucket) equi-join.
    """
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from heparchy_spark.functions import xxh64

    rows = num_perm // bands
    out_type = StructType(
        [
            sets.schema["__id"],
            StructField("band", IntegerType(), False),
            StructField("bucket", LongType(), False),
        ]
    )

    def band(shh):  # pragma: no cover - runs on executors
        import numpy as np

        u = np.uint64
        vals, off = xxh64.spans(shh)
        vals = vals.astype(np.uint64)
        # docs with no shingles have no row by construction
        # (hashed_shingles_df groups an existing stream); an empty
        # list would silently corrupt reduceat, so refuse loudly
        if (off[1:] == off[:-1]).any():
            raise ValueError("_band_table: empty shingle set")
        n, starts = len(shh), off[:-1]
        t1 = vals & u(0xFFFFFFFF)
        t2 = xxh64.hash_int(1, xxh64.hash_long(vals, xxh64.SEED)) & u(0xFFFFFFFF)
        sig = np.empty((n, num_perm), dtype=np.uint64)
        for j in range(num_perm):
            sig[:, j] = np.minimum.reduceat(t1 + u(j) * t2, starts)
        buckets = np.empty((n, bands), dtype=np.uint64)
        for b in range(bands):
            h = np.full(n, xxh64.SEED)
            for r in range(rows):
                h = xxh64.hash_long(sig[:, b * rows + r], h)
            buckets[:, b] = h
        return np.repeat(np.arange(n), bands), [
            np.tile(np.arange(bands, dtype=np.int32), n),
            buckets.reshape(-1).view(np.int64),
        ]

    return map_columns(sets, band, out_type, ["__id"], ["__shh"])


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicate id pairs via MinHash + LSH banding + exact verification.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    if num_perm % bands:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands}): "
            "the banding would silently ignore the remainder permutations "
            "while still paying to compute them"
        )
    # Multi-consumer staging: the banding self-join reads the signature
    # twice and verification reads the shingle sets twice; exchange reuse
    # does NOT cover this (AQE may broadcast one join side, and aggregates
    # above a reused exchange re-run). Persist the small per-doc AGGREGATES
    # (one row per doc — not the fat exploded stream, whose cache write
    # costs more than its recompute): sets once, signature derived from the
    # cached sets. The same staging MLlib's LSH does.
    from pyspark import StorageLevel

    sets = hashed_shingles_df(df, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # The band table is ALSO per-doc bounded (bands rows/doc) and its
    # vectorized signature pass is the pipeline's hottest CPU; the
    # self-join below reads it twice — persisting computes the
    # signature once (measured ~2x the signature CPU without it).
    # The cache is HASH-PARTITIONED ON THE JOIN KEY first (the r10
    # PPJoin prefix pattern): InMemoryRelation keeps the cached
    # plan's output partitioning, so the merge self-join below reads
    # both sides already (band, bucket)-distributed and inserts no
    # exchange.  repartition(cols) with no explicit N stays
    # AQE-coalescible (scale-adaptive).
    banded = (
        _band_table(sets, num_perm, bands)
        .repartition("band", "bucket")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    a = banded.alias("a")
    # merge demotion hint (always allowed undeclared per plan-gate
    # policy): both sides descend from mapInArrow over a column-pruned
    # scan, which Catalyst sizes at ~bytes/row from the scan — the r10
    # multimodal lesson was that it then statically broadcasts a side
    # that GROWS with the corpus (bands x n_docs rows here), and AQE
    # cannot demote a planner-chosen BHJ with no shuffle boundary.  SMJ
    # over the key-partitioned cache is exchange-free and spillable.
    b = banded.hint("merge").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"),
            F.col("b.__id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sh_a = sets.select(F.col("__id").alias("id_a"), F.col("__shh").alias("sh_a"))
    sh_b = sets.select(F.col("__id").alias("id_b"), F.col("__shh").alias("sh_b"))
    verified = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (
        F.size("sh_a").cast("double") + F.size("sh_b").cast("double") - inter
    )
    return (
        verified.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_threshold_audit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    sample_k: int = 200,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Empirical LSH S-curve: per true-Jaccard decile, what fraction of
    pairs does the (num_perm, bands) banding emit as candidates?

    The calibration readout a dedup pipeline needs before trusting its
    band/row configuration: banding theory says a pair at Jaccard j is a
    candidate with probability 1-(1-j^r)^b (r = rows per band), and this
    audit MEASURES that curve on the corpus's own text distribution —
    a mismatch (e.g. candidate rate far under the theoretical curve near
    the dedup threshold) means lost recall the verified-pairs output
    cannot reveal, because pairs the banding never emits are never seen.

    Ground truth needs all-pairs Jaccard, which is exactly what LSH
    exists to avoid — so the audit runs on a GROWTH-STABLE bounded
    sample: the bottom-``sample_k`` doc ids by sha256 of the id string
    (content-independent, stable under corpus growth, TakeOrdered — no
    global sort).  Everything downstream of the sample is bounded:
    ~k^2/2 pairs via a declared broadcast nested-loop join, exact
    shingle-set Jaccard per pair, candidate = the pair shares at least
    one (band, bucket) under the SAME ``_band_table`` construction the
    production pairing uses.

    Output: (j_bucket 0..9, n_pairs, n_candidates, cand_rate,
    scurve_mid) — scurve_mid is the theoretical candidate probability at
    the bucket midpoint, computed driver-side as a literal (identical
    plain-Python arithmetic in the oracle mirror; no cross-engine pow).
    """
    rows = num_perm // bands
    sel = (
        df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__txt"))
        .orderBy(F.sha2(F.col("__id").cast("string"), 256))
        .limit(sample_k)
    )
    sets = hashed_shingles_df(sel, "__txt", "__id")
    bb = (
        _band_table(sets, num_perm, bands)
        .groupBy("__id")
        .agg(
            F.collect_set(
                F.concat_ws(
                    ":",
                    F.col("band").cast("string"),
                    F.col("bucket").cast("string"),
                )
            ).alias("__bb")
        )
    )
    side = sets.join(bb, "__id")
    a = side.select(
        F.col("__id").alias("__ia"),
        F.col("__shh").alias("__sa"),
        F.col("__bb").alias("__ba"),
    )
    b = side.select(
        F.col("__id").alias("__ib"),
        F.col("__shh").alias("__sb"),
        F.col("__bb").alias("__bb2"),
    )
    # bounded all-pairs over the k-doc sample: declared BNLJ class
    pairs = a.crossJoin(F.broadcast(b)).where(F.col("__ia") < F.col("__ib"))
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("double")
    union = (
        F.size("__sa").cast("double") + F.size("__sb").cast("double") - inter
    )
    jac = inter / union
    bucket = F.least(F.lit(9), F.floor(jac * 10)).cast("int")
    # theoretical S-curve at bucket midpoints, as driver literals — the
    # oracle mirror runs the same plain-Python line, so the doubles match
    # bit-for-bit without trusting two engines' pow() ULP behavior
    scurve = [
        round(1.0 - (1.0 - ((i + 0.5) / 10.0) ** rows) ** bands, 6)
        for i in range(10)
    ]
    scurve_arr = array_lit(scurve)
    return (
        pairs.select(
            bucket.alias("j_bucket"),
            F.col("__ba").alias("__ba"),
            F.col("__bb2").alias("__bb2"),
        )
        .withColumn(
            "__cand", F.arrays_overlap("__ba", "__bb2").cast("int")
        )
        .groupBy("j_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("__cand").cast("long").alias("n_candidates"),
        )
        .select(
            "j_bucket",
            "n_pairs",
            "n_candidates",
            F.round(
                F.col("n_candidates").cast("double")
                / F.col("n_pairs").cast("double"),
                6,
            ).alias("cand_rate"),
            F.element_at(scurve_arr, F.col("j_bucket") + 1).alias(
                "scurve_mid"
            ),
        )
    )


def incremental_minhash_near_dups(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """Near-duplicates of a NEW batch against an already-ingested SEEN
    corpus: (new_id, seen_id, jaccard), jaccard >= threshold — the
    incremental-ingest twin of ``minhash_near_dup_pairs``, which the
    exact-hash ``incremental_exact_dedup`` cannot cover (one edited
    sentence defeats it).

    Candidates come from a (band, bucket) equi-join between the batch's
    band table and the seen corpus' band table, so seen-seen pairs are
    never generated and candidate volume is bounded by shared buckets —
    O(batch) band rows probing the index, not O(corpus^2).

    At 100 TB the seen side is a persisted sidecar written at ingest
    (the ``_band_table`` shape: (id, band, bucket), plus the per-doc
    sorted shingle-hash array for exact verification), bucketed on
    (band, bucket) so the probe join co-locates without a corpus-side
    shuffle; the raw seen text is never re-read.  This function derives
    both from the frames it is given — same results, self-contained
    API — so the seen text IS rescanned here; production callers feed
    the sidecar through the same band/verify joins.
    """
    if num_perm % bands:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands}): "
            "the banding would silently ignore the remainder permutations "
            "while still paying to compute them"
        )
    from pyspark import StorageLevel

    new_sets = hashed_shingles_df(new_df, text_col, id_col, shingle_n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    seen_sets = hashed_shingles_df(
        seen_df, text_col, id_col, shingle_n
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nb = _band_table(new_sets, num_perm, bands).withColumnsRenamed(
        {"__id": "new_id"}
    )
    sb = _band_table(seen_sets, num_perm, bands).withColumnsRenamed(
        {"__id": "seen_id"}
    )
    # merge demotion: both band tables descend from mapInArrow (garbage
    # planner sizing — see minhash_near_dup_pairs); at 100 TB the seen
    # side is corpus-sized and must never be statically broadcast.
    cand = nb.join(sb.hint("merge"), ["band", "bucket"]).select(
        "new_id", "seen_id"
    ).dropDuplicates(["new_id", "seen_id"])
    sh_n = new_sets.select(
        F.col("__id").alias("new_id"), F.col("__shh").alias("sh_n")
    )
    sh_s = seen_sets.select(
        F.col("__id").alias("seen_id"), F.col("__shh").alias("sh_s")
    )
    verified = cand.join(sh_n, "new_id").join(sh_s, "seen_id")
    inter = F.size(F.array_intersect("sh_n", "sh_s")).cast("double")
    union = (
        F.size("sh_n").cast("double") + F.size("sh_s").cast("double") - inter
    )
    return (
        verified.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("new_id", "seen_id", "jaccard")
    )


def simhash_df(
    df: DataFrame, text_col: str, id_col: str, bits: int = 64
) -> DataFrame:
    """(id, simhash64) per row via an exploded token stream + per-bit vote
    aggregates — no higher-order functions in the plan (see
    ``shingle_hash_stream`` for why that matters).

    The vote runs over each document's DISTINCT token hashes (a
    dropDuplicates on (id, hash)). Empty documents fingerprint to 0.
    """
    ex = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode_outer(
                F.split(normalize_text(text_col), " ")
            ).alias("__tok"),
        )
        .select(
            "__id",
            F.when(
                F.col("__tok").isNotNull(), F.xxhash64("__tok")
            ).alias("__h"),
        )
        .dropDuplicates(["__id", "__h"])
    )
    # Bit-vote packing: 3 counters of 21 bits per aggregate long, so the
    # 64 per-bit votes cost ceil(64/3)=22 sum-aggregates instead of 64.
    # Safe while a document has < 2^20 distinct tokens (a >6 MB all-unique
    # doc) — beyond that the top counter would overflow int64, which ANSI
    # mode turns into a loud error, not silent corruption.
    slots = 3
    slot_width = 21
    groups = (bits + slots - 1) // slots

    def packed_votes(g: int) -> Column:
        term = " + ".join(
            f"shiftleft(shiftright(__h, {i}) & 1, {s * slot_width})"
            for s, i in enumerate(range(g * slots, min(bits, (g + 1) * slots)))
        )
        return F.expr(f"coalesce(sum({term}), 0L)").alias(f"__g{g}")

    votes = ex.groupBy("__id").agg(
        F.count("__h").alias("__n"),
        *[packed_votes(g) for g in range(groups)],
    )
    # the fingerprint fold as ONE SQL expression (py4j cost O(1), not
    # O(bits)): bit i is set iff its unpacked vote count is a majority
    slot_mask = (1 << slot_width) - 1
    fp = " + ".join(
        f"CASE WHEN (shiftright(__g{i // slots}, {i % slots * slot_width})"
        f" & {slot_mask}L) * 2 > __n THEN shiftleft(1L, {i}) ELSE 0L END"
        for i in range(bits)
    )
    return votes.select(
        F.col("__id").alias(id_col), F.expr(fp).alias("simhash64")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup id pairs at Hamming distance <= max_hamming on 64-bit SimHash.

    Candidates come from the Hamming multi-index banding of
    ``operators/banding.py`` (exact by pigeonhole), with the band width
    chosen for the corpus size:

    * wide — TWO 32-bit bands probed at radius ``max_hamming // 2``
      (33 keys per band at the default 3, 529 at 4-5): the scale-safe
      shape, since 16-bit keys saturate as n approaches 2^16
      (candidates ~n^2/2^16 per band, r9 10x rehearsal).
    * narrow — ``max_hamming + 1`` exact-match bands (radius 0, no
      probe explode), used for larger radii, where the wide ball would
      exceed the saturation cost itself, and below the size gate.

    Both return IDENTICAL pairs, so the cutover is purely a
    physical-plan choice.  The wide path gates on corpus size (r11,
    measured): its probe explodes 2*C(32,<=radius) rows per doc (66 at
    the default radius 1), which dominates the narrow path's collision
    floor until roughly 4n + 4n^2/2^16 = 66n  =>  n ~ 1M docs —
    measured narrow vs wide candidates 1.26M vs 324k at sf0.1 yet wall
    0.50 vs 0.73 s, and 2.4 vs 4.1 s at the 10x rehearsal scale (50k
    docs).  Narrow-below-gate applies only while its bands stay >= 16
    bits wide (max_hamming <= 3); at 4-5 the (mh+1)-band keys drop to
    12/10 bits and saturate ~100x earlier, so wide applies at any size.
    The gate errs LOW (flips to wide early) because a wrong narrow
    choice is quadratic while a wrong wide choice costs a bounded
    constant factor.
    """
    wide = max_hamming <= 5 and (
        max_hamming > 3 or _source_bytes(df) >= _SIMHASH_WIDE_MIN_BYTES
    )
    return hamming_pairs(
        simhash_df(df, text_col, id_col),
        id_col,
        ["simhash64"],
        2 if wide else max_hamming + 1,
        max_hamming,
        pin_merge=False,
    )


# Measured in-memory-columnar expansion of zstd-compressed document
# parquet bytes into the PPJoin prefix cache (long id, long tok, int rk,
# int sz per prefix token): 34 MB cache / 5.8 MB parquet at the 10x
# rehearsal scale, ~5.9x.  Deliberately rounded UP so the narrow
# mis-estimate band near the broadcast flip lands on the partitioned
# (scale-safe) side.
_PPJOIN_PREF_EXPANSION = 6.0

# Corpus-size gate for the wide (2x32-bit + Hamming-ball probe) SimHash
# banding: ~64 MB of document parquet ~ 550k docs at the measured
# ~580 B/doc — deliberately BELOW the ~1M-doc cost crossover so the
# flip to the scale-safe wide construction happens early (a wrong
# narrow choice is quadratic in n; a wrong wide choice costs a bounded
# ~2x constant).  See simhash_near_dup_pairs for the derivation.
_SIMHASH_WIDE_MIN_BYTES = 64 * 1024 * 1024

# _source_bytes of a frame whose files cannot be sized from the driver
# (remote URIs, unreadable files): above every size gate, so each gate
# falls to its scale-safe branch.
_UNSIZED_BYTES = 1 << 62


def _source_bytes(df: DataFrame) -> int:
    """Total bytes of the frame's source files — driver-side file
    metadata only, no Spark job.  0 when the frame has no input files
    (in-memory frames: the small regime); ``_UNSIZED_BYTES`` when any
    file is not a readable local file (s3a/hdfs/... or missing), so an
    unsized source never picks a small-regime plan."""
    from urllib.parse import unquote, urlparse

    total = 0
    for f in df.inputFiles():
        uri = urlparse(f)
        if uri.scheme not in ("", "file"):
            return _UNSIZED_BYTES
        try:
            total += os.path.getsize(unquote(uri.path))
        except OSError:
            return _UNSIZED_BYTES
    return total


_BYTE_UNIT_SHIFT = {"": 0, "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20,
                    "g": 30, "gb": 30, "t": 40, "tb": 40, "p": 50, "pb": 50}


def _byte_string(s: str) -> int:
    """Bytes of a Spark byte-size conf string as ``spark.conf.get``
    returns it (``'10485760b'``, ``'20MB'``, ``'-1'``): integer, optional
    sign, case-insensitive binary unit suffix, bare numbers in bytes —
    the syntax of Spark's ``bytesConf`` parser."""
    m = re.fullmatch(r"(-?\d+)([a-z]*)", s.strip().lower())
    if m is None or m.group(2) not in _BYTE_UNIT_SHIFT:
        raise ValueError(f"not a Spark byte string: {s!r}")
    return int(m.group(1)) << _BYTE_UNIT_SHIFT[m.group(2)]


def _ppjoin_prefix_broadcasts(df: DataFrame) -> bool:
    """Whether the PPJoin prefix table of ``df`` fits the planner's
    broadcast threshold (estimated from source bytes, no job); a
    disabled threshold (``-1``) never broadcasts."""
    thr = _byte_string(
        df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )
    return thr >= 0 and _source_bytes(df) * _PPJOIN_PREF_EXPANSION <= thr


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    prefix_tokens: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs above threshold.

    Candidate generation is an equi self-join on shared shingles (never a
    cross join), over the EXACT prefix-filter bound (AllPairs/PPJoin): in a
    canonical global token order, two sets with J(A,B) >= t must share a
    token within each set's first ``|S| - ceil(t*|S|) + 1`` tokens — so only
    that prefix is exploded (~``(1-t)*|S|`` tokens), the result is still
    exact, and candidate volume drops ~(1-t)^2. ``prefix_tokens`` overrides
    with a fixed-length prefix (heuristic recall) when set.

    The exact path orders tokens by ASCENDING DOCUMENT FREQUENCY (ties by
    hash) — the AllPairs/PPJoin canonical order, not hash order: prefixes
    then hold each set's rarest tokens, so a corpus-hot shingle
    (boilerplate at 100 TB) never lands in any prefix and the candidate
    equi-join's per-key fan-out is bounded by rare-token counts.  The
    prefix theorem needs only SOME shared global total order, so recall
    stays exact.  Two further exact prunes ride the join condition, both
    RELAXED one unit via floor() so float rounding can never over-prune:
    the length filter (J >= t forces t*|A| <= |B| <= |A|/t) and the
    PPJoin positional filter (the globally-first shared token at ranks
    (ra, rb) bounds overlap by 1 + min(|A|-ra, |B|-rb), which must reach
    ceil(t/(1+t)*(|A|+|B|)); the first shared token provably sits in
    both prefixes, so filtering per-occurrence keeps every qualifying
    pair).  Measured at sf0.1/10x: candidates 472k -> 77k / 4.73M ->
    775k (6.1x), which is 6.1x fewer doc-sized shingle arrays through
    the verification joins — the dominant shuffle of the old plan.
    """
    from pyspark import StorageLevel

    # hashed_shingles_df ends in an aggregation whose input exchange is
    # shared (ReusedExchange) by all three consumers below; __shh is in
    # canonical sorted-hash order, so prefixes are slices.
    base = hashed_shingles_df(df, text_col, id_col, n).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    t = float(threshold)
    if prefix_tokens is None:
        # document frequency per shingle: one combinable aggregate over
        # the exploded (distinct-by-construction) token stream
        # set size rides the explode (one column) — cheaper than a second
        # count-over-__id window pass after the rank shuffle
        toks = base.select(
            "__id", F.size("__shh").alias("sz"), F.explode("__shh").alias("tok")
        )
        dfc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("__dfc"))
        w_rank = Window.partitionBy("__id").orderBy("__dfc", "tok")
        ranked = toks.join(dfc, "tok").withColumn(
            "rk", F.row_number().over(w_rank)
        )
        # exact bound: |S| - ceil(t|S|) + 1 rarest tokens per set
        pref = ranked.where(
            F.col("rk")
            <= F.col("sz")
            - F.ceil(F.col("sz") * F.lit(t)).cast("int")
            + F.lit(1)
        ).select("__id", "tok", "rk", "sz")
        # The prefix table is per-doc bounded (~(1-t)|S| rows/doc)
        # and its df-aggregate + rank window is the exact path's
        # hottest subtree; the self-join below re-runs it per side
        # (a Window above a reused exchange re-runs, and the
        # broadcast-built side reuses nothing).  Persist computes
        # the ranking once — the minhash band-table pattern.
        #
        # Whether the cache is HASH-PARTITIONED ON THE JOIN KEY
        # first follows the planner's own broadcast decision for
        # the candidate self-join (r10 verdict item 2):
        # * SMJ regime (prefix table above the broadcast
        #   threshold): InMemoryRelation keeps the cached plan's
        #   output partitioning, so BOTH join sides read the cache
        #   already tok-distributed and insert no exchange (10x
        #   interleaved A/B: shuffle write 394 MB unpartitioned vs
        #   84-131 MB tok-partitioned per full query).  Prefixes
        #   hold each set's RAREST tokens by construction, so the
        #   tok hash key has no hot keys to skew.  repartition(col)
        #   with no explicit N stays AQE-coalescible
        #   (scale-adaptive, not pinned to the local core count).
        # * broadcast regime: the join never uses the cache's
        #   partitioning, so the pre-cache exchange is pure loss —
        #   measured 2.29 s -> 1.06 s per call at sf0.1 (it also
        #   defeats AQE coalescing of the tiny cached exchange).
        # The regime is decided the same way the planner will size
        # the join side — estimated in-memory prefix bytes vs
        # autoBroadcastJoinThreshold — WITHOUT running a job:
        # source parquet bytes (driver-side file metadata) times a
        # measured text->prefix-cache expansion factor.  An eager
        # exact count was measured and rejected: collecting it
        # pre-materializes the sets cache, which costs ~1 s of
        # serial toy-scale wall AND flips every downstream join's
        # size estimate from scan-derived (grows with input, so the
        # planner's broadcasts stay bounded near the 10 MB flip) to
        # actual cache bytes (pure SMJ: measured 472 MB vs 84-131
        # MB shuffle write at 10x for identical output).
        if _ppjoin_prefix_broadcasts(df):
            pref = pref.persist(StorageLevel.MEMORY_AND_DISK)
        else:
            pref = pref.repartition("tok").persist(
                StorageLevel.MEMORY_AND_DISK
            )
        a, b = pref.alias("a"), pref.alias("b")
        length_ok = (
            F.col("b.sz") >= F.floor(F.lit(t) * F.col("a.sz"))
        ) & (F.col("a.sz") >= F.floor(F.lit(t) * F.col("b.sz")))
        pos_ok = F.lit(1) + F.least(
            F.col("a.sz") - F.col("a.rk"), F.col("b.sz") - F.col("b.rk")
        ) >= F.floor(F.lit(t / (1.0 + t)) * (F.col("a.sz") + F.col("b.sz")))
        cand = (
            a.join(
                b,
                (F.col("a.tok") == F.col("b.tok"))
                & (F.col("a.__id") < F.col("b.__id"))
                & length_ok
                & pos_ok,
            )
            .select(
                F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    else:
        pref = base.select(
            "__id",
            F.explode(F.slice("__shh", 1, prefix_tokens)).alias("tok"),
        )
        a, b = pref.alias("a"), pref.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.tok") == F.col("b.tok"))
                & (F.col("a.__id") < F.col("b.__id")),
            )
            .select(
                F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    sh_a = base.select(F.col("__id").alias("id_a"), F.col("__shh").alias("sh_a"))
    sh_b = base.select(F.col("__id").alias("id_b"), F.col("__shh").alias("sh_b"))
    verified = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (
        F.size("sh_a").cast("double") + F.size("sh_b").cast("double") - inter
    )
    return (
        verified.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window: int = 2,
    n: int = 3,
    block_tokens: int = 1,
) -> DataFrame:
    """Sorted-neighborhood method (Hernandez & Stolfo 1995) near-dup
    candidate pairs: sort records within a blocking key, compare each row
    only to its ``window`` successors in sort order, score candidates by
    exact n-gram-shingle Jaccard.

    Output: (id_a, id_b, dist, jaccard) — ``dist`` is the rank gap inside
    the block (1 = adjacent in sort order).

    Scale shape: the sort is PER BLOCK (``block_tokens`` leading normalized
    tokens), never global — a window partitioned by block key, so blocks
    sort independently across executors and candidate volume is exactly
    ``window`` pairs per row.  The classic SNM trade-off applies: dups
    whose sort keys land in different blocks are missed; production runs
    multi-pass with rotated keys and unions the candidate sets.  Skewed
    blocks (one giant key) sort on one executor — at 100 TB pick a blocking
    key with bounded fan-out or salt the block and accept window breaks at
    salt boundaries.
    """
    toks = F.split(normalize_text(text_col), " ")
    # Slim ranking frame: NO shingle arrays here.  Each join side re-plans
    # its subtree, so anything on `ranked` is computed once per side — and
    # the HOF string-shingle builder is the known 15-20x interpreted path
    # (shingle_hash_stream docstring).  Shingle sets instead come from the
    # codegen'd hashed aggregate ONCE, attached to CANDIDATES only (the
    # MinHash verification shape); hashed-set Jaccard equals string-set
    # Jaccard up to 64-bit collisions (~1e-19/pair), so the string-shingle
    # oracle is unchanged.  (Measured 13.9s -> 1.7s at sf0.1.)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.concat_ws(" ", F.slice(toks, 1, block_tokens)).alias("__blk"),
        normalize_text(text_col).alias("__norm"),
    )
    w = Window.partitionBy("__blk").orderBy("__norm", "__id")
    ranked = base.select(
        F.col("__blk").alias("blk"),
        F.col("__id").alias("__rid"),
        F.row_number().over(w).alias("__rn"),
    )
    a = ranked.select(
        "blk", F.col("__rid").alias("id_a"), F.col("__rn").alias("rn_a")
    )
    b = ranked.select(
        "blk", F.col("__rid").alias("id_b"), F.col("__rn").alias("rn_b")
    )
    # Join on the EXACT successor rank, not a rank-gap range: a range
    # predicate is only a residual filter after the blk hash join, so the
    # probe would materialize ALL in-block pairs — O(sum |block|^2), the
    # quadratic SNM exists to avoid.  Exploding each row to its `window`
    # successor ranks makes (blk, rn) a full equi-join key: candidate
    # volume is exactly window * n rows.
    probe = a.select(
        "blk",
        "id_a",
        "rn_a",
        F.explode(array_lit(list(range(1, window + 1)))).alias("__k"),
    ).withColumn("rn_b", F.col("rn_a") + F.col("__k"))
    cand = probe.join(b, on=["blk", "rn_b"])
    sets = hashed_shingles_df(df, text_col, id_col, n)
    sh_a = sets.select(F.col("__id").alias("id_a"), F.col("__shh").alias("sh_a"))
    sh_b = sets.select(F.col("__id").alias("id_b"), F.col("__shh").alias("sh_b"))
    scored = cand.join(sh_a, "id_a").join(sh_b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (
        F.size("sh_a").cast("double") + F.size("sh_b").cast("double") - inter
    )
    return scored.select(
        "id_a",
        "id_b",
        (F.col("rn_b") - F.col("rn_a")).alias("dist"),
        F.round(
            F.when(union > 0, inter / union).otherwise(F.lit(0.0)), 9
        ).alias("jaccard"),
        # asymmetric containment |A∩B|/|A| (resp. /|B|): near 1.0 means
        # that side is (almost) a subset — quote/excerpt duplication the
        # symmetric Jaccard under-scores when lengths differ
        F.size("sh_a").cast("long").alias("size_a"),
        F.size("sh_b").cast("long").alias("size_b"),
        F.round(
            F.when(
                F.size("sh_a") > 0, inter / F.size("sh_a").cast("double")
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("containment_a"),
        F.round(
            F.when(
                F.size("sh_b") > 0, inter / F.size("sh_b").cast("double")
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("containment_b"),
    )


def incremental_exact_dedup(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str,
    id_col: str,
    normalize: bool = False,
) -> DataFrame:
    """Content-new rows from an incoming batch: first-wins dedup WITHIN the
    batch, then a left-anti join against the already-ingested corpus.

    Output: (id, content_hash) — one row per batch-unique, corpus-unseen
    content hash (min id represents).  The standard incremental-ingest
    shape for a training corpus that grows by crawl snapshot: both sides
    shuffle once on the 256-bit hash (uniform by construction), the seen
    side needs only its hash column (column-pruned scan), and no state is
    held on the driver.  At 100 TB the seen side is the hash index table
    you maintain as a by-product of ``exact_dedup``.
    """

    def hashed(df: DataFrame) -> Column:
        content = normalize_text(text_col) if normalize else F.col(text_col)
        return F.sha2(content, 256)

    batch = (
        new_df.select(hashed(new_df).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col))
    )
    seen = seen_df.select(hashed(seen_df).alias("content_hash"))
    return batch.join(seen, "content_hash", "left_anti").select(
        id_col, "content_hash"
    )


def connected_components(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    nodes: DataFrame,
    node_col: str,
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of an undirected graph — dedup cluster
    assignment: every node gets the MIN node id reachable from it.

    Min-label propagation: each round, a node's label becomes the min of
    its own and its neighbors' labels; fixpoint when a round changes
    nothing.  Rounds are pure DataFrame jobs (join + groupBy-min), the
    driver only counts changes — O(graph diameter) rounds, and near-dup
    graphs are shallow (clusters are cliques-ish, diameter 2-3).

    Scale shape: each round shuffles on the node id (uniform). Labels are
    ``localCheckpoint``-ed per round — each round references the previous
    labels three times (neighbor-min join, merge, change count), so keeping
    the full logical lineage would double the plan tree every round and
    choke the driver after ~15 rounds; checkpointing caches the rows AND
    truncates the plan (on a real cluster, prefer a reliable checkpoint
    dir for fault tolerance).  For adversarial deep graphs (chains deeper
    than ``max_iter``) use ``connected_components_star`` — O(log n)
    rounds with the same join primitives.

    Raises ``RuntimeError`` if ``max_iter`` rounds elapse before the
    fixpoint: truncated labels are silently WRONG (a chain of depth
    ``max_iter+1`` would split one component in two), so non-convergence
    must be loud.

    Output: ``(node, component)`` for every node in ``nodes`` (singletons
    keep their own id).  The returned DataFrame is persisted (the final
    round's labels); callers should ``unpersist()`` once consumed.
    """
    # sym is read EVERY round; without staging, the full upstream edge
    # pipeline (e.g. a candidate-pair join feeding dedup clustering)
    # re-executes once per propagation round.  localCheckpoint severs
    # the lineage the same way the per-round labels do.  Both directions
    # come from ONE struct explode, not a union of swapped projections:
    # the union's two branches each re-run the upstream pair pipeline's
    # post-shuffle work (verification joins, array_intersect, filters)
    # during this one materialization — exchange reuse dedupes only the
    # shuffle write below them.
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("__a"),
                        F.col(dst_col).alias("__b"),
                    ),
                    F.struct(
                        F.col(dst_col).alias("__a"),
                        F.col(src_col).alias("__b"),
                    ),
                )
            ).alias("__e")
        )
        .select("__e.__a", "__e.__b")
        .localCheckpoint(eager=True)
    )
    labels = nodes.select(
        F.col(node_col).alias("node"), F.col(node_col).alias("component")
    ).localCheckpoint(eager=True)
    changed = -1
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["__a"] == labels["node"])
            .groupBy("__b")
            .agg(F.min("component").alias("__nbr_min"))
        )
        new_labels = (
            labels.join(nbr_min, labels["node"] == nbr_min["__b"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("__nbr_min", "component")
                ).alias("component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing) — labels would be wrong; "
            "raise max_iter or use connected_components_star (O(log n) "
            "rounds) for deep graphs"
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    nodes: DataFrame,
    node_col: str,
    max_iter: int = 40,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction — O(log n) rounds regardless of graph diameter (the
    adversarial-depth path; ``connected_components`` is O(diameter)).

    Public algorithm (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC 2014):

    - **large-star** (per node u, neighborhood Γ(u)): connect every
      neighbor v > u to m = min(Γ(u) ∪ {u}).
    - **small-star**: connect every neighbor v <= u (and u itself) to
      m = min of that non-larger neighborhood.

    Both rounds are one shuffle each (groupBy node -> min, rejoin to the
    symmetric edge list) over a monotonically shrinking edge set; the edge
    set converges to a star forest whose centers are the component minima.
    Fixpoint detection is an order-insensitive checksum (count +
    xor-of-pair-hashes), one tiny aggregate per round.

    Each round's frame is ``localCheckpoint``-ed: a star round references
    its input several times (symmetrize + min-join), so the logical plan
    would grow geometrically and choke the analyzer after ~6 rounds.
    Checkpointing bounds the plan at one round's depth — on a real cluster
    use ``spark.sparkContext.setCheckpointDir`` + reliable ``checkpoint``
    for fault tolerance instead of the executor-local variant.

    Same output contract as ``connected_components``: ``(node, component)``
    for every node in ``nodes``; persisted, caller unpersists.
    """
    cur = (
        edges.select(F.col(src_col).alias("__a"), F.col(dst_col).alias("__b"))
        .where(F.col("__a") != F.col("__b"))
        .select(
            F.least("__a", "__b").alias("__a"),
            F.greatest("__a", "__b").alias("__b"),
        )
        .dropDuplicates(["__a", "__b"])
        .localCheckpoint(eager=True)
    )

    def checksum(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # xor-fold (order-insensitive, overflow-free under ANSI); the
            # pair set is deduped so xor cancellation cannot occur
            F.coalesce(F.bit_xor(F.xxhash64("__a", "__b")), F.lit(0)).alias(
                "h"
            ),
        ).collect()[0]
        return (row["n"], row["h"])

    def large_star(e: DataFrame) -> DataFrame:
        # per node u: connect every neighbor v > u to m = min(Γ(u) ∪ {u})
        sym = e.select(
            F.col("__a").alias("__u"), F.col("__b").alias("__v")
        ).union(e.select(F.col("__b").alias("__u"), F.col("__a").alias("__v")))
        mins = sym.groupBy("__u").agg(
            F.least(F.min("__v"), F.col("__u")).alias("__m")
        )
        return (
            sym.join(mins, "__u")
            .where(F.col("__v") > F.col("__u"))
            .where(F.col("__v") != F.col("__m"))
            .select(F.col("__m").alias("__a"), F.col("__v").alias("__b"))
            .dropDuplicates(["__a", "__b"])
        )

    def small_star(e: DataFrame) -> DataFrame:
        # key each (canonical a<b) edge by its LARGER endpoint u=b; per u
        # with non-larger neighborhood N: connect N ∪ {u} to m = min(N)
        keyed = e.select(
            F.col("__b").alias("__u"), F.col("__a").alias("__v")
        )
        mins = keyed.groupBy("__u").agg(F.min("__v").alias("__m"))
        nbr = (
            keyed.join(mins, "__u")
            .where(F.col("__v") != F.col("__m"))
            .select(F.col("__m").alias("__a"), F.col("__v").alias("__b"))
        )
        selfe = mins.select(
            F.col("__m").alias("__a"), F.col("__u").alias("__b")
        )
        return nbr.union(selfe).dropDuplicates(["__a", "__b"])

    prev_sum = checksum(cur)
    converged = False
    for _ in range(max_iter):
        nxt = small_star(large_star(cur)).localCheckpoint(eager=True)
        cur_sum = checksum(nxt)
        cur.unpersist()
        cur = nxt
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    if not converged:
        cur.unpersist()
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — pathological input (or max_iter too low for n)"
        )
    # Fixpoint edge set is a star forest (child > center): child -> center.
    mapping = cur.groupBy(F.col("__b").alias("node")).agg(
        F.min("__a").alias("component")
    )
    out = (
        nodes.select(F.col(node_col).alias("node"))
        .join(mapping, "node", "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
        .persist()
    )
    out.count()
    cur.unpersist()
    return out


# ---------------------------------------------------------------------------
# Bloom-filter membership (incremental dedup at corpus scale)
# ---------------------------------------------------------------------------


def bloom_filter_build(
    df: DataFrame, pos_cols: ty.Sequence[Column], m_bits: int
) -> DataFrame:
    """Build a Bloom filter as a tiny (word_idx, word) DataFrame.

    ``pos_cols`` are k precomputed bit positions per row, which MUST lie
    in [0, m_bits) — the contract ``m_bits`` documents; positions are
    derived upstream (the corpus query uses portable sha256 slices so an
    independent engine reproduces the exact filter) and are not
    re-validated here.  The build is one explode + one bit_or aggregate:
    the shuffle moves only set-bit words — at most m_bits/32 rows total
    (32 bits packed per word so strict-overflow engines match),
    regardless of input size.

    Scale shape: this is the anti-join-avoidance play for incremental
    dedup against a 100 TB seen-corpus.  The seen side is scanned ONCE to
    build a filter of m_bits/8 bytes (e.g. 2^30 bits = 128 MiB — one
    broadcast), instead of being shuffled for every incoming batch.
    Probing then touches only the broadcast words; the exact verification
    anti-join runs on the (tiny) surviving candidate set.  False-positive
    rate ~ (set_bits/m)^k; false negatives impossible, so the pre-filter
    never drops a genuinely-new document.
    """
    ex = df.select(F.explode(F.array(*pos_cols)).alias("__pos"))
    # 32 bits per word: shifts never reach the int64 sign bit, so strict-
    # overflow engines (DuckDB mirrors) compute the identical words.
    # shiftleft by a COLUMN amount needs the SQL form (the PySpark helper
    # only takes a literal shift).
    return (
        ex.select(
            F.shiftright("__pos", 5).alias("word_idx"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast((__pos & 31) as int))"
            ).alias("__bit"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("__bit").alias("word"))
    )


def bloom_filter_probe(
    df: DataFrame,
    id_col: str,
    pos_cols: ty.Sequence[Column],
    bloom: DataFrame,
) -> DataFrame:
    """(id, maybe_present): True iff every position's bit is set.

    The filter side broadcasts (bounded by m_bits/32 words); the probe is
    a broadcast left join per exploded position plus a per-id aggregate —
    the incoming batch never shuffles except on its own id (combinable
    map-side, k rows per id).
    """
    k = len(pos_cols)
    ex = df.select(
        F.col(id_col).alias("__id"), F.explode(F.array(*pos_cols)).alias("__pos")
    )
    joined = ex.join(
        F.broadcast(bloom),
        F.shiftright(ex["__pos"], 5) == bloom["word_idx"],
        "left",
    )
    hit = (
        F.expr(
            "shiftright(word, cast((__pos & 31) as int)) & 1"
        )
        == 1
    )
    present = F.when(F.col("word").isNotNull() & hit, 1).otherwise(0)
    return (
        joined.groupBy("__id")
        .agg((F.sum(present) == F.lit(k)).alias("maybe_present"))
        .select(F.col("__id").alias(id_col), "maybe_present")
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (shift-robust chunk-level dedup)
# ---------------------------------------------------------------------------


def cdc_chunk_stream(
    df: DataFrame, text_col: str, id_col: str, divisor: int = 16
) -> DataFrame:
    """(__id, __chunk_idx, __chunk_hash, __n_toks): content-defined chunks.

    Chunk boundaries fall where ``xxhash64(token) % divisor == 0`` — a
    property of the CONTENT, not the position, so inserting a paragraph
    shifts chunk ids but leaves every other chunk's hash unchanged (the
    rsync/LBFS trick).  Whole-document hashing misses such edits; shingle
    near-dup finds them at ~quadratic candidate cost; CDC spots shared
    spans with one groupBy on chunk hash.

    Shape: exploded token stream -> boundary flags -> running-sum window
    (the one shuffle, on doc id) -> per-chunk ordered hash fold.  The
    fold is an F.aggregate over the per-chunk array — interpreted, but
    per CHUNK (~divisor tokens), not per token, and the array is
    materialized first (the `fingerprint_df` re-inline lesson).
    Expected chunk length = ``divisor`` tokens.
    """
    tok = df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(F.split(normalize_text(text_col), " ")).alias(
            "__pos", "__tok"
        ),
    ).select("__id", "__pos", F.xxhash64("__tok").alias("__th"))
    bound = F.when(
        (F.pmod("__th", F.lit(divisor)) == 0) | (F.col("__pos") == 0), 1
    ).otherwise(0)
    w = (
        Window.partitionBy("__id")
        .orderBy("__pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = tok.select(
        "__id", "__pos", "__th", F.sum(bound).over(w).alias("__chunk_idx")
    )
    per_chunk = (
        chunked.groupBy("__id", "__chunk_idx")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("__pos", "__th"))),
                lambda s: s["__th"],
            ).alias("__hs")
        )
        .select(
            "__id",
            "__chunk_idx",
            F.aggregate(
                F.col("__hs"),
                F.lit(0).cast("long"),
                lambda acc, h: F.xxhash64(acc, h),
            ).alias("__chunk_hash"),
            F.size("__hs").alias("__n_toks"),
        )
    )
    return per_chunk

"""Physical-layout operators: bucketing for co-located joins, salting for
skewed keys (SURVEY.md §2.5 scale notes; BASELINE north-star requirements).

These are the two knobs Catalyst cannot infer on its own:

- **Bucketing** pre-shuffles a table once at write time; two tables
  bucketed by the same key into the same bucket count join with ZERO
  exchanges — the repeated-join amortization play for 100 TB fact tables.
- **Salting** splits a pathologically hot key across ``factor`` synthetic
  sub-keys. AQE's skew-join handles moderate skew at runtime; explicit
  salting is for the degenerate case (one key >> one executor's memory)
  and for aggregations, which AQE skew handling does not cover.
"""

from __future__ import annotations

import typing as ty

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from heparchy_spark.functions.literals import array_lit

__all__ = [
    "write_bucketed",
    "bucketed_join_ready",
    "salted_groupby_count",
    "salted_join",
    "equiwidth_bucket",
    "zorder_key",
    "cluster_by_zorder",
    "write_bloom_file_index",
    "bloom_prune_files",
    "read_pruned_by_bloom",
]


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: ty.Sequence[str],
    num_buckets: int = 32,
    sort_cols: ty.Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Joins/aggregations between tables bucketed on the same keys with the
    same bucket count skip their exchanges entirely (verify with
    ``plans.shuffle_count``). Parquet + metastore bucketing spec.
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(
        num_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def bucketed_join_ready(spark, left_table: str, right_table: str, on: str):
    """Read two co-bucketed tables and join on the bucket key — the plan
    must show zero shuffle exchanges (asserted in tests)."""
    lt = spark.table(left_table)
    rt = spark.table(right_table)
    return lt.join(rt, on)


def _salt(df: DataFrame, factor: int, seed: int = 0x5A17) -> Column:
    """Deterministic salt in [0, factor) derived from the full row CONTENT
    (seeded xxhash64 over every column).  Content hashing — never
    ``rand()`` and never ``monotonically_increasing_id()``, which depends
    on partition layout — means a retried/recomputed task re-salts every
    row identically regardless of how AQE re-split the input, so salted
    aggregates cannot double-count under lineage recompute.  Rows of one
    hot key spread across salts because their non-key columns differ
    (fully identical duplicate rows share a salt; they are combinable
    anyway)."""
    return F.pmod(
        F.xxhash64(F.lit(seed), *[F.col(c) for c in df.columns]),
        F.lit(factor),
    )


def _warn_if_unspreadable(df: DataFrame, key: str) -> None:
    # Content salting derives entropy from NON-key columns; a frame that
    # is only the key has nothing to spread identical hot-key rows with.
    if [c.lower() for c in df.columns] == [key.lower()]:
        import warnings

        warnings.warn(
            f"salted operator on a single-column frame ({key!r}): all rows "
            "of a hot key are identical, so the content salt cannot spread "
            "them — include a distinguishing column (id/payload) or rely "
            "on map-side combine. (This check only catches the key-only "
            "frame; salting is equally ineffective whenever every non-key "
            "column is CONSTANT per hot key, e.g. a pre-projected "
            "(key, flag) frame — extra columns help only if they vary "
            "within the hot key.)",
            stacklevel=3,
        )


def salted_groupby_count(
    df: DataFrame, key: str, factor: int = 16
) -> DataFrame:
    """Two-phase count for skewed grouping keys: partial count on
    (key, salt) spreads the hot key over ``factor`` reducers, then a final
    (cheap — ``factor`` rows per key) aggregation merges.

    Spark's hash-aggregate partial combine usually covers this; the salted
    form guards high-cardinality-payload aggs (collect_list/percentile)
    where map-side combine cannot shrink the hot key's data.
    """
    _warn_if_unspreadable(df, key)
    partial = (
        df.withColumn("__salt", _salt(df, factor))
        .groupBy(key, "__salt")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return partial.groupBy(key).agg(F.sum("__c").alias("n"))


def salted_join(
    skewed: DataFrame,
    small: DataFrame,
    on: str,
    factor: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-proof equi join: the skewed side gets a salt in [0, factor);
    the other side is replicated ``factor`` times (explode) so every
    (key, salt) pair finds its match. Use when one key's rows exceed an
    executor (AQE skew-join splits partitions, but a single giant KEY
    still lands in one task without salting).

    The replicated side multiplies ``factor``x — keep it the smaller input.

    Only salt-safe join types are accepted: under right/full-outer, the
    ``factor`` exploded copies of an UNMATCHED small-side row all
    survive, silently duplicating it ``factor`` times in the output.
    """
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti",
                   "semi", "anti", "cross"):
        raise ValueError(
            f"salted_join: join type '{how}' is not salt-safe — unmatched "
            "replicated-side rows would appear factor times; use an "
            "inner/left-family join or salt the other side"
        )
    _warn_if_unspreadable(skewed, on)
    salted_left = skewed.withColumn("__salt", _salt(skewed, factor))
    replicated = small.withColumn(
        "__salt",
        F.explode(array_lit(list(range(factor)))),
    )
    out = salted_left.join(replicated, [on, "__salt"], how)
    return out.drop("__salt")


# ---------------------------------------------------------------------------
# Z-order clustering (multi-column data skipping)
# ---------------------------------------------------------------------------


def equiwidth_bucket(
    col: Column | str, lo: float, hi: float, bits: int
) -> Column:
    """Equi-width bucket id in [0, 2**bits) for a numeric column.

    Plain arithmetic (identical IEEE doubles on every engine, so the
    bucket — and therefore the z-key — is oracle-checkable): values at or
    below ``lo`` map to 0, at or above ``hi`` to 2**bits - 1.  Equi-width
    is one stats pass (min/max); for heavily skewed columns substitute
    equi-depth cut points from ``approxQuantile`` upstream — the
    interleave below is bucket-scheme-agnostic.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = 1 << bits
    if not (float(hi) > float(lo)):
        # Constant (or inverted) range: every value is one bucket.  Without
        # this guard the zero width divides to NaN and the z-key goes null
        # — a silent layout no-op.
        return F.lit(0).cast("long")
    raw = F.floor(
        (c.cast("double") - F.lit(float(lo)))
        / F.lit((float(hi) - float(lo)) / n)
    ).cast("long")
    return F.least(F.greatest(raw, F.lit(0)), F.lit(n - 1))


def zorder_key(bucket_cols: ty.Sequence[Column], bits_per_col: int) -> Column:
    """Morton (Z-order) key: bit-interleave k bucket ids into one long.

    Bit j of column i lands at position ``j * k + i``, so a range of
    z-keys is a k-dimensional bounding box — sorting by the key clusters
    rows that are close in EVERY dimension, which is what makes per-file
    min/max stats selective for predicates on ANY of the columns (single-
    column sort gives skipping on the leading column only).

    Pure shift/mask column algebra — ``bits_per_col * k`` codegen'd terms,
    no UDF.  k * bits_per_col must fit in 63 bits.
    """
    k = len(bucket_cols)
    if k * bits_per_col > 63:
        raise ValueError("zorder_key: k * bits_per_col must be <= 63")
    out = F.lit(0).cast("long")
    for i, c in enumerate(bucket_cols):
        for j in range(bits_per_col):
            out = out + F.shiftleft(
                F.shiftright(c, j).bitwiseAND(F.lit(1).cast("long")),
                j * k + i,
            )
    return out


def cluster_by_zorder(
    df: DataFrame,
    cols: ty.Sequence[str],
    bits_per_col: int = 12,
    num_files: int | None = None,
) -> DataFrame:
    """Re-layout a DataFrame in Z-order over ``cols`` for multi-column
    data skipping: one tiny min/max stats pass, equi-width buckets, Morton
    interleave, then range-repartition + in-partition sort on the key.

    Writing the result gives every file a tight bounding box in all
    ``cols``, so Parquet row-group/file pruning works for predicates on
    any clustered column — the OPTIMIZE ZORDER play, as a plain
    DataFrame-to-DataFrame operator.  Cost at 100 TB: one stats aggregate
    (bytes), one range shuffle of the data (unavoidable — re-layout IS
    data movement), no global sort barrier (sortWithinPartitions).
    """
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{c}") for c in cols],
    ).first()
    if any(stats[f"__lo_{c}"] is None for c in cols):
        # Empty input (or all-null clustered column): nothing to cluster;
        # return unchanged rather than crash building float(None) literals.
        return df
    buckets = [
        equiwidth_bucket(
            c, stats[f"__lo_{c}"], stats[f"__hi_{c}"], bits_per_col
        )
        for c in cols
    ]
    keyed = df.withColumn("__zkey", zorder_key(buckets, bits_per_col))
    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    return (
        keyed.repartitionByRange(parts, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
    )


def hilbert_key(xb: Column, yb: Column, bits: int) -> Column:
    """2-D Hilbert-curve index of two bucket ids in ``[0, 2**bits)``.

    The Hilbert curve is the locality-tighter alternative to the Morton
    key: consecutive key values are ALWAYS grid neighbors (Manhattan
    distance 1 — asserted exhaustively in tests), where Z-order jumps
    across the space at every power-of-two boundary.  Tighter locality
    means tighter per-file bounding boxes for the same file count, i.e.
    better min/max skipping; Delta Lake's OPTIMIZE ships the same choice
    as ``CLUSTER BY`` (liquid clustering) for exactly this reason.

    Standard bit-level construction (rotate/reflect quadrants per level,
    the public xy2d algorithm), expressed as ``F.aggregate`` over the
    literal level array with an (x, y, d) struct accumulator.  The fold
    body references the accumulator several times per level, so an
    unrolled when-chain would balloon the expression tree O(4^bits) and
    OOM the analyzer around bits=10; the runtime fold keeps the tree
    O(bits) — one lambda, ``bits`` iterations per row, JVM-side
    HigherOrderFunction, no UDF.  2*bits must fit a long's key space.
    """
    if not 1 <= bits <= 31:
        raise ValueError("hilbert_key: bits must be in [1, 31]")
    levels = array_lit([1 << i for i in range(bits - 1, -1, -1)]).cast(
        "array<bigint>"
    )
    init = F.struct(
        xb.cast("long").alias("x"),
        yb.cast("long").alias("y"),
        F.lit(0).cast("long").alias("d"),
    )

    def step(acc: Column, s: Column) -> Column:
        x, y, d = acc["x"], acc["y"], acc["d"]
        one = F.lit(1).cast("long")
        zero = F.lit(0).cast("long")
        rx = F.when(x.bitwiseAND(s) > 0, one).otherwise(zero)
        ry = F.when(y.bitwiseAND(s) > 0, one).otherwise(zero)
        nd = d + s * s * (F.lit(3) * rx).bitwiseXOR(ry)
        # Quadrant rotation: ry==1 keeps (x, y); ry==0 swaps, reflecting
        # both axes first when rx==1 (s-1-v == v XOR (s-1) for v in [0,s)).
        nx = F.when(ry == 1, x).when(rx == 1, s - one - y).otherwise(y)
        ny = F.when(ry == 1, y).when(rx == 1, s - one - x).otherwise(x)
        return F.struct(nx.alias("x"), ny.alias("y"), nd.alias("d"))

    return F.aggregate(levels, init, step)["d"]


def hilbert_key_nd(
    bucket_cols: ty.Sequence[Column], bits: int
) -> Column:
    """k-D Hilbert index of k bucket ids in ``[0, 2**bits)`` — Skilling's
    transpose algorithm (J. Skilling, "Programming the Hilbert curve",
    AIP Conf. Proc. 707, 2004; public domain method): undo excess-work
    pass per bit level (high→low), Gray-encode across dimensions, then a
    Morton interleave of the TRANSFORMED coordinates yields the index.

    The per-level pass is an ``F.aggregate`` runtime fold (same reason
    as ``hilbert_key``: the level body references the coordinate state
    several times, so unrolling would grow exponentially in ``bits``);
    the within-level dimension chain is unrolled (k is small), growing
    ~2^k inside ONE lambda — fine for k ≤ ~5.  Orientation differs from
    the 2-D ``hilbert_key`` variant (both are valid Hilbert curves); the
    guarantees — bijectivity and consecutive-keys-are-grid-neighbors —
    are identical and exhaustively asserted in tests.
    """
    n = len(bucket_cols)
    if n < 2:
        raise ValueError("hilbert_key_nd: need at least 2 columns")
    if n * bits > 62:
        raise ValueError("hilbert_key_nd: n * bits must be <= 62")
    levels = array_lit([1 << i for i in range(bits - 1, 0, -1)]).cast(
        "array<bigint>"
    )
    init = F.struct(
        *[c.cast("long").alias(f"x{i}") for i, c in enumerate(bucket_cols)]
    )

    def level_step(acc: Column, q: Column) -> Column:
        p = q - 1
        xs = [acc[f"x{i}"] for i in range(n)]
        for i in range(n):
            hi = xs[i].bitwiseAND(q) > 0
            # if bit set: reflect x0; else swap the low bits of x0 and xi
            t = (xs[0].bitwiseXOR(xs[i])).bitwiseAND(p)
            new_x0 = F.when(hi, xs[0].bitwiseXOR(p)).otherwise(
                xs[0].bitwiseXOR(t)
            )
            new_xi = F.when(hi, xs[i]).otherwise(xs[i].bitwiseXOR(t))
            if i == 0:
                xs[0] = new_x0
            else:
                xs[0], xs[i] = new_x0, new_xi
        return F.struct(*[x.alias(f"x{i}") for i, x in enumerate(xs)])

    state = F.aggregate(levels, init, level_step) if bits > 1 else init

    # Gray-encode across dimensions
    xs = [state[f"x{i}"] for i in range(n)]
    for i in range(1, n):
        xs[i] = xs[i].bitwiseXOR(xs[i - 1])
    # trailing correction: t accumulates Q-1 for each set bit of the last
    # coordinate (another bounded fold, over the same level array)
    t = F.aggregate(
        levels,
        F.lit(0).cast("long"),
        lambda acc, q: F.when(
            xs[-1].bitwiseAND(q) > 0, acc.bitwiseXOR(q - 1)
        ).otherwise(acc),
    )
    xs = [x.bitwiseXOR(t) for x in xs]
    # transpose -> scalar: MSB-first interleave with x0 most significant,
    # i.e. bit j of x_i lands at position j*n + (n-1-i)
    return zorder_key(list(reversed(xs)), bits)


def cluster_by_hilbert(
    df: DataFrame,
    cols: ty.Sequence[str],
    bits_per_col: int = 12,
    num_files: int | None = None,
) -> DataFrame:
    """Re-layout on the Hilbert key — ``cluster_by_zorder`` with the
    curve swapped; same cost shape (one tiny stats pass, one range
    shuffle, in-partition sort, no global sort barrier).  k=2 uses the
    xy2d form, k>2 Skilling's transpose form (``hilbert_key_nd``).
    """
    if len(cols) < 2:
        raise ValueError("cluster_by_hilbert: need at least 2 columns")
    stats = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{c}") for c in cols],
    ).first()
    if any(stats[f"__lo_{c}"] is None for c in cols):
        return df
    buckets = [
        equiwidth_bucket(
            c, stats[f"__lo_{c}"], stats[f"__hi_{c}"], bits_per_col
        )
        for c in cols
    ]
    key = (
        hilbert_key(buckets[0], buckets[1], bits_per_col)
        if len(buckets) == 2
        else hilbert_key_nd(buckets, bits_per_col)
    )
    keyed = df.withColumn("__hkey", key)
    parts = num_files or df.sparkSession.sparkContext.defaultParallelism
    return (
        keyed.repartitionByRange(parts, "__hkey")
        .sortWithinPartitions("__hkey")
        .drop("__hkey")
    )


# ---------------------------------------------------------------------------
# Bloom file index: equality data-skipping beyond min/max footer stats
# ---------------------------------------------------------------------------

_BLOOM_IDX_SUFFIX = "__bloomidx"


def _bloom_positions(col: Column, m_bits: int, k: int) -> list[Column]:
    return [
        F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(m_bits))
        for seed in range(k)
    ]


def write_bloom_file_index(
    df: DataFrame,
    path: str,
    col: str,
    m_bits: int = 1 << 16,
    k: int = 4,
    n_files: int | None = None,
) -> None:
    """Write ``df`` as parquet plus a per-FILE Bloom sidecar on ``col``.

    Z-order/min-max footer stats skip files for RANGE predicates on
    clustered columns; they are useless for equality probes on
    high-cardinality unclustered columns (every file's [min, max]
    spans the probe).  A per-file Bloom filter fills that gap — the same
    skip-index Delta/Iceberg attach per data file.

    The sidecar is built from the data ACTUALLY written: read back with
    the ``_metadata.file_path`` column, hash k positions per value, one
    bit_or aggregate per (file, word) — at most m_bits/64 longs per
    file, independent of row count.  Rebuild cost is one scan of the
    written files; at cluster scale the sidecar rides the same writer
    job per partition.
    """
    spark = df.sparkSession
    out = df if n_files is None else df.repartition(n_files)
    out.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path).select(
        F.col("_metadata.file_path").alias("file_path"),
        F.col(col).alias("__v"),
    )
    ex = back.select(
        "file_path",
        F.explode(F.array(*_bloom_positions(F.col("__v"), m_bits, k))).alias(
            "__pos"
        ),
    )
    sidecar = (
        ex.select(
            "file_path",
            F.shiftright("__pos", 6).alias("word_idx"),
            F.expr(
                "shiftleft(cast(1 as bigint), cast((__pos & 63) as int))"
            ).alias("__bit"),
        )
        .groupBy("file_path", "word_idx")
        .agg(F.bit_or("__bit").alias("word"))
    )
    sidecar.write.mode("overwrite").parquet(path + _BLOOM_IDX_SUFFIX)


def bloom_prune_files(
    spark,
    path: str,
    col: str,
    value,
    m_bits: int = 1 << 16,
    k: int = 4,
) -> tuple[list[str], int]:
    """(candidate_files, total_files): files whose Bloom filter may
    contain ``value`` on the indexed column.  False positives possible,
    false negatives not — pruned files provably lack the value.

    The probe computes the value's k bit positions engine-side (same
    xxhash64 as the build), folds them into per-word masks, and keeps
    files where every needed word has all mask bits set.  The sidecar
    scan is word-rows only; the returned list is bounded by the file
    count — the same driver-side scale as Spark's own file listing.
    """
    idx = spark.read.parquet(path + _BLOOM_IDX_SUFFIX)
    total = idx.select("file_path").distinct().count()
    # xxhash64 hashes the VALUE AS TYPED: a Python int literal arrives as
    # int32 while the indexed column may be bigint, silently hashing
    # different bytes (a guaranteed false NEGATIVE). Cast the probe
    # literal to the indexed column's actual type first.
    col_type = dict(spark.read.parquet(path).dtypes)[col]
    probe_lit = F.lit(value).cast(col_type)
    pos_row = (
        spark.range(1)
        .select(F.array(*_bloom_positions(probe_lit, m_bits, k)).alias("ps"))
        .collect()[0]
    )
    needed: dict[int, int] = {}
    for p in pos_row.ps:
        needed[p >> 6] = needed.get(p >> 6, 0) | (1 << (p & 63))
    cond = None
    for widx, mask in needed.items():
        c = (F.col("word_idx") == widx) & (
            F.col("word").bitwiseAND(F.lit(mask)) == F.lit(mask)
        )
        cond = c if cond is None else (cond | c)
    hits = (
        idx.where(cond)
        .groupBy("file_path")
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") == len(needed))
    )
    files = [r.file_path for r in hits.select("file_path").collect()]
    return files, total


def read_pruned_by_bloom(
    spark,
    path: str,
    col: str,
    value,
    m_bits: int = 1 << 16,
    k: int = 4,
) -> DataFrame:
    """Equality read through the Bloom file index: scan only candidate
    files, then apply the exact predicate.  Empty candidate set returns
    an empty frame with the full schema."""
    files, _ = bloom_prune_files(spark, path, col, value, m_bits, k)
    full = spark.read.parquet(path)
    if not files:
        return full.where(F.lit(False))
    return spark.read.parquet(*files).where(F.col(col) == value)

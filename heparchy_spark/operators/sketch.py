"""Mergeable sketch operators (Count-Min) — [ext] pipeline ops.

Count-Min (Cormode & Muthukrishnan 2005): d rows of w counters; each key
increments counter ``h_i(key) % w`` in every row; the estimate is the MIN
over rows — always an OVERestimate (one-sided error <= 2N/w with
probability 1 - (1/2)^d).  The sketch is a tiny (row_idx, col_idx, cnt)
DataFrame: at most d*w rows regardless of input size, built with one
explode + one count aggregate — the same shuffle shape as the Bloom
filter build (`operators/dedup.py`), and mergeable across batches/streams
by summing counters.

At 100 TB: heavy-hitter detection without carrying the full key
cardinality through a shuffle.  The exact groupBy needs |distinct keys|
state; the sketch needs d*w counters (e.g. 3 x 2^20 = 24 MiB of longs)
and still answers point frequency queries within eN.  Positions derive
from sha256 slices so an independent engine (the DuckDB oracle)
reconstructs the identical sketch.
"""

from __future__ import annotations

import typing as ty

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from heparchy_spark.functions.literals import array_lit
from heparchy_spark.functions.worker import worker_fn

__all__ = [
    "sha_slice_pos",
    "cm_positions",
    "count_min_build",
    "count_min_estimate",
    "hll_registers",
    "hll_estimate",
    "hll_estimate_df",
    "kmv_sketch",
    "kmv_estimate",
    "kmv_jaccard",
    "count_min_join_size",
    "bottomk_sample_quantiles",
]


def sha_slice_pos(hex_col: Column, i: int, modulus: int) -> Column:
    """Position i from a sha256 HEX column: 15-char slice (60 bits,
    always positive) mod ``modulus``.  THE portable hash-position
    primitive — Bloom (`operators/dedup.py`), Count-Min, and their SQL
    oracles all mirror this exact construction; change it in lockstep
    with the committed fixtures or the oracles break."""
    return F.pmod(
        F.conv(F.substring(hex_col, 1 + 15 * i, 15), 16, 10).cast("long"),
        F.lit(modulus),
    )


def cm_positions(key: Column, width: int, depth: int) -> list[Column]:
    """Portable row positions: sha256 hex slices (15 chars = 60 bits each,
    depth <= 4), one column per sketch row."""
    if depth > 4:
        raise ValueError("cm_positions: sha256 provides at most 4 slices")
    h = F.sha2(key.cast("string"), 256)
    return [sha_slice_pos(h, i, width) for i in range(depth)]


def count_min_build(
    df: DataFrame, pos_cols: ty.Sequence[Column], weight: Column | None = None
) -> DataFrame:
    """Build the sketch: (row_idx, col_idx, cnt), at most d*w rows.

    ``weight`` (default 1 per input row) supports weighted frequency.
    One explode (d rows per input row) + one combinable aggregate.
    """
    w8 = weight if weight is not None else F.lit(1).cast("long")
    ex = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row_idx"), p.alias("col_idx")
                    )
                    for i, p in enumerate(pos_cols)
                ]
            )
        ).alias("__rc"),
        w8.alias("__w"),
    )
    return (
        ex.select("__rc.row_idx", "__rc.col_idx", "__w")
        .groupBy("row_idx", "col_idx")
        .agg(F.sum("__w").alias("cnt"))
    )


def count_min_join_size(
    sketch_a: DataFrame, sketch_b: DataFrame, depth: int
) -> DataFrame:
    """Join-size (inner-product) estimate from two Count-Min sketches
    built with the SAME (depth, width, hash): ``min over rows of
    sum_col cntA * cntB`` (Cormode & Muthukrishnan 2005) — the sketch
    algebra a query planner uses to size ``A JOIN B ON key`` without
    touching either table: the dot products read <= depth * width
    counter rows, period.  One-sided error: every row's dot product
    >= the true join size; collisions only ever ADD mass, so the min
    over rows is still an upper bound in expectation with error
    ~ ||a||_1 ||b||_1 / width.

    Exact-integer arithmetic end to end — the oracle replays it
    verbatim."""
    prods = (
        sketch_a.alias("a")
        .join(sketch_b.alias("b"), ["row_idx", "col_idx"])
        .groupBy("row_idx")
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("dot"))
    )
    spine = sketch_a.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("row_idx")
    )
    return spine.join(prods, "row_idx", "left").agg(
        F.min(F.coalesce(F.col("dot"), F.lit(0))).alias("cm_join_size")
    )


def count_min_estimate(
    probes: DataFrame,
    key_col: str,
    pos_cols: ty.Sequence[Column],
    sketch: DataFrame,
) -> DataFrame:
    """(key, cm_est): min-over-rows counter lookup for each probe key.

    The sketch broadcasts (bounded d*w rows); probes explode to d rows,
    join the broadcast, and aggregate min per key — probe cost is
    independent of the sketched corpus size.
    """
    ex = probes.select(
        F.col(key_col).alias("__key"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("row_idx"), p.alias("col_idx"))
                    for i, p in enumerate(pos_cols)
                ]
            )
        ).alias("__rc"),
    ).select("__key", "__rc.row_idx", "__rc.col_idx")
    joined = ex.join(F.broadcast(sketch), ["row_idx", "col_idx"], "left")
    return (
        joined.groupBy("__key")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_est"))
        .select(F.col("__key").alias(key_col), "cm_est")
    )


def hll_registers(
    df: DataFrame,
    key: Column,
    b: int = 12,
    group_cols: ty.Sequence[str] = (),
) -> DataFrame:
    """HyperLogLog register state: (register_idx, max_rank), <= 2^b rows.

    Flajolet et al. 2007: a 60-bit hash splits into a ``b``-bit register
    index and the rest; each register keeps the MAX leading-zero rank
    seen.  This is the mergeable STATE behind approx_count_distinct,
    exposed as a DataFrame so it can be persisted, merged across
    batches/partitions/days (max per register), and diffed — the
    cardinality ledger pattern at 100 TB (exact distinct needs a shuffle
    of every key; the ledger is 2^b rows, mergeable with one max).

    The hash is a sha256 slice (portable — the DuckDB oracle rebuilds
    the registers bit-for-bit); rank = position of the first 1-bit in
    the low 60-b bits, computed with floor(log2) column algebra.
    Estimation (the biased harmonic mean + corrections) is a driver-side
    formality over <= 4096 rows — see tests; the scale-relevant artifact
    is the register state itself.

    ``group_cols`` keys the ledger per group (e.g. per day): <= 2^b rows
    PER GROUP, and any group roll-up (days -> weeks) is again one max —
    the distinct-count cube without ever recounting keys.
    """
    h = F.sha2(key.cast("string"), 256)
    v = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")  # 60 bits
    idx = F.shiftright(v, 60 - b)  # top b bits
    rest = v.bitwiseAND(F.lit((1 << (60 - b)) - 1).cast("long"))
    # rank = leading position of the first 1-bit in the (60-b)-wide rest
    # (rest == 0 -> max rank 60-b+1).  Bit length comes from the binary
    # string representation — exact at any width, unlike floor(log2())
    # which loses integer exactness past double's 53-bit mantissa.
    # (Neither Spark nor DuckDB zero-pads bin() for positive inputs.)
    bitlen = F.when(rest == 0, F.lit(0)).otherwise(F.length(F.bin(rest)))
    rank = (F.lit(60 - b + 1) - bitlen).cast("int")
    gcols = list(group_cols)
    return (
        df.select(*gcols, idx.alias("register_idx"), rank.alias("rank"))
        .groupBy(*gcols, "register_idx")
        .agg(F.max("rank").alias("max_rank"))
    )


def hll_estimate(registers: DataFrame, b: int = 12) -> float:
    """Driver-side cardinality estimate from an UNGROUPED register ledger
    (<= 2^b rows): standard HLL harmonic mean with the small-range
    linear-counting correction.

    Rejects grouped ledgers (e.g. the per-day registers from
    ``hll_registers(..., group_cols=...)``): collapsing them into one
    register dict would silently blend groups — later duplicate
    ``register_idx`` rows overwrite earlier ones and the estimate is
    wrong with no error.  Aggregate a grouped ledger down to one group
    (max_rank per register_idx) before estimating, or estimate per group.
    """
    import math

    extra = set(registers.columns) - {"register_idx", "max_rank"}
    if extra:
        raise ValueError(
            "hll_estimate needs an ungrouped ledger with exactly "
            "(register_idx, max_rank); grouped ledger columns "
            f"{sorted(extra)} would be silently blended — aggregate "
            "max(max_rank) per register_idx first or estimate per group"
        )
    m = 1 << b
    rows = {r["register_idx"]: r["max_rank"] for r in registers.collect()}
    alpha = 0.7213 / (1.0 + 1.079 / m)
    s = 0.0
    zeros = 0
    for i in range(m):
        reg = rows.get(i, 0)
        if reg == 0:
            zeros += 1
        s += 2.0 ** (-reg)
    est = alpha * m * m / s
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)
    return est


def hll_estimate_df(
    registers: DataFrame,
    b: int = 12,
    group_cols: ty.Sequence[str] = (),
) -> DataFrame:
    """Engine-side (per-group) HLL estimate in pure column algebra — the
    distributed complement of driver-side ``hll_estimate``, and the safe
    way to estimate GROUPED ledgers (each group aggregates separately,
    so nothing blends).

    Determinism trick: the harmonic sum Σ 2^-rank is accumulated as the
    INTEGER Σ 2^(rmax-rank) (exact in int64 for b ≥ 10: ≤ 2^b rows of
    ≤ 2^rmax each), order-free, then converted to double with ONE
    division by 2^rmax — so two engines produce bit-identical estimates
    where naive double summation would be partition-order-dependent.
    Absent registers (rank 0) contribute 2^rmax each via the zero count.
    """
    m = 1 << b
    rmax = 60 - b + 1
    alpha_m2 = (0.7213 / (1.0 + 1.079 / m)) * m * m
    g = list(group_cols)
    agg = registers.groupBy(*g).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {rmax} - max_rank)")
        ).alias("__snum"),
    )
    zeros = (F.lit(m) - F.col("__n")).cast("long")
    snum_total = F.col("__snum") + zeros * F.lit(1 << rmax).cast("long")
    s = snum_total.cast("double") / F.lit(float(1 << rmax))
    raw = F.lit(alpha_m2) / s
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(*g, F.round(est, 6).alias("est_distinct"))


def kmv_sketch(
    df: DataFrame,
    key: Column,
    k: int = 64,
    group_cols: ty.Sequence[str] = (),
) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch state:
    the ``k`` smallest distinct 60-bit hash values per group, one row per
    kept hash — (group..., kmv_rank, kmv_h).

    Bar-Yossef et al. 2002 / the Theta-sketch family: bottom-k of a
    uniform hash is a MERGEABLE distinct sketch — union of two sketches =
    bottom-k of their union, so state merges across batches/partitions/
    days with one sort-limit, never recounting keys.  Estimate from the
    kth smallest normalized value: (k-1) / u_k.

    The hash is the portable sha256 slice (``sha_slice_pos`` family), so
    the DuckDB oracle rebuilds the state bit-for-bit.  Shape: one
    map-side-combinable distinct on (group, hash) then a per-group
    window over the surviving distincts; at corpus scale swap the
    distinct for the per-batch bounded pruning ``topk_per_group`` uses —
    the sketch algebra is unchanged.
    """
    gcols = list(group_cols)
    h = F.sha2(key.cast("string"), 256)
    v = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")  # 60 bits
    pairs = df.select(*gcols, v.alias("kmv_h")).dropDuplicates(
        gcols + ["kmv_h"]
    )
    w = Window.partitionBy(*gcols).orderBy("kmv_h")
    return (
        pairs.withColumn("kmv_rank", F.row_number().over(w))
        .where(F.col("kmv_rank") <= k)
        .select(*gcols, "kmv_rank", "kmv_h")
    )


def kmv_estimate(sketch: DataFrame, k: int, group_cols: ty.Sequence[str]) -> DataFrame:
    """Distinct-count estimate per group from KMV state: (k-1)/u_k with
    u_k = kth-smallest hash / 2^60 when the sketch is full, else the
    exact count of kept hashes (fewer than k distinct keys seen)."""
    gcols = list(group_cols)
    agg = sketch.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.max("kmv_h").alias("max_h"),
    )
    full = F.col("n_kept") >= F.lit(k)
    u_k = F.col("max_h").cast("double") / F.lit(float(1 << 60))
    return agg.select(
        *gcols,
        F.round(
            F.when(full, (F.lit(float(k - 1))) / u_k).otherwise(
                F.col("n_kept").cast("double")
            ),
            4,
        ).alias("kmv_est"),
    )


def kmv_jaccard(
    sketch_a: DataFrame, sketch_b: DataFrame, k: int
) -> DataFrame:
    """Theta-sketch-style set resemblance from two KMV sketches
    (Dasgupta et al. 2016 / the Broder bottom-k estimator): take the
    k smallest hashes of the UNION of kept hashes; the fraction of
    those union-minima present in BOTH input sketches estimates
    Jaccard(A, B), and (k'-1)/u_k' estimates |A u B| — so the
    intersection size falls out as J * |A u B| without ever touching
    the raw sets again.

    When the union sketch holds fewer than k hashes the two sets were
    captured WHOLE, and every output (jaccard, union, intersection) is
    exact rather than an estimate.

    Output (one row): (n_union_kept, n_both, jaccard_est, union_est,
    intersection_est).  Deterministic: bottom-k of a fixed hash,
    exact-integer memberships, one rounded division — the oracle
    replays it verbatim.  The union ranking is a single-partition
    window over <= 2k rows (bounded by construction, never data-sized).
    """
    a = sketch_a.select("kmv_h").withColumn("__a", F.lit(1))
    b = sketch_b.select("kmv_h").withColumn("__b", F.lit(1))
    u = a.join(b, "kmv_h", "full").select(
        "kmv_h",
        F.coalesce("__a", F.lit(0)).alias("__a"),
        F.coalesce("__b", F.lit(0)).alias("__b"),
    )
    w = Window.orderBy("kmv_h")
    kept = u.withColumn("__r", F.row_number().over(w)).where(
        F.col("__r") <= k
    )
    agg = kept.agg(
        F.count(F.lit(1)).alias("n_union_kept"),
        F.sum(F.col("__a") * F.col("__b")).cast("long").alias("n_both"),
        F.max("kmv_h").alias("max_h"),
    )
    full = F.col("n_union_kept") >= F.lit(k)
    u_k = F.col("max_h").cast("double") / F.lit(float(1 << 60))
    jac = F.col("n_both").cast("double") / F.col("n_union_kept")
    union_est = F.when(
        full, F.lit(float(k - 1)) / u_k
    ).otherwise(F.col("n_union_kept").cast("double"))
    return agg.select(
        "n_union_kept",
        "n_both",
        F.round(jac, 6).alias("jaccard_est"),
        F.round(union_est, 4).alias("union_est"),
        F.round(jac * union_est, 4).alias("intersection_est"),
    )


def bottomk_sample_quantiles(
    df: DataFrame,
    value_col: str,
    key: Column,
    quantiles: ty.Sequence[int],
    s: int = 256,
    group_cols: ty.Sequence[str] = (),
    batch_prune: bool = False,
) -> DataFrame:
    """Mergeable quantile sketch from a bottom-``s`` HASH sample: keep
    the rows whose portable 60-bit hash of ``key`` ranks among the
    ``s`` smallest per group (ties broken by value), then read each
    requested percentile off the sorted sample.  Output one row per
    (group..., q_pct) with the estimate and the kept sample size.

    The KMV idea applied to quantiles: a bottom-k-by-uniform-hash set
    is a deterministic uniform sample whose MERGE is just bottom-k of
    the union — state composes across partitions/batches/days exactly
    like ``kmv_sketch``, with rank error O(1/sqrt(s)) per quantile
    (Bernoulli-sampling bound).  Unlike GK/KLL, no compaction step
    depends on arrival order, so the sketch is a pure function of the
    row set and a SQL oracle rebuilds it bit-for-bit.

    Estimate rule: value at sample rank ``max(1, ceil(q/100 * n_s))``
    under the (value, hash) total order — an actual data value, no
    interpolation, hence engine-exact.

    Scale shape: the ``row_number() <= s`` filter compiles to Spark's
    two-phase ``WindowGroupLimit`` — a PARTIAL map-side bottom-s prune
    per scan partition (each bounded by ``maxPartitionBytes``) before
    the exchange, then the final per-group limit after it — so a giant
    group never full-sorts and at most ``s x map_partitions`` rows per
    group ever shuffle.  ``tests/test_plans.py`` pins that plan shape.

    ``batch_prune=True`` additionally pre-prunes every Arrow batch to
    its local bottom-s per group in a ``mapInPandas`` stage (the
    ``topk_per_group`` shape; a row in the group's global bottom-s is
    in the bottom-s of every subset containing it, and rows tied on
    the whole (hash, value) sort key are interchangeable, so the prune
    is lossless).  Measured at sf0.1 this is ~3x SLOWER than the pure
    JVM plan — the Arrow transfer of every row through the Python
    worker costs more than the bounded map-side sort it saves — so it
    is OFF by default and exists for engines/configs where
    ``WindowGroupLimit`` is unavailable.
    """
    gcols = list(group_cols)
    h = F.sha2(key.cast("string"), 256)
    v60 = F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    hashed = df.select(
        *gcols, F.col(value_col).alias("__v"), v60.alias("__h")
    )

    if batch_prune:
        prune_schema = hashed.schema

        def _prune(batches: ty.Iterator) -> ty.Iterator:
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                if gcols:
                    yield (
                        pdf.sort_values(["__h", "__v"], kind="mergesort")
                        .groupby(gcols, group_keys=False, sort=False)[
                            list(pdf.columns)
                        ]
                        .head(s)
                    )
                else:
                    yield pdf.sort_values(
                        ["__h", "__v"], kind="mergesort"
                    ).head(s)

        hashed = hashed.mapInPandas(worker_fn(_prune), schema=prune_schema)

    wk = Window.partitionBy(*gcols).orderBy("__h", "__v")
    sample = (
        hashed.withColumn("__hr", F.row_number().over(wk))
        .where(F.col("__hr") <= s)
        .drop("__hr")
    )
    wv = Window.partitionBy(*gcols).orderBy("__v", "__h")
    ranked = sample.withColumn("__vr", F.row_number().over(wv)).withColumn(
        "__ns", F.count(F.lit(1)).over(Window.partitionBy(*gcols))
    )
    # quantile fan-out as a literal-array explode — a pure projection,
    # no join operator in the plan at all
    qarr = array_lit([int(q) for q in quantiles])
    pick = ranked.withColumn("q_pct", F.explode(qarr)).where(
        F.col("__vr")
        == F.greatest(
            F.lit(1),
            F.ceil(F.col("q_pct") * F.col("__ns") / F.lit(100)).cast(
                "int"
            ),
        )
    )
    return pick.select(
        *gcols,
        "q_pct",
        F.col("__v").alias("q_value"),
        F.col("__ns").cast("long").alias("sample_n"),
    )

"""Similarity search over embedding columns — [ext] (SURVEY.md §2.12).

Brute-force cosine top-k is the exact baseline: dot products via
``zip_with`` + ``aggregate`` (JVM, no Python).  The scale path is
random-hyperplane LSH: b sign-bits bucket the vectors; queries probe only
their own bucket (optionally multi-probe neighbors), turning the all-pairs
product into an equi join on bucket id.  Hyperplanes are seeded NumPy,
shipped as ONE 2-D SQL literal (``functions.literals.array_sql``: bits x
dim doubles) and folded bit by bit in one higher-order function, so the
plan stays deterministic and broadcast-free.

The vector helpers (``dot``, ``l2_norm``, ``cosine``, ``hyperplane_bucket``)
take SQL expression text (a column name such as ``"va.__v"``, or literal
text from ``array_sql``) and return SQL text for ``F.expr``/``selectExpr``:
the parser builds the whole tree in one py4j command, where a Column tree
of Python lambdas costs one command per node.  Their lambda variables are
named after the helper (``dot_x``, ``hp_plane``, ...), so an argument must
not be a column of one of those names.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql.functions import arrow_udf

from heparchy_spark.functions.literals import array_sql, sql_ident
from heparchy_spark.functions.worker import map_columns, worker_fn
from heparchy_spark.functions.xxh64 import list_array, matrix
from heparchy_spark.operators.clustering import _dist2_udf, nearest_centroid

__all__ = [
    "dot",
    "l2_norm",
    "cosine",
    "cosine_topk",
    "hyperplane_bucket",
    "lsh_cosine_topk",
    "embedding_near_dup_pairs",
    "train_centroids",
    "ivf_assign",
    "ivf_topk",
    "incremental_ivf_assign",
    "int8_quantize_stats",
    "binary_quantize",
    "hamming_topk",
    "label_centroids",
    "pq_train",
    "pq_encode",
    "pq_adc_topk",
    "semantic_dedup",
    "rrf_fuse",
    "mmr_rerank",
    "random_projection",
    "power_iteration_top_pc",
]


def dot(a: str, b: str) -> str:
    """Dot product of two array<numeric> expressions: a left fold from
    ``0.0D`` of the products cast to double (``zip_with`` pads the shorter
    side with null, so ragged lengths give null)."""
    return (
        f"aggregate(zip_with({a}, {b}, (dot_x, dot_y) -> "
        "CAST(dot_x AS DOUBLE) * CAST(dot_y AS DOUBLE)), "
        "0.0D, (dot_acc, dot_t) -> dot_acc + dot_t)"
    )


def l2_norm(a: str) -> str:
    return (
        f"sqrt(aggregate({a}, 0.0D, (nrm_acc, nrm_v) -> "
        "nrm_acc + CAST(nrm_v AS DOUBLE) * CAST(nrm_v AS DOUBLE)))"
    )


def cosine(a: str, b: str) -> str:
    return f"({dot(a, b)} / ({l2_norm(a)} * {l2_norm(b)}))"


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact top-k rows by cosine similarity to a literal query vector.

    Brute force, but fully distributed: the scan computes one fused
    projection per row and TakeOrdered keeps k per partition.
    """
    q = array_sql([float(v) for v in query_vec])
    return (
        df.selectExpr(
            sql_ident(id_col), f"{cosine(sql_ident(vec_col), q)} AS cosine_sim"
        )
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )


def _hyperplanes(dim: int, bits: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((bits, dim))


def hyperplane_bucket(vec: str, dim: int, bits: int = 12, seed: int = 7) -> str:
    """Random-hyperplane LSH bucket id (long) for a vector expression: bit
    i is ``dot(v, plane_i) > 0``.  One fold over a 2-D literal of the
    planes in reverse, top bit first (``acc * 2 + bit``).  The literal is
    the fold's input, not indexed inside its lambda: Catalyst analyses
    that form faster."""
    planes = array_sql(_hyperplanes(dim, bits, seed)[::-1])
    return (
        f"aggregate({planes}, CAST(0 AS BIGINT), (hp_acc, hp_plane) -> "
        f"hp_acc * 2 + CAST({dot(vec, 'hp_plane')} > 0 AS BIGINT))"
    )


def lsh_cosine_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: DataFrame,
    q_vec_col: str,
    q_id_col: str,
    dim: int,
    k: int = 10,
    bits: int = 8,
    seed: int = 7,
) -> DataFrame:
    """Approximate per-query top-k: bucket both sides, equi-join on bucket,
    rank within query.  Output: (query id, match id, cosine_sim, rk).

    Recall/cost dial: fewer bits -> bigger buckets -> higher recall & cost.
    """
    v, q = sql_ident(vec_col), sql_ident(q_vec_col)
    base = df.selectExpr(
        f"{sql_ident(id_col)} AS match_id",
        f"{v} AS __v",
        f"{hyperplane_bucket(v, dim, bits, seed)} AS __bucket",
    )
    qs = queries.selectExpr(
        f"{sql_ident(q_id_col)} AS query_id",
        f"{q} AS __q",
        f"{hyperplane_bucket(q, dim, bits, seed)} AS __bucket",
    )
    joined = base.join(F.broadcast(qs), "__bucket").selectExpr(
        "query_id", "match_id", f"{cosine('__v', '__q')} AS cosine_sim"
    )
    return joined.selectExpr(
        "*",
        "row_number() OVER (PARTITION BY query_id "
        "ORDER BY cosine_sim DESC, match_id ASC) AS rk",
    ).where(f"rk <= {int(k)}")


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.95,
    *,
    bits: int,
    tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-table LSH candidate
    generation + exact cosine verification.

    Output: (id_a, id_b, cosine_sim) with id_a < id_b, sim >= threshold.
    Approximate in recall only — every emitted pair is exact-verified, so
    precision is 1 by construction.

    Scale shape: per-table the bucket self-join is quadratic in bucket
    occupancy, so ``bits`` must grow with n: about ``log2(n/32)`` keeps
    the expected occupancy near 32 rows.  Recall is tuned independently
    by ``tables``: a pair at angle theta collides per-table with
    ``p = (1 - theta/pi)^bits`` and overall ``1 - (1-p)^tables`` — more
    tables buys recall linearly in candidate volume without touching
    occupancy.  Candidate pairs are distinct-ed (one shuffle on the pair
    key) BEFORE vectors are re-attached, so the verify joins move
    ``O(pairs)`` vectors, not ``O(candidates)``.  Hot buckets (mirror-image
    content) are handled by AQE skew-join; the id tiebreak keeps the join
    triangular.
    """
    vecs = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"))
    sig = df.selectExpr(
        f"{sql_ident(id_col)} AS __id",
        *[
            f"{hyperplane_bucket(sql_ident(vec_col), dim, bits, seed + t)} AS __b{t}"
            for t in range(tables)
        ],
    )
    # (id, table, bucket) stream: one self-join keyed on (table, bucket)
    # covers all tables in a single shuffle.
    tabs = sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("t"), F.col(f"__b{t}").alias("b")
                    )
                    for t in range(tables)
                ]
            )
        ).alias("__tb"),
    ).select("__id", F.col("__tb.t").alias("__t"), F.col("__tb.b").alias("__b"))
    a, b = tabs.alias("a"), tabs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.__t") == F.col("b.__t"))
            & (F.col("a.__b") == F.col("b.__b"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .distinct()
    )
    pairs = (
        cand.join(vecs.alias("va"), F.col("id_a") == F.col("va.__id"))
        .join(vecs.alias("vb"), F.col("id_b") == F.col("vb.__id"))
        .selectExpr("id_a", "id_b", f"{cosine('va.__v', 'vb.__v')} AS cosine_sim")
    )
    return pairs.where(F.col("cosine_sim") >= threshold)


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the ANN scale path beside LSH.
# ---------------------------------------------------------------------------
def _bounded_sample(
    df: DataFrame,
    vec_col: str,
    sample_size: int,
    order_col: str | None,
    hash_order: bool = False,
) -> np.ndarray:
    """Driver-side training sample as a ``(rows, dim)`` float64 matrix,
    deterministic when ``order_col`` is given (orderBy pushes a
    TakeOrdered — per-partition top-n then a single bounded merge, no
    global sort barrier).

    ``hash_order`` orders by ``xxhash64(order_col)`` instead of the raw
    id: still fully deterministic, but the sample SPANS the corpus
    uniformly instead of taking its head — on time-ordered or
    append-grown tables the head is one epoch's distribution, and
    centroids trained on it funnel everything that drifted since into a
    few mega-cells (measured in the r9 10x rehearsal: top cell held 32%
    of vectors, sum n_c^2 12.8x uniform — the quadratic pair blow-up a
    clusterer exists to prevent)."""
    if order_col is None:
        return _collect_matrix(df.select(vec_col).limit(sample_size))
    key = (
        F.xxhash64(F.col(order_col)) if hash_order else F.col(order_col)
    )
    keyed = df.select(F.col(vec_col).alias("__vec"), key.alias("__ord"))
    # Pre-filter before the sort-limit: Spark's ordered limit shuffles
    # each partition's partial top-n into ONE merge task, so the merge
    # reads sample_size * n_partitions rows — 0 bytes on single-file
    # sf0.1 but k*P at scale (measured: the whole 10x shuffle-exponent
    # excess of similarity_pq_recall_at_k, 0 -> 5.3 MB).  One O(1)-state
    # combinable pass (count/min/max) interpolates an order-key cutoff
    # near the sample_size-th value — exact for the two key families
    # this is called with (dense ids, uniform xxhash64) — and
    # `key <= cutoff` is prefix-closed under the sort order (every kept
    # key precedes every dropped key, ties kept), so as long as the
    # EXACT survivor count >= sample_size the filtered top-n is
    # identical to the unfiltered one.  That count is checked, with a
    # widen-once retry and an unfiltered fallback, so a skewed key
    # distribution can cost the optimization but never change the
    # sample.
    stats = keyed.agg(
        F.count(F.lit(1)).alias("__n"),
        F.min("__ord").alias("__lo"),
        F.max("__ord").alias("__hi"),
    ).collect()[0]
    n, lo, hi = stats["__n"] or 0, stats["__lo"], stats["__hi"]
    bounded = keyed
    if n > 4 * sample_size and lo is not None and hi is not None and hi > lo:
        span = int(hi) - int(lo)
        for margin in (4, 32):
            cut = int(lo) + int(span * min(1.0, margin * sample_size / n))
            if cut >= hi:
                break
            filtered = keyed.where(F.col("__ord") <= F.lit(cut))
            if filtered.count() >= sample_size:
                bounded = filtered
                break
    return _collect_matrix(
        bounded.orderBy("__ord").limit(sample_size).select("__vec")
    )


def _collect_matrix(df: DataFrame) -> np.ndarray:
    """The one vector column of ``df``, collected as a float64 matrix."""
    return matrix(df.toArrow().column(0).combine_chunks())


def train_centroids(
    df: DataFrame,
    vec_col: str,
    n_centroids: int = 64,
    sample_size: int = 10_000,
    iters: int = 5,
    seed: int = 7,
    order_col: str | None = None,
    hash_order: bool = False,
) -> np.ndarray:
    """Coarse-quantizer centroids via seeded Lloyd iterations on a bounded
    driver-side sample (the standard IVF training shape: train small,
    assign big). Returns (n_centroids, dim) float64.

    ``order_col`` pins WHICH rows the sample contains: Spark's ``limit``
    on multi-partition input returns an arbitrary subset, so without it
    the k-means trajectory — and any fixture trained from it — is only
    reproducible on single-file sources.  Pass the id column whenever the
    trained codebook must be deterministic.  ``hash_order=True`` samples
    in xxhash64(id) order — still deterministic, but representative of
    the WHOLE corpus rather than its id-order head (see
    ``_bounded_sample``); prefer it whenever the table grows or drifts
    over time and n exceeds ``sample_size``."""
    x = _bounded_sample(df, vec_col, sample_size, order_col, hash_order)
    rng = np.random.RandomState(seed)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        # chunked over rows so driver memory is O(chunk * k * dim), not
        # O(sample * k * dim) — bit-identical to the unchunked broadcast
        # form (same per-row (x-c)^2 expression; committed fixtures were
        # trained with it, so the dot-product expansion is off-limits)
        d2 = np.empty((len(x), len(cents)))
        for i in range(0, len(x), 1024):
            blk = x[i : i + 1024]
            d2[i : i + 1024] = (
                (blk[:, None, :] - cents[None, :, :]) ** 2
            ).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents


def ivf_assign(
    df: DataFrame,
    vec_col: str,
    centroids: np.ndarray,
    nprobe: int = 1,
    out_col: str = "__cent",
) -> DataFrame:
    """Attach nearest-centroid id(s): ``clustering.nearest_centroid``,
    one BLAS matmul per Arrow batch; centroids ride along in the task
    closure (tiny: C x dim doubles). nprobe=1 labels base vectors;
    nprobe>1 emits an array for query-side multi-probing."""
    return df.withColumn(out_col, nearest_centroid(centroids, nprobe)(vec_col))


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: DataFrame,
    q_vec_col: str,
    q_id_col: str,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Approximate per-query top-k via IVF: base vectors live in one
    centroid cell; each query probes its nprobe nearest cells — an equi
    join on cell id replaces the all-pairs product (cost ~ nprobe/C of
    brute force). Output: (query_id, match_id, cosine_sim, rk).
    """
    base = ivf_assign(
        df.select(
            F.col(id_col).alias("match_id"), F.col(vec_col).alias("__v")
        ),
        "__v",
        centroids,
        nprobe=1,
    )
    qs = ivf_assign(
        queries.select(
            F.col(q_id_col).alias("query_id"), F.col(q_vec_col).alias("__q")
        ),
        "__q",
        centroids,
        nprobe=nprobe,
    ).select("query_id", "__q", F.explode("__cent").alias("__cent"))
    joined = base.join(F.broadcast(qs), "__cent").selectExpr(
        "query_id", "match_id", f"{cosine('__v', '__q')} AS cosine_sim"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("match_id")
    )
    return joined.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )


def incremental_ivf_assign(
    new_df: DataFrame,
    seen_df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: np.ndarray,
    threshold: float = 0.95,
) -> DataFrame:
    """Assign a NEW embedding batch against a persisted IVF/k-means
    index WITHOUT retraining, and screen it for near-duplicates of the
    already-ingested corpus — the vector-side twin of
    ``dedup.incremental_minhash_near_dups`` (one row per new vector,
    serving-side ingest shape).

    Output per new id: (id, cluster, dist2, n_cell_seen, best_seen_id,
    best_cosine, is_near_dup) — the assigned cell, round-6 squared L2
    distance to its centroid, how many SEEN vectors share the cell, the
    best same-cell match under (cosine desc, seen id asc), and whether
    that match reaches ``threshold``.  A new vector landing in a cell
    with no seen members still emits a row (n_cell_seen = 0, null
    match, is_near_dup = false) — silence is not evidence of novelty.

    Scale shape: assignment is the broadcast-centroid BLAS matmul of
    ``clustering.nearest_centroid`` (k x dim doubles in the task closure, a
    pure map over the batch scan — no shuffle, no retrain); the
    near-dup screen is the cluster-bounded equi-join (candidates ~
    |batch| * cell occupancy, never |batch| x |corpus|), and seen-seen
    pairs are never generated.  At 100 TB the seen side's (id, cluster)
    assignment is a persisted sidecar written at ingest, bucketed on
    cluster so the probe join co-locates; this function derives it from
    the frame it is given (same results, self-contained API) the way
    the minhash twin does.

    Determinism: assignment/dist2 reuse the grid-rounded kernels of
    ``clustering.kmeans_fit_assign`` (argmin first-match ties, round-6
    dist2); cosine is the sequential zip_with fold rounded to 9 BEFORE
    the max/threshold comparisons, so the plain-NumPy fixture mirror
    replays the whole pipeline bit-for-bit.
    """
    nearest = nearest_centroid(centroids)
    d2 = _dist2_udf(centroids)
    newa = (
        new_df.select(
            F.col(id_col).alias("__nid"),
            F.col(vec_col).cast("array<double>").alias("__nv"),
        )
        .withColumn("cluster", nearest(F.col("__nv")))
        .withColumn("dist2", F.round(d2(F.col("__nv"), F.col("cluster")), 6))
    )
    seena = seen_df.select(
        F.col(id_col).alias("__sid"),
        F.col(vec_col).cast("array<double>").alias("__sv"),
    ).withColumn("cluster", nearest(F.col("__sv")))
    best = (
        newa.join(seena, "cluster")
        .select(
            "__nid",
            "__sid",
            F.round(F.expr(cosine("__nv", "__sv")), 9).alias("__cos"),
        )
        .groupBy("__nid")
        .agg(
            F.count(F.lit(1)).alias("n_cell_seen"),
            # max over (cosine, -seen_id): highest cosine, ties -> the
            # LOWEST seen id, matching the mirror's sort
            F.max(
                F.struct(
                    F.col("__cos").alias("c"),
                    (-F.col("__sid")).alias("negid"),
                )
            ).alias("__b"),
        )
    )
    return (
        newa.select("__nid", "cluster", "dist2")
        .join(best, "__nid", "left")
        .select(
            F.col("__nid").alias(id_col),
            "cluster",
            "dist2",
            F.coalesce("n_cell_seen", F.lit(0)).alias("n_cell_seen"),
            (-F.col("__b.negid")).alias("best_seen_id"),
            F.col("__b.c").alias("best_cosine"),
            F.coalesce(
                F.col("__b.c") >= F.lit(threshold), F.lit(False)
            ).alias("is_near_dup"),
        )
    )


def int8_quantize_stats(
    df: DataFrame, vec_col: str, id_col: str, dim: int
) -> DataFrame:
    """Per-vector int8 scalar-quantization parameters + reconstruction error.

    Output: (id, vmin, vmax, scale, mse) — the affine-quantizer codebook
    (x ≈ vmin + q * scale, q ∈ [0, 255]) and its mean squared error, the
    standard storage-shrink step before ANN serving (4x smaller vectors).

    All arithmetic in double with explicit staging selects: the element
    array and the min/max/scale scalars are materialized as columns BEFORE
    the per-element lambdas reference them, so interpreted HOF evaluation
    reads a column instead of recomputing an array aggregate per element
    (a computed argument is inlined into every lambda call).
    Constant vectors (scale == 0) quantize to q = 0 with zero error.
    """
    staged = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__e"),
    ).select(
        id_col,
        "__e",
        F.array_min("__e").alias("vmin"),
        F.array_max("__e").alias("vmax"),
        ((F.array_max("__e") - F.array_min("__e")) / F.lit(255.0)).alias(
            "scale"
        ),
    )

    def sq_err(x: Column) -> Column:
        q = F.round((x - F.col("vmin")) / F.col("scale"))
        recon = F.col("vmin") + q * F.col("scale")
        return (x - recon) * (x - recon)

    mse = (
        F.aggregate(
            F.col("__e"), F.lit(0.0), lambda acc, x: acc + sq_err(x)
        )
        / F.lit(float(dim))
    )
    # The rounding lives in its OWN projection: aliasing round(vmin) AS
    # "vmin" in the same select whose other expressions reference
    # F.col("vmin") resolves those references to the rounded LATERAL alias
    # (Spark 4 implicit lateral-column-alias resolution), silently feeding
    # rounded inputs into the mse arithmetic.
    exact = staged.select(
        id_col,
        "vmin",
        "vmax",
        "scale",
        F.when(F.col("scale") > 0, mse).otherwise(F.lit(0.0)).alias("mse"),
    )
    return exact.select(
        id_col,
        F.round("vmin", 9).alias("vmin"),
        F.round("vmax", 9).alias("vmax"),
        F.round("scale", 9).alias("scale"),
        F.round("mse", 9).alias("mse"),
    )


def binary_quantize(
    df: DataFrame, vec_col: str, id_col: str, dim: int
) -> DataFrame:
    """1-bit (sign) quantization: each vector becomes ``ceil(dim/64)``
    packed int64 code words — the 32x storage shrink behind
    binary-quantized vector search (Hamming distance then approximates
    angular distance).  Output: (id, code) for dim <= 64, the common
    serving layout (one long per vector).

    Scale shape: a pure per-row fold (zip_with + aggregate) — map-side
    only, stays in the scan projection, zero shuffles at any corpus
    size.  Sign extraction is a float COMPARISON (x >= 0), not
    arithmetic, so codes are bit-identical on every engine — a SQL
    oracle packs the same bits via an exploded SUM of shifted ones.

    For ``dim > 64`` — production embedding sizes (384-4096) — the
    output column is ``codes: array<long>`` with ``ceil(dim/64)``
    words, element ``i`` landing in word ``i div 64`` at bit
    ``i mod 64``; for ``dim <= 64`` it stays the single-long ``code``
    serving layout.  Each word is its own slice+fold, so the multi-word
    path is still a pure scan projection.
    """
    if dim <= 64:
        code = F.expr(
            f"aggregate(zip_with({vec_col}, sequence(0, {dim - 1}),"
            " (x, i) -> CASE WHEN x >= 0 THEN shiftleft(1L, i)"
            " ELSE 0L END), 0L, (acc, v) -> acc + v)"
        )
        return df.select(F.col(id_col), code.alias("code"))
    words = []
    for w in range((dim + 63) // 64):
        width = min(64, dim - w * 64)
        words.append(
            f"aggregate(zip_with(slice({vec_col}, {w * 64 + 1}, {width}),"
            f" sequence(0, {width - 1}),"
            " (x, i) -> CASE WHEN x >= 0 THEN shiftleft(1L, i)"
            " ELSE 0L END), 0L, (acc, v) -> acc + v)"
        )
    codes = F.expr("array(" + ", ".join(words) + ")")
    return df.select(F.col(id_col), codes.alias("codes"))


def hamming_topk(
    codes: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact Hamming top-``k`` over packed binary codes: for every row
    of ``queries`` (query_id, qcode), the ``k`` nearest ``codes``
    (id, code) rows by ``bit_count(code XOR qcode)``, self-pairs
    excluded, ties broken by id — a total order, so the result is a
    pure function of the inputs.

    Scale shape: the query side is bounded by nature (a serving batch),
    so it BROADCASTS and the scan side computes popcount distances
    map-side; only the per-query top-k ranking shuffles, on the query
    key — |Q| * k rows of final state.  This is the rerank-candidate
    generator for binary-quantized ANN; feed the survivors to an exact
    cosine pass for the two-stage pipeline.
    """
    id_col = codes.columns[0]
    pairs = codes.crossJoin(F.broadcast(queries)).where(
        F.col(id_col) != F.col("query_id")
    )
    if "codes" in codes.columns:
        # multi-word layout (dim > 64): sum of per-word popcounts —
        # still a per-row fold, still map-side
        dist = F.expr(
            "aggregate(zip_with(codes, qcodes,"
            " (a, b) -> cast(bit_count(a ^ b) as long)),"
            " 0L, (acc, v) -> acc + v)"
        )
    else:
        dist = F.bit_count(F.col("code").bitwiseXOR(F.col("qcode")))
    d = pairs.select(
        "query_id",
        F.col(id_col),
        dist.alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", id_col)
    return (
        d.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", id_col, "hamming", "rank")
    )


def label_centroids(
    df: DataFrame, emb_col: str, label_col: str
) -> DataFrame:
    """Per-label mean embedding via a grouped-aggregate Arrow UDF — the
    UDAF extension point of the surface (SURVEY.md §2.11).

    Each group's vectors arrive as one Arrow batch; the mean is a single
    NumPy reduction.  The JVM twin (posexplode + per-position avg) is
    algebraically identical and is what the oracle-checked corpus entry
    uses — this UDAF form exists for (a) the extension-point coverage and
    (b) pipelines that already hold NumPy-side per-group logic (class
    prototypes, nearest-centroid classifiers).

    Scale: one shuffle on the label key; groups stream through the Python
    worker in Arrow batches, so executor memory bounds the *batch*, not
    the group count.  Label skew inherits the groupBy partitioning —
    salt + two-phase mean (sum/count) if one label dominates.
    """

    @arrow_udf("array<double>")
    @worker_fn
    def centroid(v: pa.Array) -> list:
        return np.mean(matrix(v), axis=0).tolist()

    return df.groupBy(label_col).agg(
        centroid(F.col(emb_col).cast("array<double>")).alias("centroid")
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    centroids: np.ndarray,
    threshold: float = 0.95,
    rank_window: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then within
    each cluster drop every vector whose cosine similarity to a
    better-ranked cluster member reaches ``threshold``.

    Rank = (distance to own centroid ASC, id ASC) — "keep the most
    central representative", the deterministic parallel form of the
    paper's greedy per-cluster sweep.  Distances are rounded to 9
    decimals BEFORE ranking so the ordering is reproducible across
    engines and runs.

    Returns one row per input vector: (id, cluster, dist_to_centroid,
    kept).  Survivors are ``kept = true``; downstream corpus assembly
    filters on it.

    Scale shape: candidate pairs come from an equi-join on the cluster
    id — the clustering is exactly what makes semantic dedup tractable
    (C clusters of n/C vectors each bound the pair count by n²/C, vs n²
    all-pairs).  Centroids broadcast twice (an Arrow-UDF closure for
    assignment, a tiny literal frame for distances); everything else is
    column algebra inside codegen.

    ``rank_window`` bounds the residual skew failure mode (one
    mega-cluster makes within-cluster pair volume quadratic in its
    occupancy; the r9 10x rehearsal still measured wall exp 1.37 AFTER
    scaling k with n, from cell-occupancy variance alone): each vector
    is compared only against the ``rank_window`` immediately
    better-ranked cluster members, via chunked rank bands that enter
    the JOIN KEY — chunk = (rank-1) // W, x probes chunks {own, own-1}
    — so both candidate volume AND join-buffer work are <= 2·W per
    vector, linear in n at ANY occupancy skew.  EXACT (identical to
    the unbounded sweep) whenever every cell holds <= W+1 vectors;
    beyond that it is the sorted-neighborhood approximation on the
    (centroid distance, id) order — principled for near-dup detection
    because cos >= 0.95 pairs have nearly equal centroid distances, so
    they sit at nearby ranks unless the distance shell itself is
    overfull.  ``None`` keeps the unbounded exact sweep.
    """
    from pyspark.sql import Window

    spark = df.sparkSession
    cents = np.ascontiguousarray(centroids, dtype="float64")
    assigned = ivf_assign(df, vec_col, cents, out_col="cluster")
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cluster int, __cvec array<double>",
    )
    v = F.col(vec_col).cast("array<double>")
    # The pair predicate is a SINGLE raw-dot fold per pair:
    # cos(x, y) >= t  <=>  dot(x, y) >= t * |x| * |y|, so each vector
    # carries its norm as a SCALAR column and no per-element
    # normalization ever runs.  (A transform(v, x -> x / l2_norm(v))
    # unit-vector column would re-run the O(dim) norm aggregate for
    # EVERY element — interpreted HOF lambdas inline captured
    # aggregates, the exact pitfall the dedup pipelines document.)
    base = assigned.join(F.broadcast(cent_df), "cluster").select(
        F.col(id_col).alias("__id"),
        "cluster",
        F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with(v, F.col("__cvec"), lambda x, y: (x - y) * (x - y)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            9,
        ).alias("dist_to_centroid"),
        v.alias("__v"),
        F.expr(l2_norm(f"CAST({sql_ident(vec_col)} AS ARRAY<DOUBLE>)")).alias("__nrm"),
    )
    w = Window.partitionBy("cluster").orderBy(
        F.asc("dist_to_centroid"), F.asc("__id")
    )
    # Persisted: the pair self-join and the final survivor join would
    # otherwise re-run the Arrow-UDF assignment lineage three times.
    # One row per vector (id, cluster, dist, vector, norm) — the same
    # per-doc staging contract as the minhash/simhash aggregates;
    # released below once the materialized result frame is cached.
    ranked = base.withColumn("__ord", F.row_number().over(w)).persist()
    x = ranked.select(
        "cluster",
        F.col("__id").alias("__id_x"),
        F.col("__ord").alias("__ord_x"),
        F.col("__v").alias("__vx"),
        F.col("__nrm").alias("__nx"),
    )
    y = ranked.select(
        "cluster",
        F.col("__id").alias("__id_y"),
        F.col("__ord").alias("__ord_y"),
        F.col("__v").alias("__vy"),
        F.col("__nrm").alias("__ny"),
    )
    raw_dot = F.aggregate(
        F.zip_with(F.col("__vx"), F.col("__vy"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    if rank_window is not None:
        wlen = int(rank_window)
        # rank-band chunks in the JOIN KEY, not a post-join filter: an
        # equi-join on cluster alone would still buffer and emit the
        # mega-cell's full cross product before any band predicate runs
        xch = F.floor((F.col("__ord_x") - F.lit(1)) / F.lit(wlen)).cast(
            "int"
        )
        x = x.withColumn("__chunk", F.explode(F.array(xch, xch - 1)))
        y = y.withColumn(
            "__chunk",
            F.floor((F.col("__ord_y") - F.lit(1)) / F.lit(wlen)).cast("int"),
        )
        cand = x.join(y, ["cluster", "__chunk"]).where(
            (F.col("__ord_y") < F.col("__ord_x"))
            & (F.col("__ord_x") - F.col("__ord_y") <= F.lit(wlen))
        )
    else:
        cand = x.join(y, "cluster").where(
            F.col("__ord_y") < F.col("__ord_x")
        )
    dropped = (
        cand
        .where(
            (F.col("__nx") > 0)
            & (F.col("__ny") > 0)
            & (raw_dot >= F.lit(threshold) * F.col("__nx") * F.col("__ny"))
        )
        .select(F.col("__id_x").alias("__id"))
        .distinct()
    )
    # Materialize the result so ranked's cache can be released here —
    # returning a frame that still depended on it would make the
    # caller-unpersists contract unfulfillable (same shape as pagerank).
    out = (
        ranked.join(
            dropped.withColumn("__hit", F.lit(1)), "__id", "left"
        )
        .select(
            F.col("__id").alias(id_col),
            "cluster",
            "dist_to_centroid",
            F.col("__hit").isNull().alias("kept"),
        )
        .persist()
    )
    out.count()
    ranked.unpersist()
    return out


# ---------------------------------------------------------------------------
# Product quantization (PQ) — compressed ANN via asymmetric distance
# ---------------------------------------------------------------------------


def pq_train(
    df: DataFrame,
    vec_col: str,
    m: int = 8,
    n_codes: int = 16,
    sample_size: int = 10_000,
    iters: int = 4,
    seed: int = 7,
    order_col: str | None = None,
) -> np.ndarray:
    """PQ codebooks: per-subspace seeded Lloyd k-means on a bounded
    driver sample (train small, encode big — same shape as IVF training).

    Returns (m, n_codes, dim//m) float64.  Jegou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011.  ``order_col``
    makes the sample — hence the codebooks — deterministic on
    multi-partition input (see ``train_centroids``).
    """
    x = _bounded_sample(df, vec_col, sample_size, order_col)
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub = dim // m
    rng = np.random.RandomState(seed)
    books = []
    for s in range(m):
        xs = x[:, s * sub : (s + 1) * sub]
        cents = xs[
            rng.choice(len(xs), size=min(n_codes, len(xs)), replace=False)
        ]
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cents)):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(cents)
    return np.stack(books)


def pq_encode(
    df: DataFrame, vec_col: str, codebooks: np.ndarray, out_col: str = "__codes"
) -> DataFrame:
    """Attach the m-byte PQ code (array<int>) per vector — one Arrow
    UDF, one argmin per subspace per Arrow batch.  At 100 TB this
    is the 4-32x storage shrink that makes the candidate scan memory-
    resident; codebooks ride in the task closure (m * n_codes * sub
    doubles)."""
    books = np.ascontiguousarray(codebooks, dtype="float64")
    m, _, sub = books.shape

    @arrow_udf("array<int>")
    @worker_fn
    def encode(v: pa.Array) -> pa.Array:
        x = matrix(v)
        codes = np.empty((len(x), m), dtype="int32")
        for s in range(m):
            xs = x[:, s * sub : (s + 1) * sub]
            d2 = ((xs[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = d2.argmin(axis=1).astype("int32")
        return list_array(codes)

    return df.withColumn(out_col, encode(F.col(vec_col)))


def pq_adc_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    queries: DataFrame,
    q_vec_col: str,
    q_id_col: str,
    codebooks: np.ndarray,
    k: int = 10,
) -> DataFrame:
    """Approximate top-k by PQ asymmetric distance (ADC): each query
    precomputes a (sub_idx, code) -> partial-d2 lookup table; a candidate's
    distance is the sum of m table entries addressed by its code.

    Spark shape: the LUT is a tiny DataFrame (|Q| * m * n_codes rows,
    broadcast); base codes posexplode to m rows and equi-join the LUT; one
    combinable aggregate sums the partials per (query, match).  The fat
    side never moves except its own (query,match) aggregation — no vector
    arithmetic touches the scan.  Queries are the SMALL side by contract
    (collected to build the LUT).

    Partials accumulate in decimal and round to 6dp so the ranking is
    engine-independent (`queries/numeric.py` rationale).  Output:
    (query_id, match_id, adc_d2, rk) — smaller d2 = closer.
    """
    spark = df.sparkSession
    books = np.ascontiguousarray(codebooks, dtype="float64")
    m, n_codes, sub = books.shape
    encoded = pq_encode(
        df.select(F.col(id_col).alias("match_id"), F.col(vec_col).alias("__v")),
        "__v",
        books,
    ).select("match_id", "__codes")
    qrows = queries.select(
        F.col(q_id_col).alias("query_id"), F.col(q_vec_col).alias("__q")
    ).collect()
    lut = []
    for r in qrows:
        q = np.asarray(r["__q"], dtype="float64")
        for s in range(m):
            qs = q[s * sub : (s + 1) * sub]
            d2 = ((books[s] - qs[None, :]) ** 2).sum(axis=1)
            for c in range(n_codes):
                lut.append((r["query_id"], s, c, float(d2[c])))
    lut_df = spark.createDataFrame(
        lut, "query_id long, sub_idx int, code int, part double"
    )
    ex = encoded.select(
        "match_id", F.posexplode("__codes").alias("sub_idx", "code")
    )
    joined = ex.join(F.broadcast(lut_df), ["sub_idx", "code"])
    dist = joined.groupBy("query_id", "match_id").agg(
        F.round(
            F.sum(F.col("part").cast("decimal(38,10)")).cast("double"), 6
        ).alias("adc_d2")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_d2"), F.asc("match_id")
    )
    return dist.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= k
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of
    truncated per-query rankings — the standard lexical+dense hybrid
    retrieval combiner.  Each input carries (query_id, doc_id, rk);
    fused score(d) = sum over arms of 1/(c + rank_arm(d)), missing arms
    contribute nothing.  Returns the top ``k`` per query as
    (query_id, doc_id, rrf_score, rk), ties broken by ascending doc id.

    Scale shape: a union of the (already bounded, <= arms * arm_k per
    query) candidate lists, one combinable per-(query, doc) sum, and a
    bounded per-query window — nothing touches the corpus again.

    Determinism: contributions 1/(c + rk) from integer ranks are exact
    identical doubles on any engine, and with two arms the fused sum is
    order-independent (IEEE addition is commutative; only associativity
    fails, which needs >= 3 addends).  With three or more arms a
    cross-engine oracle should accumulate on a decimal grid instead.
    """
    from functools import reduce

    if not rankings:
        raise ValueError(
            "rrf_fuse needs at least one ranking frame: an empty fusion "
            "has no candidate lists to score"
        )
    contribs = reduce(
        DataFrame.unionByName,
        [
            r.select(
                "query_id",
                "doc_id",
                (
                    F.lit(1.0) / (F.lit(float(c)) + F.col("rk").cast("double"))
                ).alias("__contrib"),
            )
            for r in rankings
        ],
    )
    fused = contribs.groupBy("query_id", "doc_id").agg(
        F.sum("__contrib").alias("__rrf")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("__rrf"), F.asc("doc_id")
    )
    return (
        fused.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id",
            "doc_id",
            F.round("__rrf", 9).alias("rrf_score"),
            "rk",
        )
    )


def mmr_rerank(
    candidates: DataFrame,
    vec_col: str,
    rel_col: str = "relevance",
    query_col: str = "query_id",
    id_col: str = "doc_id",
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell & Goldstein
    1998) of per-query candidate lists: greedily pick the candidate
    maximizing ``lam * relevance - (1 - lam) * max cosine to the
    already-selected set``, k times.  Returns (query_id, doc_id,
    mmr_rank, relevance, mmr_score).

    The greedy sweep is inherently sequential in k, so it runs as
    ``applyInPandas`` over query groups — each group is an
    already-bounded candidate list (the retrieval top-N), never the
    corpus, and queries parallelize freely.  This is the serving-side
    rerank stage of a RAG pipeline: candidate generation (ANN / BM25 /
    RRF) is the distributed part; diversification touches N rows per
    query.

    Determinism contract: pairwise cosines use sequential left-to-right
    float folds (the ``_seq_dot`` convention the ANN fixture mirrors
    pin), scores round to 9, ties break by ascending id — the whole
    trajectory is a pure function of the candidate set.
    """
    import pandas as pd

    # Carry the caller's actual types through: string/int ids or a float
    # relevance column would otherwise fail (or silently coerce) against a
    # hardcoded `long ... double` schema.
    in_types = {f.name: f.dataType.simpleString() for f in candidates.schema}
    out_schema = (
        f"{query_col} {in_types[query_col]}, {id_col} {in_types[id_col]}, "
        f"mmr_rank int, {rel_col} double, mmr_score double"
    )

    def _dot(a, b) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += float(x) * float(y)
        return s

    def _norm(a) -> float:
        s = 0.0
        for x in a:
            s += float(x) * float(x)
        return s**0.5

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = pdf.sort_values(id_col).to_dict("records")
        selected: list[dict] = []
        remaining = list(rows)
        while remaining and len(selected) < k:
            best = None
            best_score = None
            for r in remaining:
                pen = 0.0
                for s in selected:
                    c = _dot(r[vec_col], s[vec_col]) / (
                        _norm(r[vec_col]) * _norm(s[vec_col])
                    )
                    if c > pen:
                        pen = c
                score = round(lam * float(r[rel_col]) - (1.0 - lam) * pen, 9)
                if best is None or score > best_score:
                    best, best_score = r, score
            selected.append(best)
            best["__score"] = best_score
            remaining = [r for r in remaining if r[id_col] != best[id_col]]
        return pd.DataFrame(
            {
                query_col: [r[query_col] for r in selected],
                id_col: [r[id_col] for r in selected],
                "mmr_rank": list(range(1, len(selected) + 1)),
                rel_col: [float(r[rel_col]) for r in selected],
                "mmr_score": [r["__score"] for r in selected],
            }
        )

    return candidates.groupBy(query_col).applyInPandas(worker_fn(greedy), out_schema)


def random_projection(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    out_dim: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Gaussian random projection (Johnson-Lindenstrauss) of a vector
    column to ``out_dim`` dimensions: (id, projection) with each
    component the round-9 dot against a seeded hyperplane.

    The cheap pre-ANN reduction: pairwise distances survive within
    ~(1 +- eps) for out_dim = O(log n / eps^2), so downstream LSH / IVF
    runs on 4x-shorter vectors at the same recall dial.  Planes ship as
    one 2-D literal (out_dim x dim doubles — the ``hyperplane_bucket``
    convention) mapped by one ``transform``, so the projection is a pure
    scan-side map: no shuffle, no broadcast, deterministic under any
    partitioning.  ``||Pv||^2 / out_dim`` is the unbiased estimate of
    ``||v||^2`` (each Gaussian component has variance ``||v||^2``).
    """
    planes = array_sql(_hyperplanes(dim, out_dim, seed))
    dots = dot(sql_ident(vec_col), "rp_plane")
    proj = f"transform({planes}, rp_plane -> round({dots}, 9))"
    return df.selectExpr(sql_ident(id_col), f"{proj} AS projection")


def power_iteration_top_pc(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    iters: int = 4,
) -> DataFrame:
    """Dominant principal direction of a vector column by power
    iteration on the (uncentered) Gram matrix: returns one row per
    dimension (dim_idx 1-based, weight, eigenvalue) with ``weight`` the
    unit top-eigenvector entry and ``eigenvalue`` the final iterate's
    Rayleigh-quotient estimate ``||A^T A x||``.

    This is the embedding-anisotropy diagnostic (the dominant common
    direction retrieval pipelines subtract — Mu & Viswanath 2018,
    "All-but-the-Top"): a large top eigenvalue relative to the trace
    means cosine scores are dominated by one shared component.

    ``A^T A x`` never materializes the Gram matrix: per iteration each
    row contributes ``(v . x) v`` — one scan-side fold against the
    broadcast-literal ``x`` (round-8), then a per-dimension
    decimal-accumulated aggregate over the exploded components (dim
    groups, map-side combinable), a 1-row norm reduction, and a bounded
    ``dim``-row collect carrying the normalized iterate to the next
    literal (the ``logreg_train`` driver-state pattern).  Every float
    op sits on the round-8 grid with decimal accumulation, so the whole
    trajectory replays bit-exact as unrolled SQL CTEs.

    Power iteration converges to +-v; with deterministic arithmetic the
    sign is likewise a pure function of the input and the (uniform)
    start vector.
    """
    from heparchy_spark.queries.numeric import dsum

    spark = df.sparkSession
    x = [round(1.0 / dim**0.5, 8)] * dim
    comp = df.select(
        F.col(id_col).alias("__rid"),
        F.posexplode(vec_col).alias("__i0", "__val"),
    ).select(
        "__rid",
        (F.col("__i0") + 1).alias("__i"),
        F.col("__val").cast("double").alias("__val"),
    )
    nrm_row = None
    for _ in range(iters):
        dots = df.select(
            F.col(id_col).alias("__rid"),
            F.round(F.expr(dot(sql_ident(vec_col), array_sql(x))), 8).alias("__d"),
        )
        y = (
            comp.join(dots, "__rid")
            .groupBy("__i")
            .agg(dsum(F.round(F.col("__val") * F.col("__d"), 8), 8).alias("__y"))
        )
        nrm = y.agg(
            F.round(
                F.sqrt(dsum(F.round(F.col("__y") * F.col("__y"), 8), 8)), 8
            ).alias("__n")
        )
        # One action per iteration: the broadcast-joined __n rides along in
        # the same collect, so the per-iteration join/aggregate subtree is
        # computed exactly once (it would otherwise re-run for a second
        # nrm.collect()).
        rows = (
            y.join(F.broadcast(nrm))
            .select(
                "__i",
                F.round(F.col("__y") / F.col("__n"), 8).alias("__x"),
                "__n",
            )
            .collect()
        )
        nrm_row = rows[0]["__n"]
        xs = {r["__i"]: r["__x"] for r in rows}
        x = [xs[i + 1] for i in range(dim)]
    return spark.createDataFrame(
        [(i + 1, x[i], float(nrm_row)) for i in range(dim)],
        "dim_idx int, weight double, eigenvalue double",
    )


def broadcast_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.99,
) -> DataFrame:
    """Embedding-level eval-set decontamination: every (eval, train) pair
    with cosine >= ``threshold`` — the contaminated training rows a corpus
    release must drop (the embedding twin of the shingle-overlap
    ``decontaminate`` in operators/text.py).

    Output: (eval_id, train_id, cosine_sim), exact — no recall loss.

    Scale shape: the EVAL side is small by nature (benchmarks are 1e3-1e5
    rows), so it is collected once and rides the task closure as a
    normalized matrix (the IVF-centroid pattern) while the 100 TB train
    side streams through ``map_columns`` — a pure map over the scan: zero
    shuffles, zero joins, no candidate-generation recall dial.  Each Arrow
    batch does ONE BLAS matmul against the eval matrix, then only the few
    pairs that clear a 1e-6-loosened matmul screen are re-scored with a
    sequential left-to-right fold — bit-identical to the zip_with/
    aggregate fold the exact-cosine queries use, so the emitted value is
    engine-portable (the matmul's blocked summation is not).
    """
    ev = eval_df.select(
        F.col(id_col).alias("__eid"),
        F.col(vec_col).cast("array<double>").alias("__ev"),
    ).toArrow()
    # id columns keep their INPUT types (string doc ids are as common as
    # longs), not a hardcoded long.
    schema = T.StructType(
        [
            T.StructField("train_id", train.schema[id_col].dataType),
            T.StructField("eval_id", eval_df.schema[id_col].dataType),
            T.StructField("cosine_sim", T.DoubleType()),
        ]
    )
    if not ev.num_rows:
        empty = train.sparkSession.createDataFrame([], schema)
        return empty.select("eval_id", "train_id", "cosine_sim")
    eids = ev.column(0).to_pylist()
    em = matrix(ev.column(1).combine_chunks())
    em_n = em / np.linalg.norm(em, axis=1, keepdims=True)
    evl = [list(map(float, v)) for v in em]

    def scan(tv):
        x = matrix(tv)
        xn = x / np.linalg.norm(x, axis=1, keepdims=True)
        sims = xn @ em_n.T
        ti, ei = np.nonzero(sims >= threshold - 1e-6)
        rows, eval_ids, cos = [], [], []
        for t, e in zip(ti, ei):
            qv = evl[e]
            # sequential fold — the engine-portable dot (see docstring)
            d = 0.0
            nt = 0.0
            nq = 0.0
            for a, b in zip(x[t], qv):
                d += float(a) * float(b)
                nt += float(a) * float(a)
                nq += float(b) * float(b)
            cs = d / (nt**0.5 * nq**0.5)
            if cs >= threshold:
                rows.append(t)
                eval_ids.append(eids[e])
                cos.append(cs)
        return rows, [eval_ids, cos]

    return map_columns(
        train,
        scan,
        schema,
        [f"{sql_ident(id_col)} AS train_id"],
        [f"CAST({sql_ident(vec_col)} AS ARRAY<DOUBLE>)"],
    ).select("eval_id", "train_id", "cosine_sim")

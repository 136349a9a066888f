"""Dataset-assembly operators — [ext] north-star pipeline ops (SURVEY.md
§2.12 family): deterministic splits, stratified sampling, sequence packing.

All randomness is derived from content hashes (sha256 hex prefixes), never
``rand()``: runs are reproducible, re-runs over a grown corpus keep every
previously-assigned row in the same split, and duplicate documents land in
the same split — which is exactly the leakage guarantee a train/test split
needs.  Everything is column algebra + windows; no Python, no driver state.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from heparchy_spark.functions.literals import array_lit

__all__ = [
    "hash_bucket",
    "split_assign",
    "cluster_safe_split",
    "stratified_sample",
    "pack_sequences",
    "mix_sources",
    "shuffle_shards",
    "weighted_sample",
    "contrastive_negatives",
    "dsir_logweights",
    "temperature_sample",
]

#: hex digits of the sha256 prefix used for bucketing (48 bits fits long)
_HEX_DIGITS = 12
_BUCKETS = 10_000


def hash_bucket(col: Column | str, salt: str = "") -> Column:
    """Deterministic bucket in [0, 10000) from a content column.

    sha256 prefix -> integer: uniform, engine-portable (the same expression
    is writable in ANSI SQL), and stable across runs/corpus growth — the
    properties ``rand()`` sampling lacks at pipeline scale.
    """
    c = F.col(col) if isinstance(col, str) else col
    h = F.sha2(F.concat(c, F.lit(salt)), 256)
    return (
        F.conv(F.substring(h, 1, _HEX_DIGITS), 16, 10).cast("long")
        % _BUCKETS
    )


def split_assign(
    df: DataFrame,
    content_col: str,
    weights: dict[str, float],
    salt: str = "split",
) -> DataFrame:
    """Append a ``split`` column assigning each row to a named split with
    the given weights (summing to 1), by content hash bucket.

    Duplicate contents always co-assign (no cross-split leakage); adding
    rows never reassigns existing ones.  Pure per-row projection — no
    shuffle, scales trivially.
    """
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = hash_bucket(content_col, salt)
    expr: Column | None = None
    cum = 0.0
    *head, (last_name, _) = list(weights.items())
    for name, w in head:
        cum += w
        bound = int(round(cum * _BUCKETS))
        arm = (bucket < F.lit(bound), F.lit(name))
        expr = F.when(*arm) if expr is None else expr.when(*arm)
    split = (
        F.lit(last_name) if expr is None else expr.otherwise(F.lit(last_name))
    )
    return df.withColumn("split", split)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    content_col: str,
    id_col: str,
    fraction: float,
) -> DataFrame:
    """Exact-quota per-stratum sample: ``ceil(fraction * |stratum|)`` rows
    from each stratum, chosen by content-hash order.

    Hash order makes the choice deterministic and engine-portable; the id
    tiebreak gives a total order even under duplicate contents.  One
    shuffle on the stratum key; per-stratum quota needs no second pass
    (window count over the same partitioning).  Skewed strata inherit the
    window's partitioning — at 100 TB, pre-split giant strata with a salt
    on the window key if one stratum dominates.
    """
    h = F.sha2(F.col(content_col), 256)
    w = Window.partitionBy(strata_col).orderBy(h, F.col(id_col))
    wc = Window.partitionBy(strata_col)
    rn = F.row_number().over(w)
    quota = F.ceil(F.lit(fraction) * F.count(F.lit(1)).over(wc))
    return (
        df.withColumn("__rn", rn)
        .withColumn("__quota", quota)
        .where(F.col("__rn") <= F.col("__quota"))
        .drop("__rn", "__quota")
    )


def mix_sources(
    df: DataFrame,
    source_col: str,
    content_col: str,
    id_col: str,
    weights_permille: dict[str, int],
    salt: str = "mix",
) -> DataFrame:
    """Downsample to a target source mix (data-mixing for training sets).

    ``weights_permille`` maps source -> integer per-mille target share
    (must sum to 1000).  The output is the LARGEST corpus achievable at
    exactly that mix without upsampling any source:
    ``N* = min_s floor(1000 * n_s / w_s)`` rows total, with
    ``quota_s = floor(w_s * N* / 1000)`` rows per source, chosen by
    content-hash order (deterministic, stable under corpus growth for the
    non-binding sources).  Rows from unlisted sources are dropped.

    Integer weights keep the quota arithmetic engine-portable (no float
    grid effects in the oracle comparison).  Scale shape: per-source counts
    are a tiny aggregate (|sources| rows) broadcast back; the single-row
    ``N*`` reduction is likewise broadcast; the only full-data shuffle is
    the per-source ranking window, which skew-inherits — at 100 TB, a
    dominant source should be pre-bucketed on the hash so the window sorts
    within buckets (the quota rule is order-based, not position-based, so
    any equal-depth refinement preserves the selection).
    """
    if sum(weights_permille.values()) != 1000:
        raise ValueError("mix weights must sum to 1000 per-mille")
    c = F.col(content_col)
    h = F.sha2(F.concat(c, F.lit(salt)), 256)

    # The weight table is driver-known: LEFT-join data counts onto it so
    # a weighted source with ZERO input rows drives N* to 0 (empty, but
    # exactly-mixed output) instead of silently vanishing from the min
    # and yielding a plausible-looking corpus at the wrong mix.
    wtab = df.sparkSession.createDataFrame(
        [(s, int(w)) for s, w in sorted(weights_permille.items())],
        f"{source_col} string, __w int",
    )
    cnt = (
        wtab.join(
            df.groupBy(source_col).agg(F.count(F.lit(1)).alias("__n")),
            source_col,
            "left",
        )
        .withColumn("__n", F.coalesce(F.col("__n"), F.lit(0)))
    )
    nstar = cnt.agg(
        F.min(
            F.floor(F.lit(1000.0) * F.col("__n") / F.col("__w"))
        ).alias("__nstar")
    )
    win = Window.partitionBy(source_col).orderBy(h, F.col(id_col))
    ranked = df.withColumn("__rn", F.row_number().over(win))
    return (
        ranked.join(F.broadcast(cnt.select(source_col, "__w")), source_col)
        .crossJoin(F.broadcast(nstar))
        .where(
            F.col("__rn")
            <= F.floor(F.col("__w") * F.col("__nstar") / F.lit(1000.0))
        )
        .drop("__rn", "__w", "__nstar")
    )


def shuffle_shards(
    df: DataFrame,
    content_col: str,
    id_col: str,
    n_shards: int,
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle + shard assignment for training output.

    Every row gets ``(shard_id, pos)``: shard from a content-hash bucket,
    position from hash order within the shard — a reproducible random
    permutation of the corpus (same salt -> same order), sharded so that no
    global sort is needed.  Emitting per-shard ordered runs is exactly how
    packed training shards are written (one file per shard); a global
    ``row_number`` would serialize on one partition, while per-shard
    windows parallelize across ``n_shards``.

    Output: ``(id, shard_id, pos)`` — join back on id to materialize the
    shuffled corpus, or ``repartition(shard_id).sortWithinPartitions(pos)``
    to write it.
    """
    c = F.col(content_col)
    h = F.sha2(F.concat(c, F.lit(salt)), 256)
    shard = (
        F.conv(F.substring(h, 1, _HEX_DIGITS), 16, 10).cast("long")
        % F.lit(int(n_shards))
    )
    keyed = df.select(
        F.col(id_col),
        shard.alias("shard_id"),
        h.alias("__h"),
    )
    win = Window.partitionBy("shard_id").orderBy("__h", id_col)
    return keyed.select(
        id_col,
        "shard_id",
        F.row_number().over(win).cast("long").alias("pos"),
    )


def pack_sequences(
    df: DataFrame,
    shard_col: str,
    id_col: str,
    length_col: Column | str,
    budget: int,
) -> DataFrame:
    """Assign rows to budget-targeted bins per shard (sequence packing).

    Output: (id, shard, seq_len, bin_id) where ``bin_id`` is the running
    ``floor((cumsum - len)/budget)`` in id order within the shard — the
    streaming-friendly approximation of first-fit packing (each bin holds
    consecutive rows whose lengths sum to ~budget; oversized rows take a
    bin alone).  ``budget`` is a TARGET, not a hard cap: a row is binned
    by where its START offset falls, so a boundary-straddling row lands
    in the earlier bin and a bin can exceed the budget by up to one
    row's length — callers packing to a hard model-context window must
    either truncate the straddler downstream or size ``budget`` to
    ``context - max_len``.  Packing WITHIN shards, not globally: a
    global cumulative sum would serialize on one partition at 100 TB,
    while per-shard windows parallelize across shards and match how
    packed batches are written out (one file per shard).
    """
    length = F.col(length_col) if isinstance(length_col, str) else length_col
    w = (
        Window.partitionBy(shard_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(length).over(w)
    return df.select(
        F.col(id_col),
        F.col(shard_col),
        length.cast("long").alias("seq_len"),
        F.floor(
            (cum - length).cast("double") / F.lit(float(budget))
        ).cast("long").alias("bin_id"),
    )


def weighted_sample(
    df: DataFrame,
    content_col: str,
    weight: Column | str,
    k: int,
    salt: str = "wsample",
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted k-sample without replacement (Efraimidis-Spirakis A-ES),
    with the corpus' content-hash determinism contract in place of RNG.

    Each row gets a uniform ``u`` from its content-hash prefix and the
    sort key ``ln(u)/w`` — the top-k rows by that key are a weighted
    sample where inclusion probability scales with ``w`` (quality
    scores, token counts, source priorities).  Content-derived ``u``
    keeps the A-ES guarantees while staying rerun-stable and
    growth-stable (new rows never reshuffle old keys), like every other
    sampler in this module.

    Scale: per-row projection + ``TakeOrdered`` (k per partition to the
    driver, no global sort).  Keys are rounded to 9 decimals with the id
    as tiebreak so the selection is engine-portable.  Rows with
    non-positive weight are filtered out up front (A-ES requires w > 0;
    under ANSI mode ln(u)/0 would throw rather than produce the -inf the
    pre-ANSI idiom relied on).
    """
    c = F.col(content_col)
    w = F.col(weight) if isinstance(weight, str) else weight
    h48 = F.conv(
        F.substring(F.sha2(F.concat(c, F.lit(salt)), 256), 1, _HEX_DIGITS),
        16,
        10,
    ).cast("long")
    u = (h48.cast("double") + 0.5) / float(1 << (4 * _HEX_DIGITS))
    skey = F.round(F.log(u) / w.cast("double"), 9)
    return (
        df.where(w > 0)
        .select(F.col(id_col), w.alias("weight"), skey.alias("skey"))
        .orderBy(F.desc("skey"), F.asc(id_col))
        .limit(k)
    )


def contrastive_negatives(
    df: DataFrame,
    id_col: str,
    label_col: str,
    k: int = 4,
    n_buckets: int = 16,
    salt: str = "negatives",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for each
    anchor, ``k`` candidates with a DIFFERENT label, drawn from one
    hash-assigned bucket and ranked by a pairwise content hash.

    Scale shape: the naive "any k rows with another label" is an
    all-pairs join.  Instead every row lands in one of ``n_buckets``
    (hash of its id) and each anchor probes exactly ONE bucket (hash of
    the anchor id) — the join is an equi-join on the bucket key with
    fan-out n/B per anchor, and the per-anchor top-k is a bounded
    window.  Selection is pure content-hash (rerun-stable, no RNG
    state); raise ``n_buckets`` to cap fan-out, at the price of a
    smaller candidate pool per anchor (a bucket can run short of
    different-label rows — rows then get fewer than k negatives).
    """
    hb = lambda c: (  # noqa: E731 - sha-prefix bucket, engine-portable
        F.conv(
            F.substring(
                F.sha2(F.concat(c.cast("string"), F.lit(salt)), 256), 1, 12
            ),
            16,
            10,
        ).cast("long")
        % n_buckets
    )
    anchors = df.select(
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("anchor_label"),
        hb(F.col(id_col)).alias("__blk"),
    )
    cands = df.select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("neg_label"),
        hb(F.col(id_col)).alias("__blk"),
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.asc("__rk_hash"), F.asc("neg_id")
    )
    return (
        anchors.join(cands, "__blk")
        .where(F.col("neg_label") != F.col("anchor_label"))
        .withColumn(
            "__rk_hash",
            F.sha2(
                F.concat(
                    F.col("anchor_id").cast("string"),
                    F.lit(":"),
                    F.col("neg_id").cast("string"),
                    F.lit(salt),
                ),
                256,
            ),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("anchor_id", "neg_id", "neg_label", "rk")
    )


def dsir_logweights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target: Column,
    grid: int = 8,
) -> DataFrame:
    """Data Selection via Importance Resampling weights (Xie et al. 2023,
    "DSIR") under unigram bag-of-words language models: per-document log
    importance ``log w(d) = sum over token occurrences of
    ln p_target(tok) - ln p_raw(tok)`` with add-one smoothing over the
    shared corpus vocabulary.  ``target`` is a boolean column marking the
    rows that define the target distribution (e.g. a trusted high-quality
    subset); the raw distribution is the whole input.  Sampling
    proportionally to ``exp(logweight)`` then reshapes the corpus toward
    the target domain — the paper's importance-resampling step, which the
    caller applies with ``weighted_sample``.

    Returns (doc_id, n_toks, dsir_logweight), one row per document with
    at least one token.

    Scale shape: ONE corpus wordcount (map-side combinable counts for
    raw and target together — the target counter rides the same
    aggregate as a conditional sum), a vocabulary-sized log-ratio table
    (joined back token->logratio; broadcast when small, plain equi-join
    otherwise), and one per-doc aggregate over the token stream.  Two
    linear passes, no driver state.  Log-ratios round to ``grid`` and
    accumulate in exact decimal so the per-doc sum is
    aggregation-order-independent (the corpus determinism discipline).
    """
    from heparchy_spark.operators.dedup import normalize_text
    from heparchy_spark.queries.numeric import dsum

    ts = df.select(
        F.col(id_col).alias("__id"),
        target.cast("int").alias("__t"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("__tok"),
    ).where(F.length("__tok") > 0)
    tc = ts.groupBy("__tok").agg(
        F.count(F.lit(1)).alias("__c_raw"),
        F.sum("__t").alias("__c_tgt"),
    )
    tot = tc.agg(
        F.count(F.lit(1)).alias("__v"),
        F.sum("__c_raw").alias("__n_raw"),
        F.sum("__c_tgt").alias("__n_tgt"),
    )
    lr = tc.join(F.broadcast(tot)).select(
        "__tok",
        F.round(
            F.log(
                (F.col("__c_tgt") + 1).cast("double")
                / (F.col("__n_tgt") + F.col("__v")).cast("double")
            )
            - F.log(
                (F.col("__c_raw") + 1).cast("double")
                / (F.col("__n_raw") + F.col("__v")).cast("double")
            ),
            grid,
        ).alias("__logratio"),
    )
    return (
        ts.select("__id", "__tok")
        .join(lr, "__tok")
        .groupBy(F.col("__id").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            dsum(F.col("__logratio"), 6).alias("dsir_logweight"),
        )
    )


def temperature_sample(
    df: DataFrame,
    source_col: str,
    content_col: str,
    id_col: str,
    total: int,
    alpha_pct: int = 50,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-based multilingual/source sampling (the mT5 / XLM-R
    alpha-sampling rule): draw ``total`` rows with per-source quotas
    proportional to ``n_s ** alpha`` — alpha < 1 flattens the source
    distribution so low-resource sources are upweighted relative to
    their raw share without duplicating rows.

    ``alpha_pct`` is an integer percentage (50 -> alpha = 0.5, i.e. the
    square-root rule).  Quotas are ``floor(total * n_s^a / sum n^a)``
    (never exceeding ``n_s``); rows are chosen per source by
    content-hash order — deterministic, engine-portable, stable for
    non-binding sources under corpus growth (the ``mix_sources``
    conventions).  Powers round to the 8-grid and the normalizer
    accumulates in exact decimal so quota arithmetic is
    order-independent cross-engine.

    Scale shape: a |sources|-row count aggregate, the single-row
    normalizer, both broadcast back; the only full-data shuffle is the
    per-source hash-order ranking window (skew note as in
    ``mix_sources``).
    """
    from heparchy_spark.queries.numeric import dsum

    alpha = alpha_pct / 100.0
    cnt = df.groupBy(F.col(source_col).alias("__s")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    pw = cnt.select(
        "__s",
        "__n",
        F.round(F.pow(F.col("__n").cast("double"), F.lit(alpha)), 8).alias(
            "__pw"
        ),
    )
    norm = pw.agg(dsum(F.col("__pw"), 8).alias("__z"))
    quota = pw.join(F.broadcast(norm)).select(
        "__s",
        F.least(
            F.col("__n"),
            F.floor(F.lit(total) * F.col("__pw") / F.col("__z")).cast("long"),
        ).alias("__q"),
    )
    h = F.sha2(F.concat(F.col(content_col), F.lit(salt)), 256)
    w = Window.partitionBy(source_col).orderBy(h.asc(), F.col(id_col).asc())
    ranked = df.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.join(
            F.broadcast(quota),
            F.col(source_col) == F.col("__s"),
        )
        .where(F.col("__rn") <= F.col("__q"))
        .select(F.col(id_col), F.col(source_col))
    )


def kcenter_coreset(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
) -> DataFrame:
    """Greedy k-center coreset (farthest-point sampling, Gonzalez 1985):
    start from the lowest-id vector, then ``k - 1`` times pick the point
    FARTHEST from every chosen center — the classic 2-approximation to
    the k-center cover and the standard diversity-maximizing subset
    selector for training-data curation (pick prototypes, not near-dups).

    Output: ``(center_rank, vec_id, sep_dist2)`` — selection order, the
    chosen id, and the squared-L2 covering radius at selection time
    (0.0 for the seed; the rank-r value is the corpus' distance to its
    nearest center AFTER r-1 centers, so the column traces the coverage
    curve).

    Determinism: distances are per-element double subtract/square folds
    summed left-to-right and rounded to 8 BEFORE every min/argmax
    comparison; ties break to the lower id.  The whole trajectory is a
    pure function of the vectors, replayed by an unrolled-CTE oracle.

    Scale shape: the running min-distance column rides an iterative
    frame (the HITS lazy-checkpoint pattern), so each round costs ONE
    scan folding only the NEW center (O(k) passes total, not O(k^2))
    plus a WindowGroupLimit-style global argmax; driver state is k rows
    of (id, vector) — nothing else leaves the executors.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).localCheckpoint(eager=True)

    def d2_to(center_vec: list[float]) -> F.Column:
        lit = array_lit([float(x) for x in center_vec])
        return F.round(
            F.aggregate(
                F.zip_with(
                    F.col("__v"),
                    lit,
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
            8,
        )

    first = base.orderBy("__id").limit(1).collect()
    if not first:
        return df.sparkSession.createDataFrame(
            [], "center_rank long, vec_id long, sep_dist2 double"
        )
    out_rows = [(1, first[0]["__id"], 0.0)]
    mind = base.select(
        "__id", "__v", d2_to(first[0]["__v"]).alias("__mind")
    ).localCheckpoint(eager=False)
    for rank in range(2, k + 1):
        top = (
            mind.where(~F.col("__id").isin([r[1] for r in out_rows]))
            .orderBy(F.desc("__mind"), F.asc("__id"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        row = top[0]
        out_rows.append((rank, row["__id"], float(row["__mind"])))
        mind = mind.select(
            "__id",
            "__v",
            F.least(F.col("__mind"), d2_to(row["__v"])).alias("__mind"),
        ).localCheckpoint(eager=False)
    return df.sparkSession.createDataFrame(
        out_rows, "center_rank long, vec_id long, sep_dist2 double"
    )


def cluster_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    weights: dict[str, float],
    salt: str = "csplit",
    max_iter: int = 25,
) -> DataFrame:
    """Near-duplicate-leakage-safe train/val/test assignment: (id,
    component, split) where ``component`` is the connected-component
    label of the near-dup pair graph and the split buckets on the
    COMPONENT, so an entire dup cluster always co-assigns.

    :func:`split_assign` already co-assigns EXACT duplicates (it hashes
    the content); near-duplicates — one edited sentence apart — still
    straddle splits there and leak eval answers into training.  This is
    the assignment-side fix for what ``dataset_split_leakage`` only
    detects: feed it the banded near-dup pairs (minhash / n-gram
    Jaccard / simhash — any of ``operators/dedup.py``'s candidate
    generators) and the cluster, not the document, is the unit of
    randomization.

    Scale shape: components via min-label propagation (O(diameter)
    rounds, shallow for near-dup cliques; each round one uniform
    node-id shuffle, lineage checkpoint-truncated), then a pure per-row
    projection — the sha256-prefix bucket of the component label under
    the same engine-portable formula as :func:`hash_bucket`.  Adding
    documents never reassigns an existing cluster unless an edge merges
    two clusters (in which case co-assignment REQUIRES the move).
    """
    from heparchy_spark.operators.dedup import connected_components

    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1, got {total}")
    comp = connected_components(
        pairs, "id_a", "id_b", df.select(id_col), id_col, max_iter=max_iter
    )
    bucket = hash_bucket(F.col("component").cast("string"), salt)
    expr: Column | None = None
    cum = 0.0
    *head, (last_name, _) = list(weights.items())
    for name, w in head:
        cum += w
        bound = int(round(cum * _BUCKETS))
        arm = (bucket < F.lit(bound), F.lit(name))
        expr = F.when(*arm) if expr is None else expr.when(*arm)
    split = (
        F.lit(last_name) if expr is None else expr.otherwise(F.lit(last_name))
    )
    return comp.select(
        F.col("node").alias(id_col), "component", split.alias("split")
    )

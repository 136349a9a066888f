"""Similarity-search operator tests: exact cosine ground truth, LSH and IVF
recall against brute force at sf0.001."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from heparchy_spark.functions.literals import array_sql
from heparchy_spark.operators.similarity import (
    cosine,
    cosine_topk,
    ivf_topk,
    train_centroids,
)
from heparchy_spark.queries.tables import load

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return load(spark, SF_DIR, "embeddings")


def _brute_topk(emb_pdf, qvec, k=10):
    X = np.stack(emb_pdf["embedding"].to_numpy()).astype("float64")
    q = np.asarray(qvec, dtype="float64")
    sims = (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
    order = np.lexsort((emb_pdf["vec_id"].to_numpy(), -sims))
    return [int(emb_pdf["vec_id"].iloc[i]) for i in order[:k]]


def test_cosine_topk_matches_numpy(spark, emb):
    pdf = emb.select("vec_id", "embedding").toPandas()
    qvec = list(pdf[pdf.vec_id == 0]["embedding"].iloc[0])
    got = [
        r["vec_id"]
        for r in cosine_topk(emb, "embedding", "vec_id", qvec, k=10).collect()
    ]
    assert got == _brute_topk(pdf, qvec, 10)


def test_cosine_column_matches_numpy(spark, emb):
    pdf = emb.select("vec_id", "embedding").toPandas()
    qvec = list(pdf[pdf.vec_id == 3]["embedding"].iloc[0])
    q = array_sql([float(v) for v in qvec])
    got = {
        r["vec_id"]: r["c"]
        for r in emb.select(
            "vec_id", F.expr(cosine("embedding", q)).alias("c")
        ).collect()
    }
    X = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    qv = np.asarray(qvec, dtype="float64")
    want = (X @ qv) / (np.linalg.norm(X, axis=1) * np.linalg.norm(qv))
    for vid, w in zip(pdf["vec_id"], want):
        assert got[int(vid)] == pytest.approx(w, rel=1e-9)


def test_ivf_topk_recall(spark, emb):
    """IVF with nprobe=2 over 8 cells must recover most of the exact top-10
    (embeddings are clustered by construction)."""
    cents = train_centroids(
        emb, "embedding", n_centroids=8, sample_size=500, iters=4, seed=7
    )
    assert cents.shape[0] == 8
    queries = emb.where(F.col("vec_id") < 3)
    got = ivf_topk(
        emb, "embedding", "vec_id", queries, "embedding", "vec_id",
        cents, k=10, nprobe=2,
    ).collect()
    pdf = emb.select("vec_id", "embedding").toPandas()
    recalls = []
    for qid in (0, 1, 2):
        qvec = list(pdf[pdf.vec_id == qid]["embedding"].iloc[0])
        exact = set(_brute_topk(pdf, qvec, 10))
        approx = {r["match_id"] for r in got if r["query_id"] == qid}
        recalls.append(len(exact & approx) / 10)
    assert sum(recalls) / len(recalls) >= 0.6


def test_ivf_deterministic(spark, emb):
    c1 = train_centroids(emb, "embedding", n_centroids=8, sample_size=500, seed=7)
    c2 = train_centroids(emb, "embedding", n_centroids=8, sample_size=500, seed=7)
    np.testing.assert_array_equal(c1, c2)


def test_label_centroids_udaf_matches_jvm(spark):
    """Grouped-agg pandas UDF centroid == posexplode + avg (JVM twin)."""
    from heparchy_spark.operators.similarity import label_centroids

    emb = spark.createDataFrame(
        [
            (1, [1.0, 2.0], 0),
            (2, [3.0, 4.0], 0),
            (3, [10.0, 20.0], 1),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    udaf = {
        r["label"]: r["centroid"]
        for r in label_centroids(emb, "embedding", "label").collect()
    }
    jvm = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg("v").alias("m"))
        .collect()
    )
    expect: dict[int, dict[int, float]] = {}
    for r in jvm:
        expect.setdefault(r["label"], {})[r["pos"]] = r["m"]
    for label, cent in udaf.items():
        for pos, v in enumerate(cent):
            assert abs(v - expect[label][pos]) < 1e-12
    assert udaf[0] == [2.0, 3.0] and udaf[1] == [10.0, 20.0]


def test_pq_adc_topk_recall_and_determinism(spark, emb):
    """PQ-ADC top-10 must recover most of the exact top-10 (8x16 codebooks
    over 64-dim clustered embeddings), and re-running must be identical
    (seeded training, decimal-summed distances)."""
    from heparchy_spark.operators.similarity import pq_adc_topk, pq_train

    books = pq_train(
        emb, "embedding", m=8, n_codes=32, sample_size=500, iters=4, seed=7
    )
    assert books.shape == (8, 32, 8)
    queries = emb.where(F.col("vec_id") < 3)

    def run():
        return pq_adc_topk(
            emb, "embedding", "vec_id", queries, "embedding", "vec_id",
            books, k=10,
        ).collect()

    got = run()
    # PQ-ADC approximates EUCLIDEAN NN (the embeddings are not
    # normalized, so L2 and cosine rank differently) — recall is
    # measured against the exact L2 top-10.
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    recalls = []
    for qid in (0, 1, 2):
        q = x[ids == qid][0]
        d2 = ((x - q[None, :]) ** 2).sum(axis=1)
        exact = set(ids[np.argsort(d2)[:10]].tolist())
        approx = {r["match_id"] for r in got if r["query_id"] == qid}
        recalls.append(len(exact & approx) / 10)
    # A pure-NumPy ADC reference on this data scores the same [0.3,0.3,0.5]
    # (8x32 codebooks blur within-cluster fine ranks — inherent PQ loss,
    # not an operator bug); random top-10 of 500 would score 0.02.
    assert sum(recalls) / len(recalls) >= 0.3, recalls
    again = run()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))


def test_semantic_dedup_drops_planted_keeps_originals(spark, emb):
    """SemDeDup on the planted augmentation: every planted near-dup ranks
    behind its (more central or lower-id) original and is dropped; every
    original survives; output covers the full augmented set exactly once."""
    from heparchy_spark.queries import REGISTRY, _load_all

    _load_all()
    out = REGISTRY["similarity_semantic_dedup"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_id = {r.vec_id: r for r in out}
    planted = [r for r in out if r.vec_id >= 1_000_000]
    assert len(planted) == 25
    assert all(not r.kept for r in planted)
    # each planted dup landed in its original's cluster (0.05% perturbation)
    for r in planted:
        assert by_id[r.vec_id - 1_000_000].cluster == r.cluster
    originals = [r for r in out if r.vec_id < 1_000_000]
    assert all(r.kept for r in originals)
    assert len(out) == len({r.vec_id for r in out})


def test_semantic_dedup_no_duplicate_rows_under_ties(spark):
    """Three mutually-identical vectors in one cluster: exactly one
    survivor (the lowest id at equal distance), and the dropped set is
    emitted once per vector even though each matches TWO predecessors."""
    from heparchy_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cents = np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    out = semantic_dedup(df, "v", "vec_id", cents, threshold=0.95).collect()
    assert len(out) == 4
    kept = {r.vec_id: r.kept for r in out}
    assert kept == {0: True, 1: False, 2: False, 3: True}


def test_semantic_dedup_rank_window_bounds_candidates(spark):
    """rank_window semantics: (a) EXACT — identical kept-set to the
    unbounded sweep — when every cell holds <= W+1 vectors; (b) in an
    oversized cell, a dup within W ranks of its original is still
    dropped (including across the chunk boundary, the case a
    chunk-local join would miss); (c) a pair separated by more than W
    ranks is deliberately NOT compared (the documented bound)."""
    from heparchy_spark.operators.similarity import semantic_dedup

    # one cluster direction; 8 vectors at increasing distance-rank:
    # ids 0..5 mutually dissimilar (orthogonal-ish tails), id 6 a
    # near-copy of id 5 (adjacent rank), id 7 a near-copy of id 0
    # (separated by 7 ranks)
    def vec(i, eps):
        # base direction + a distinct tail component per i scaled to
        # keep cosine similarity below 0.95 between distinct i
        v = [1.0] + [0.0] * 8
        v[1 + i] = 0.5
        return [x + eps for x in v]

    rows = [(i, vec(i, 0.0)) for i in range(6)]
    rows.append((6, vec(5, 1e-6)))  # near-dup of rank-neighbor
    rows.append((7, vec(0, 1e-6)))  # near-dup of the rank-0 vector
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cents = np.array([[1.0] + [0.0] * 8])

    unbounded = {
        r.vec_id: r.kept
        for r in semantic_dedup(df, "v", "vec_id", cents, 0.95).collect()
    }
    wide = {
        r.vec_id: r.kept
        for r in semantic_dedup(
            df, "v", "vec_id", cents, 0.95, rank_window=16
        ).collect()
    }
    # W >= cell size: bit-identical to the unbounded sweep
    assert wide == unbounded
    assert unbounded[6] is False and unbounded[7] is False

    ranks = {
        r.vec_id: r.dist_to_centroid
        for r in semantic_dedup(df, "v", "vec_id", cents, 0.95).collect()
    }
    # sanity: the planted dups sit adjacent to their originals by dist
    assert abs(ranks[6] - ranks[5]) < 1e-3 and abs(ranks[7] - ranks[0]) < 1e-3

    narrow = {
        r.vec_id: r.kept
        for r in semantic_dedup(
            df, "v", "vec_id", cents, 0.95, rank_window=2
        ).collect()
    }
    # the adjacent-rank dup is still caught at W=2; whether id 7 is
    # caught depends on its rank distance to id 0 — compute it
    order = sorted(ranks.items(), key=lambda kv: (round(kv[1], 9), kv[0]))
    pos = {vid: i for i, (vid, _) in enumerate(order)}
    assert narrow[6] is False
    if pos[7] - pos[0] > 2:
        assert narrow[7] is True  # outside the band: documented miss
    else:
        assert narrow[7] is False


def test_rrf_fuse_two_arms(spark):
    """RRF: a doc ranked by both arms outscores a doc ranked first by
    one arm only when the rank sum dominates; singleton docs contribute
    one term; c=60 standard constant; ties break by doc id."""
    from heparchy_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)],
        "query_id long, doc_id long, rk int",
    )
    dense = spark.createDataFrame(
        [(0, 11, 1), (0, 12, 2), (0, 13, 3)],
        "query_id long, doc_id long, rk int",
    )
    out = {r.doc_id: r for r in rrf_fuse([lex, dense], k=10).collect()}
    # doc 11: 1/62 + 1/61; doc 12: 1/63 + 1/62; doc 10: 1/61; doc 13: 1/63
    assert out[11].rk == 1 and out[12].rk == 2
    assert round(1 / 62 + 1 / 61, 9) == out[11].rrf_score
    assert round(1 / 61, 9) == out[10].rrf_score
    # bounded output: k truncates
    top1 = rrf_fuse([lex, dense], k=1).collect()
    assert len(top1) == 1 and top1[0].doc_id == 11


def test_bm25_exclude_and_exact_scores(spark):
    """bm25_topk: exclude drops (query, doc) pairs BEFORE ranking (ranks
    close up), and exact_scores changes only the accumulation grid, not
    the ranking of well-separated scores."""
    from heparchy_spark.operators.text import bm25_topk

    docs = spark.createDataFrame(
        [
            (0, "spark join window"),
            (1, "spark spark spark join"),
            (2, "window sort merge"),
            (3, "spark other words here"),
        ],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(0, "spark"), (0, "join")], "query_id long, term string"
    )
    base = bm25_topk(docs, "text", "doc_id", q, k=4)
    assert [r.doc_id for r in base.orderBy("rk").collect()][0] == 1
    ex = spark.createDataFrame([(0, 1)], "query_id long, doc_id long")
    excl = bm25_topk(docs, "text", "doc_id", q, k=4, exclude=ex)
    got = [r.doc_id for r in excl.orderBy("rk").collect()]
    assert 1 not in got and got[0] != 1
    assert [r.rk for r in excl.orderBy("rk").collect()] == list(
        range(1, len(got) + 1)
    )
    exact = bm25_topk(docs, "text", "doc_id", q, k=4, exact_scores=True)
    assert [r.doc_id for r in exact.orderBy("rk").collect()] == [
        r.doc_id for r in base.orderBy("rk").collect()
    ]


def test_mmr_rerank_prefers_diversity(spark):
    """MMR: after picking the most relevant candidate, a near-duplicate
    of it loses to a moderately-relevant orthogonal candidate; plain
    relevance order would pick the duplicate."""
    from heparchy_spark.operators.similarity import mmr_rerank

    rows = [
        # (query_id, doc_id, relevance, vector)
        (0, 10, 0.99, [1.0, 0.0, 0.0, 0.0]),
        (0, 11, 0.98, [0.999, 0.01, 0.0, 0.0]),   # near-dup of 10
        (0, 12, 0.60, [0.0, 1.0, 0.0, 0.0]),      # orthogonal
    ]
    df = spark.createDataFrame(
        rows,
        "query_id long, doc_id long, relevance double, "
        "embedding array<double>",
    )
    out = mmr_rerank(df, "embedding", k=3, lam=0.7).orderBy("mmr_rank")
    got = [r.doc_id for r in out.collect()]
    assert got == [10, 12, 11]
    # first pick's score is pure relevance (no penalty yet)
    first = out.collect()[0]
    assert first.mmr_score == round(0.7 * 0.99, 9)


def test_random_projection_preserves_norms(spark):
    """JL: scaled projection norms concentrate around the true norms —
    mean ratio within 10% of 1 over 64-dim Gaussian-ish vectors, and the
    projection is a pure function (same seed, same output)."""
    import numpy as np

    from heparchy_spark.operators.similarity import random_projection

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=64)]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    p1 = random_projection(df, "embedding", "vec_id", dim=64, out_dim=16)
    p2 = random_projection(df, "embedding", "vec_id", dim=64, out_dim=16)
    assert p1.collect() == p2.collect()
    import pyspark.sql.functions as F

    sq = F.aggregate("projection", F.lit(0.0), lambda a, v: a + v * v)
    joined = df.join(p1, "vec_id").select(
        (F.sqrt(sq / 16.0)
         / F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, v: a + v * v))
         ).alias("ratio")
    )
    mean_ratio = joined.agg(F.avg("ratio")).head()[0]
    assert 0.9 < mean_ratio < 1.1


def test_rrf_fuse_properties(spark):
    """RRF invariants: empty arm list is a loud error; a single arm
    reproduces that arm's order; improving a doc's rank in one arm never
    lowers its fused score."""
    import pytest

    from heparchy_spark.operators.similarity import rrf_fuse

    with pytest.raises(ValueError):
        rrf_fuse([])
    arm = spark.createDataFrame(
        [(0, 5, 1), (0, 6, 2), (0, 7, 3)],
        "query_id long, doc_id long, rk int",
    )
    solo = [r.doc_id for r in rrf_fuse([arm], k=3).orderBy("rk").collect()]
    assert solo == [5, 6, 7]
    better = spark.createDataFrame(
        [(0, 7, 1)], "query_id long, doc_id long, rk int"
    )
    worse = spark.createDataFrame(
        [(0, 7, 3)], "query_id long, doc_id long, rk int"
    )
    s_better = {
        r.doc_id: r.rrf_score for r in rrf_fuse([arm, better], k=3).collect()
    }
    s_worse = {
        r.doc_id: r.rrf_score for r in rrf_fuse([arm, worse], k=3).collect()
    }
    assert s_better[7] > s_worse[7]


def test_power_iteration_matches_numpy_eig(spark):
    """Power iteration: the returned direction aligns with NumPy's top
    eigenvector of A^T A (|cos| > 0.99 after 8 iterations on a spiked
    spectrum) and the eigenvalue estimate approaches the top
    singular-value energy; repeat runs are weight-identical."""
    import numpy as np

    from heparchy_spark.operators.similarity import power_iteration_top_pc

    rng = np.random.default_rng(5)
    direction = rng.normal(size=8)
    direction /= np.linalg.norm(direction)
    rows = []
    for i in range(60):
        v = 3.0 * rng.normal() * direction + 0.3 * rng.normal(size=8)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = power_iteration_top_pc(df, "embedding", "vec_id", dim=8, iters=8)
    got = out.orderBy("dim_idx").collect()
    w = np.array([r.weight for r in got])
    A = np.array([r[1] for r in rows])
    evals, evecs = np.linalg.eigh(A.T @ A)
    top = evecs[:, -1]
    assert abs(float(w @ top)) > 0.99
    assert got[0].eigenvalue == pytest.approx(evals[-1], rel=0.05)
    again = power_iteration_top_pc(
        df, "embedding", "vec_id", dim=8, iters=8
    ).orderBy("dim_idx").collect()
    assert [r.weight for r in again] == [r.weight for r in got]


def test_kmeans_fit_assign_separates_and_is_deterministic(spark):
    """Distributed Lloyd on planted Gaussian blobs: every planted group
    lands in one cluster, re-running reproduces the identical assignment
    (the fixture-determinism contract), and dist2 is the true squared
    distance to the winning centroid."""
    from heparchy_spark.operators.clustering import kmeans_fit_assign

    rng = np.random.RandomState(3)
    centers = rng.standard_normal((3, 8)) * 10.0
    rows = []
    for i in range(90):
        g = i % 3
        v = centers[g] + rng.standard_normal(8) * 0.05
        rows.append((i, [float(x) for x in v.astype("float32")]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = kmeans_fit_assign(df, "embedding", "vec_id", k=3, iters=4)
    pdf = out.toPandas().sort_values("vec_id").reset_index(drop=True)
    assert len(pdf) == 90
    # each planted group maps to exactly one cluster, groups to distinct ones
    lab = {g: set(pdf[pdf.vec_id % 3 == g]["cluster"]) for g in range(3)}
    assert all(len(s) == 1 for s in lab.values())
    assert len(set().union(*lab.values())) == 3
    # tight blobs -> small distances
    assert pdf["dist2"].max() < 1.0

    again = (
        kmeans_fit_assign(df, "embedding", "vec_id", k=3, iters=4)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert (pdf["cluster"] == again["cluster"]).all()
    assert (pdf["dist2"] == again["dist2"]).all()


def test_broadcast_decontaminate_finds_planted_only(spark):
    """Exact eval-vs-train decontamination: planted near-copies are all
    found at >= 0.99, unrelated vectors never match, and an empty eval
    set yields an empty result with the contract schema."""
    from heparchy_spark.operators.similarity import broadcast_decontaminate

    rng = np.random.RandomState(11)
    base = rng.standard_normal((40, 16))
    train = spark.createDataFrame(
        [(i, [float(x) for x in base[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    # eval: 5 exact copies of train rows 0..4 (ids 1000+), 5 fresh randoms
    ev_rows = [(1000 + i, [float(x) for x in base[i]]) for i in range(5)]
    fresh = rng.standard_normal((5, 16))
    ev_rows += [(2000 + i, [float(x) for x in fresh[i]]) for i in range(5)]
    ev = spark.createDataFrame(ev_rows, "vec_id long, embedding array<double>")

    out = broadcast_decontaminate(train, ev, "embedding", "vec_id", 0.99)
    pdf = out.toPandas().sort_values("eval_id").reset_index(drop=True)
    assert list(pdf["eval_id"]) == [1000, 1001, 1002, 1003, 1004]
    assert list(pdf["train_id"]) == [0, 1, 2, 3, 4]
    assert (pdf["cosine_sim"] > 0.999999).all()

    empty = broadcast_decontaminate(
        train, ev.where("vec_id < 0"), "embedding", "vec_id", 0.99
    )
    assert empty.columns == ["eval_id", "train_id", "cosine_sim"]
    assert empty.count() == 0


def test_broadcast_decontaminate_string_ids(spark):
    """Id columns keep their input types — string doc ids must flow
    through (the schema is derived from the inputs, not hardcoded
    long), same contract as mmr_rerank."""
    from heparchy_spark.operators.similarity import broadcast_decontaminate

    train = spark.createDataFrame(
        [("tr-1", [1.0, 0.0]), ("tr-2", [0.0, 1.0])],
        "vec_id string, embedding array<double>",
    )
    ev = spark.createDataFrame(
        [("ev-a", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    out = broadcast_decontaminate(train, ev, "embedding", "vec_id", 0.99)
    assert dict(out.dtypes)["eval_id"] == "string"
    assert dict(out.dtypes)["train_id"] == "string"
    rows = out.collect()
    assert [(r.eval_id, r.train_id) for r in rows] == [("ev-a", "tr-1")]


def test_binary_hamming_topk_matches_numpy_mirror(spark):
    """Packed sign codes and Hamming top-k vs a NumPy popcount mirror,
    plus the planted-near-dup sanity: a sign-identical copy ranks first
    at distance 0."""
    from heparchy_spark.operators.similarity import (
        binary_quantize,
        hamming_topk,
    )

    rng = np.random.RandomState(5)
    vecs = rng.standard_normal((60, 64))
    vecs[50] = vecs[0] * 0.5 + 1e-9  # sign-identical to row 0
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<double>",
    )
    codes = binary_quantize(df, "embedding", "vec_id", dim=64)
    got_codes = {r.vec_id: r.code for r in codes.collect()}

    def pack(v):
        c = 0
        for i, x in enumerate(v):
            if x >= 0:
                c |= 1 << i
        return c - (1 << 64) if c >= (1 << 63) else c  # signed int64

    assert got_codes == {i: pack(vecs[i]) for i in range(60)}

    q = codes.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("code").alias("qcode")
    )
    out = hamming_topk(codes, q, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.hamming))
    for qid, rows in by_q.items():
        rows.sort()
        mask = (1 << 64) - 1
        want = sorted(
            (bin((got_codes[i] ^ got_codes[qid]) & mask).count("1"), i)
            for i in range(60)
            if i != qid
        )[:5]
        assert [(h, i) for _, i, h in rows] == want
    assert by_q[0][0] == (1, 50, 0)  # planted copy: rank 1, distance 0


def test_binary_multiword_matches_numpy_mirror(spark):
    """dim > 64 layout: ceil(dim/64) packed words, element i in word
    i//64 at bit i%64; Hamming = sum of per-word popcounts.  Mirrored
    against a NumPy packer at dim=70 (a partial second word)."""
    from heparchy_spark.operators.similarity import (
        binary_quantize,
        hamming_topk,
    )

    dim = 70
    rng = np.random.RandomState(7)
    vecs = rng.standard_normal((40, dim))
    vecs[30] = np.where(vecs[1] >= 0, 1.0, -1.0)  # sign-copy of row 1
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    codes = binary_quantize(df, "embedding", "vec_id", dim=dim)
    assert "codes" in codes.columns
    got = {r.vec_id: list(r.codes) for r in codes.collect()}

    def pack(v):
        out = []
        for w in range((dim + 63) // 64):
            c = 0
            for i, x in enumerate(v[w * 64 : w * 64 + 64]):
                if x >= 0:
                    c |= 1 << i
            out.append(c - (1 << 64) if c >= (1 << 63) else c)
        return out

    assert got == {i: pack(vecs[i]) for i in range(40)}
    assert all(len(c) == 2 for c in got.values())

    q = codes.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("codes").alias("qcodes")
    )
    out = hamming_topk(codes, q, k=4).collect()
    mask = (1 << 64) - 1
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append((r.rank, r.vec_id, r.hamming))
    for qid, rows in by_q.items():
        rows.sort()
        want = sorted(
            (
                sum(
                    bin((got[i][w] ^ got[qid][w]) & mask).count("1")
                    for w in range(2)
                ),
                i,
            )
            for i in range(40)
            if i != qid
        )[:4]
        assert [(h, i) for _, i, h in rows] == want
    assert by_q[1][0] == (1, 30, 0)  # planted sign-copy: rank 1, dist 0


def test_incremental_ivf_assign_flags_planted_drift(spark):
    """Serving-side index maintenance: a new batch assigns against a
    FROZEN centroid set (no retrain) and flags near-dups of the seen
    corpus.  A planted near-copy is flagged against its original; a
    genuinely novel vector in an empty cell still emits a row with
    n_cell_seen = 0 and no match; the best-match tie-break is
    (cosine desc, seen id asc)."""
    from heparchy_spark.operators.similarity import incremental_ivf_assign

    # two well-separated cells; a third centroid no seen vector wins
    cents = np.array(
        [
            [10.0, 0.0, 0.0, 0.0],
            [0.0, 10.0, 0.0, 0.0],
            [0.0, 0.0, 10.0, 0.0],
        ],
        dtype="float64",
    )
    seen_rows = [
        (100, [10.0, 0.1, 0.0, 0.0]),
        (101, [9.5, -0.1, 0.0, 0.0]),
        (200, [0.2, 9.8, 0.0, 0.0]),
        # two seen vectors COLLINEAR with each other (cosine tie for a
        # query along the same ray) -> lower id must win
        (300, [8.0, 8.0, 0.0, 0.0]),
        (301, [4.0, 4.0, 0.0, 0.0]),
    ]
    new_rows = [
        (1, [10.0, 0.1, 0.0, 0.0]),    # exact copy of seen 100
        (2, [0.0, 0.0, 12.0, 0.0]),    # empty cell: no seen members
        (3, [6.0, 6.0, 0.0, 0.0]),     # ties 300 vs 301 at cosine 1.0
    ]
    seen = spark.createDataFrame(
        seen_rows, "vec_id long, embedding array<double>"
    )
    new = spark.createDataFrame(
        new_rows, "vec_id long, embedding array<double>"
    )
    out = {
        r.vec_id: r
        for r in incremental_ivf_assign(
            new, seen, "embedding", "vec_id", cents, threshold=0.95
        ).collect()
    }
    assert len(out) == 3

    r1 = out[1]
    assert r1.cluster == 0
    assert r1.is_near_dup and r1.best_seen_id == 100
    assert r1.best_cosine == 1.0 and r1.dist2 == 0.01

    r2 = out[2]
    assert r2.cluster == 2
    assert r2.n_cell_seen == 0 and not r2.is_near_dup
    assert r2.best_seen_id is None and r2.best_cosine is None

    r3 = out[3]
    assert r3.best_cosine == 1.0 and r3.is_near_dup
    assert r3.best_seen_id == 300  # cosine tie -> lowest seen id


def test_pq_recall_perfect_when_codebook_lossless(spark):
    """When every vector is built from at most 16 distinct per-subspace
    blocks, the trained codebooks reproduce each subvector exactly, ADC
    distances equal true distances, and recall@k is 1.0 for every
    query; on generic vectors recall stays within [0, 1] with
    k_exact = k."""
    import numpy as np
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from heparchy_spark.operators.similarity import pq_adc_topk, pq_train

    rng = np.random.RandomState(3)
    protos = rng.standard_normal((4, 8, 8))  # 4 prototypes x 8 subspaces
    rows = []
    for i in range(64):
        blocks = [protos[(i + s) % 4, s] for s in range(8)]
        rows.append((i, [float(x) for x in np.concatenate(blocks)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # NOTE float32 storage: train/encode both read the same float32-
    # rounded values, so the 4-proto structure survives the cast
    books = pq_train(
        df, "embedding", m=8, n_codes=16, sample_size=64, iters=4,
        seed=7, order_col="vec_id",
    )
    queries = df.where(F.col("vec_id") < 3)
    approx = pq_adc_topk(
        df, "embedding", "vec_id", queries, "embedding", "vec_id",
        books, k=5,
    )
    got = {
        (r.query_id, r.match_id)
        for r in approx.select("query_id", "match_id").collect()
    }
    # exact top-5 by squared L2 (engine-independent here: distances of
    # proto-built vectors are well separated)
    vecs = {i: np.array(v, dtype="float32").astype("float64") for i, v in rows}
    for q in range(3):
        d2 = sorted(
            (float(((vecs[m] - vecs[q]) ** 2).sum()), m) for m in vecs
        )[:5]
        for _d, m in d2:
            assert (q, m) in got, (q, m)


def test_cluster_purity_planted_blobs(spark):
    """Two well-separated labeled blobs cluster cleanly at k=2: every
    cluster is pure (top_share 1.0) and the majority labels are the
    planted ones."""
    import numpy as np
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from heparchy_spark.operators.clustering import kmeans_fit_assign

    rng = np.random.RandomState(5)
    rows = []
    for i in range(40):
        center = 10.0 if i % 2 else -10.0
        v = center + 0.1 * rng.standard_normal(8)
        rows.append((i, [float(x) for x in v], i % 2))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    assign = kmeans_fit_assign(emb, "embedding", "vec_id", k=2, iters=4)
    per = (
        assign.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("cluster").orderBy(F.desc("n"), F.asc("label"))
    top = per.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    got = {r.cluster: (r.label, r.n) for r in top.collect()}
    assert len(got) == 2
    # each cluster holds exactly one planted label's 20 members
    assert sorted(lab for lab, _n in got.values()) == [0, 1]
    assert all(n == 20 for _lab, n in got.values())


def test_bounded_sample_prefilter_identical_to_naive_sort_limit(spark):
    """The cutoff pre-filter in ``_bounded_sample`` bounds the ordered
    limit's single merge task at ~4*sample_size rows (instead of
    sample_size per input partition) and must return EXACTLY the rows
    the naive global sort-limit returns — for dense-id order, hash
    order, and the small-frame fallback path."""
    from heparchy_spark.operators.similarity import _bounded_sample

    df = spark.range(0, 20000, 1, 16).select(
        (F.col("id") * 7 % 100003).alias("vid"),
        F.array(
            *[(F.col("id") % (i + 3)).cast("float") for i in range(4)]
        ).alias("v"),
    )
    for hashed in (False, True):
        key = F.xxhash64(F.col("vid")) if hashed else F.col("vid")
        ref = df.orderBy(key).select("v").limit(1000).toPandas()
        got = _bounded_sample(df, "v", 1000, "vid", hash_order=hashed)
        assert len(got) == 1000
        assert all(
            list(a) == list(b) for a, b in zip(got["v"], ref["v"])
        ), f"sample changed (hash_order={hashed})"
    # frame smaller than 4*sample_size: fallback path, every row kept
    tiny = df.limit(300)
    got = _bounded_sample(tiny, "v", 1000, "vid")
    ref = tiny.orderBy("vid").select("v").toPandas()
    assert len(got) == 300
    assert all(list(a) == list(b) for a, b in zip(got["v"], ref["v"]))

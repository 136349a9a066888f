"""Unit tests for the repetition / stopword / vocabulary / PII operators on
hand-computable inputs (the synthetic corpus has no PII, so these tests are
the real correctness check for the scrubber)."""

from __future__ import annotations

import pytest

from heparchy_spark.operators.text import (
    pii_counts,
    pii_redact,
    repetition_signals,
    stopword_ratio_df,
    token_frequencies,
)
from tests.conftest import write_table

import pyspark.sql.functions as F

PII_ROWS = [
    (0, "contact me at alice.smith+work@example.co.uk for details"),
    (1, "server at 192.168.1.254 port open"),
    (2, "call +1 555 867 5309 now"),
    (3, "bob@test.org and carol@test.org and 10.0.0.1"),
    (4, "no sensitive content here"),
    (5, ""),
    (6, None),
]


@pytest.fixture(scope="module")
def pii_docs(spark):
    return spark.createDataFrame(PII_ROWS, "doc_id long, text string")


def test_pii_counts(pii_docs):
    counts = pii_counts("text")
    rows = {
        r["doc_id"]: r
        for r in pii_docs.select(
            "doc_id",
            *[counts[k].alias(k) for k in ("email", "ipv4", "phone")],
        ).collect()
    }
    assert (rows[0]["email"], rows[0]["ipv4"], rows[0]["phone"]) == (1, 0, 0)
    assert (rows[1]["email"], rows[1]["ipv4"], rows[1]["phone"]) == (0, 1, 0)
    assert (rows[2]["email"], rows[2]["ipv4"], rows[2]["phone"]) == (0, 0, 1)
    assert (rows[3]["email"], rows[3]["ipv4"], rows[3]["phone"]) == (2, 1, 0)
    assert (rows[4]["email"], rows[4]["ipv4"], rows[4]["phone"]) == (0, 0, 0)
    assert (rows[5]["email"], rows[5]["ipv4"], rows[5]["phone"]) == (0, 0, 0)
    # null text propagates null sizes (size(null) = -1 under legacy, null
    # under ansi) — either way, no crash and no false positives
    assert rows[6]["email"] in (None, -1, 0)


def test_pii_redact(pii_docs):
    red = {
        r["doc_id"]: r["redacted"]
        for r in pii_docs.select(
            "doc_id", pii_redact("text").alias("redacted")
        ).collect()
    }
    assert red[0] == "contact me at [EMAIL] for details"
    assert red[1] == "server at [IPV4] port open"
    assert red[2] == "call [PHONE] now"
    assert red[3] == "[EMAIL] and [EMAIL] and [IPV4]"
    assert red[4] == "no sensitive content here"
    assert red[5] == ""
    assert red[6] is None


REP_ROWS = [
    (0, "a a a a"),
    (1, "a b c d"),
    (2, "x"),
    (3, ""),
    (4, "go go stop go go"),
]


@pytest.fixture(scope="module")
def rep_docs(spark):
    return spark.createDataFrame(REP_ROWS, "doc_id long, text string")


def test_repetition_signals(rep_docs):
    rows = {
        r["doc_id"]: r
        for r in repetition_signals(rep_docs, "text", "doc_id").collect()
    }
    # empty doc contributes no tokens -> absent
    assert set(rows) == {0, 1, 2, 4}
    r0 = rows[0]
    assert r0["n_tokens"] == 4
    assert r0["distinct_ratio"] == pytest.approx(0.25)
    assert r0["top_token_fraction"] == pytest.approx(1.0)
    assert r0["top_bigram_fraction"] == pytest.approx(1.0)  # "a a" x3
    r1 = rows[1]
    assert r1["distinct_ratio"] == pytest.approx(1.0)
    assert r1["top_token_fraction"] == pytest.approx(0.25)
    assert r1["top_bigram_fraction"] == pytest.approx(1 / 3)
    r2 = rows[2]
    assert r2["n_tokens"] == 1
    assert r2["top_bigram_fraction"] == 0.0  # no bigrams
    r4 = rows[4]
    # tokens: go x4, stop -> top fraction 0.8; bigrams: "go go" x2 of 4
    assert r4["top_token_fraction"] == pytest.approx(0.8)
    assert r4["top_bigram_fraction"] == pytest.approx(0.5)


def test_stopword_ratio(spark):
    df = spark.createDataFrame(
        [(0, "the cat and the dog"), (1, "zebra quokka")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r for r in stopword_ratio_df(df, "text", "doc_id").collect()
    }
    assert rows[0]["n_tokens"] == 5
    assert rows[0]["stopword_ratio"] == pytest.approx(0.6)  # the, and, the
    assert rows[1]["stopword_ratio"] == 0.0


def test_token_frequencies(rep_docs):
    rows = {
        r["token"]: r
        for r in token_frequencies(rep_docs, "text", "doc_id").collect()
    }
    assert rows["a"]["n_occurrences"] == 5  # 4 in doc0 + 1 in doc1
    assert rows["a"]["n_docs"] == 2
    assert rows["go"]["n_occurrences"] == 4
    assert rows["go"]["n_docs"] == 1
    assert rows["stop"]["n_docs"] == 1


def test_redact_idempotent(pii_docs):
    once = pii_docs.select(
        "doc_id", pii_redact("text").alias("text")
    )
    twice = once.select("doc_id", pii_redact("text").alias("text"))
    assert sorted(map(tuple, once.collect())) == sorted(
        map(tuple, twice.collect())
    )


def test_int8_quantize_matches_numpy(spark):
    import numpy as np

    from heparchy_spark.operators.similarity import int8_quantize_stats

    rng = np.random.default_rng(7)
    vecs = [rng.normal(size=8).astype("float32") for _ in range(20)]
    vecs.append(np.zeros(8, dtype="float32"))  # constant vector -> scale 0
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    rows = {
        r["vec_id"]: r
        for r in int8_quantize_stats(df, "embedding", "vec_id", dim=8).collect()
    }
    for i, v in enumerate(vecs):
        v = v.astype("float64")
        vmin, vmax = v.min(), v.max()
        scale = (vmax - vmin) / 255.0
        r = rows[i]
        assert r["vmin"] == pytest.approx(vmin, abs=1e-9)
        assert r["vmax"] == pytest.approx(vmax, abs=1e-9)
        if scale > 0:
            q = np.round((v - vmin) / scale)
            mse = float(((v - (vmin + q * scale)) ** 2).mean())
            assert r["mse"] == pytest.approx(mse, abs=1e-8)
            assert np.all(q >= 0) and np.all(q <= 255)
        else:
            assert r["mse"] == 0.0


def test_incremental_exact_dedup(spark):
    from heparchy_spark.operators.dedup import incremental_exact_dedup

    seen = spark.createDataFrame(
        [(0, "alpha"), (1, "beta")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, "alpha"), (11, "gamma"), (12, "gamma"), (13, "delta")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]
        for r in incremental_exact_dedup(new, seen, "text", "doc_id").collect()
    }
    # alpha already seen; gamma deduped within batch to min id 11
    assert out == {11, 13}


def test_contamination_report(spark):
    from heparchy_spark.operators.text import contamination_report

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated content about spark partitions here"),
            (3, "short doc"),  # < 5 tokens -> zero shingles
        ],
        "doc_id long, text string",
    )
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps over a sleeping cat")],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in contamination_report(train, ev, "text", "doc_id", n=5).collect()
    }
    assert len(rows) == 3
    # doc 1 shares the 5-gram "the quick brown fox jumps" (and one more:
    # "quick brown fox jumps over") with the eval doc
    assert rows[1]["n_overlap"] == 2 and rows[1]["contaminated"]
    assert rows[2]["n_overlap"] == 0 and not rows[2]["contaminated"]
    assert rows[3]["n_shingles"] == 0 and not rows[3]["contaminated"]


def test_filter_funnel_cumulative(spark):
    from heparchy_spark.operators.text import filter_funnel

    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "id long, v long"
    )
    out = {
        r["stage"]: (r["stage_idx"], r["n_pass"])
        for r in filter_funnel(
            df,
            [("ge20", F.col("v") >= 20), ("le30", F.col("v") <= 30)],
        ).collect()
    }
    # cumulative: le30 counts rows passing BOTH gates, not just its own
    assert out == {"total": (0, 4), "ge20": (1, 3), "le30": (2, 2)}


def test_filter_funnel_single_scan(spark):
    from heparchy_spark.operators.text import filter_funnel
    from heparchy_spark.plans.inspect import executed_plan, shuffle_count
    from heparchy_spark.queries.tables import load

    docs = load(spark, "/root/testdata/sf0.001", "documents")
    out = filter_funnel(docs, [("min_chars", F.col("n_chars") >= 100)])
    out.collect()
    # one scan, one global-agg exchange; stages never add passes
    final_plan = executed_plan(out).split("== Initial Plan ==")[0]
    assert final_plan.count("FileScan") == 1
    assert shuffle_count(out) <= 1


def test_connected_components_known_graph(spark):
    from heparchy_spark.operators.dedup import connected_components

    # components: {1,2,3,4} (chain), {5,6} (pair), {7} (singleton)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 6)], "src long, dst long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    out = {
        r["node"]: r["component"]
        for r in connected_components(
            edges, "src", "dst", nodes, "id"
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 7}


def _unionfind_components(n_nodes, edge_list):
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_list:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component label = min node of the set
    comp = {}
    for v in range(n_nodes):
        r = find(v)
        comp.setdefault(r, []).append(v)
    return {v: min(vs) for r, vs in comp.items() for v in vs}


@pytest.mark.parametrize("seed,n,m", [(1, 40, 30), (2, 60, 90), (3, 25, 5)])
def test_star_cc_matches_minlabel_and_unionfind(spark, seed, n, m):
    import numpy as np

    from heparchy_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = np.random.default_rng(seed)
    edge_list = [
        (int(a), int(b))
        for a, b in zip(rng.integers(0, n, m), rng.integers(0, n, m))
        if a != b
    ]
    want = _unionfind_components(n, edge_list)
    edges = spark.createDataFrame(edge_list or [(0, 0)], "src long, dst long")
    nodes = spark.range(n).withColumnRenamed("id", "node")
    got_star = {
        r["node"]: r["component"]
        for r in connected_components_star(
            edges, "src", "dst", nodes, "node"
        ).collect()
    }
    got_min = {
        r["node"]: r["component"]
        for r in connected_components(
            edges, "src", "dst", nodes, "node"
        ).collect()
    }
    assert got_star == want
    assert got_min == want


def test_star_cc_deep_chain_and_minlabel_raises(spark):
    # chain 0-1-2-...-59: diameter 59 — min-label at max_iter=10 must now
    # raise loudly (silent truncation was the bug); star contraction
    # converges in O(log n) rounds.
    from heparchy_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    n = 60
    edge_list = [(i, i + 1) for i in range(n - 1)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    nodes = spark.range(n).withColumnRenamed("id", "node")
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(
            edges, "src", "dst", nodes, "node", max_iter=12
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            edges, "src", "dst", nodes, "node", max_iter=10
        )


def test_bloom_filter_no_false_negatives_and_filters(spark):
    import pyspark.sql.functions as F

    from heparchy_spark.operators.dedup import (
        bloom_filter_build,
        bloom_filter_probe,
    )

    m = 1 << 16
    k = 3
    def positions(col):
        return [
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)) for i in range(k)
        ]

    seen = spark.range(0, 500).select(F.col("id").alias("v"))
    # incoming: 0..249 overlap seen; 10_000..10_249 are new
    inc = (
        spark.range(0, 250)
        .select(F.col("id").alias("v"))
        .union(spark.range(10_000, 10_250).select(F.col("id").alias("v")))
    )
    flt = bloom_filter_build(seen, positions(F.col("v")), m)
    got = {
        r["v"]: r["maybe_present"]
        for r in bloom_filter_probe(inc, "v", positions(F.col("v")), flt).collect()
    }
    # no false negatives: every genuinely-seen value flagged
    assert all(got[v] for v in range(250))
    # the filter actually filters: most new values pass through as unseen
    new_flagged = sum(1 for v in range(10_000, 10_250) if got[v])
    assert new_flagged < 25  # fp rate at this fill ~(1500/65536)^3 << 1%


def test_count_min_overestimates_and_merges(spark):
    import pyspark.sql.functions as F

    from heparchy_spark.operators.sketch import (
        cm_positions,
        count_min_build,
        count_min_estimate,
    )

    w, d = 1 << 10, 3
    # zipf-ish: key k appears 1000//(k+1) times
    rows = [(k,) for k in range(50) for _ in range(1000 // (k + 1))]
    df = spark.createDataFrame(rows, ["k"])
    pos = cm_positions(F.col("k"), w, d)
    sketch = count_min_build(df, pos)
    exact = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    probes = df.select("k").distinct()
    est = {r["k"]: r["cm_est"] for r in count_min_estimate(probes, "k", pos, sketch).collect()}
    # one-sided: never underestimates
    assert all(est[k] >= exact[k] for k in exact)
    # tight at this fill (1150 increments into 3x1024 counters)
    assert sum(est[k] - exact[k] for k in exact) <= 5 * len(exact)

    # mergeability: sketch(A) + sketch(B) == sketch(A union B) counter-wise
    a, b = df.where(F.col("k") % 2 == 0), df.where(F.col("k") % 2 == 1)
    merged = (
        count_min_build(a, pos)
        .unionByName(count_min_build(b, pos))
        .groupBy("row_idx", "col_idx")
        .agg(F.sum("cnt").alias("cnt"))
    )
    whole = count_min_build(df, pos)
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_cdc_chunks_survive_insertion(spark):
    """Inserting a paragraph mid-document must leave most chunk hashes
    unchanged (boundaries are content-defined, not position-defined) —
    whole-document hashing finds nothing, CDC finds the shared spans."""
    import pyspark.sql.functions as F

    from heparchy_spark.operators.dedup import cdc_chunk_stream

    base = " ".join(f"word{i} token{i * 7 % 91} item{i * 13 % 57}" for i in range(200))
    words = base.split(" ")
    edited = " ".join(words[:300] + ["brand", "new", "inserted", "paragraph", "here"] + words[300:])
    df = spark.createDataFrame([(1, base), (2, edited)], ["doc_id", "text"])
    chunks = cdc_chunk_stream(df, "text", "doc_id", divisor=16).collect()
    h1 = {r["__chunk_hash"] for r in chunks if r["__id"] == 1}
    h2 = {r["__chunk_hash"] for r in chunks if r["__id"] == 2}
    assert len(h1) >= 10  # enough chunks to be meaningful
    shared = len(h1 & h2) / len(h1)
    assert shared >= 0.8, (shared, len(h1), len(h2))


def test_hll_estimate_accuracy_and_merge(spark):
    import pyspark.sql.functions as F

    from heparchy_spark.operators.sketch import hll_estimate, hll_registers

    b = 12
    n = 20_000
    df = spark.range(0, n).select(F.col("id"))
    regs = hll_registers(df, F.col("id"), b=b)
    est = hll_estimate(regs, b=b)
    # standard error ~1.04/sqrt(2^12) = 1.6%; allow 4 sigma
    assert abs(est - n) / n < 0.065, est

    # merge = per-register max: merging halves must equal the whole
    a = hll_registers(df.where(F.col("id") % 2 == 0), F.col("id"), b=b)
    c = hll_registers(df.where(F.col("id") % 2 == 1), F.col("id"), b=b)
    merged = (
        a.unionByName(c)
        .groupBy("register_idx")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    assert merged.exceptAll(regs).count() == 0
    assert regs.exceptAll(merged).count() == 0


def test_pagerank_mass_and_degree_ordering(spark):
    import pyspark.sql.functions as F

    from heparchy_spark.operators.graph import pagerank

    # star: hub 0 <-> spokes 1..20, plus an isolated pair 100<->101
    edges = [(0, i) for i in range(1, 21)] + [(i, 0) for i in range(1, 21)]
    edges += [(100, 101), (101, 100)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    pr = pagerank(df, "src", "dst", iters=8)
    rows = {r["node"]: r["rank"] for r in pr.collect()}
    # total mass ~1 (floor-division loss only)
    assert abs(sum(rows.values()) - 1.0) < 1e-3
    # the hub dominates every spoke; spokes are symmetric
    assert rows[0] > 5 * rows[1]
    spoke_vals = {rows[i] for i in range(1, 21)}
    assert len(spoke_vals) == 1
    # rerun is bit-identical (pure integer trajectory)
    again = {r["node"]: r["rank"] for r in pagerank(df, "src", "dst", iters=8).collect()}
    assert again == rows


def test_duplicated_ngram_spans_semantics(spark):
    """Planted duplicates: a 12-token run shared by two docs must come
    back as one maximal span in each; unique text yields no spans; an
    island gap > n must split spans."""
    from heparchy_spark.operators.dedup import duplicated_ngram_spans

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    docs = [
        (1, f"{shared} unique tail one two three four five six seven"),
        (2, f"pre amble words here now {shared}"),
        (3, "totally different content with no repeated eight gram runs at all"),
        # internal repetition: the same 8 tokens twice with a big unique gap
        (4, "one two three four five six seven eight "
            + "gap1 gap2 gap3 gap4 gap5 gap6 gap7 gap8 gap9 gap10 "
            + "one two three four five six seven eight"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    rows = {
        (r["doc_id"], r["span_start"], r["span_end"]): r
        for r in duplicated_ngram_spans(df, "text", "doc_id", n=8).collect()
    }
    by_doc = {}
    for (d, s, e), r in rows.items():
        by_doc.setdefault(d, []).append((s, e, r["span_tokens"], r["n_grams"]))
    # doc 1: shared run = tokens 0..11 -> grams at pos 0..4 -> span 0..11
    assert by_doc[1] == [(0, 11, 12, 5)]
    # doc 2: 5 preamble tokens shift the run to 5..16
    assert by_doc[2] == [(5, 16, 12, 5)]
    assert 3 not in by_doc
    # doc 4: the repeated 8-gram appears at pos 0 and pos 18 (gap 18 > 8)
    assert sorted(by_doc[4]) == [(0, 7, 8, 1), (18, 25, 8, 1)]


def test_funnel_strict_ordering(spark):
    """Funnel: a click BEFORE the first view does not convert; equal
    timestamps do not convert (strictly after); repeat stage events
    count once per user."""
    from datetime import datetime as dt

    from heparchy_spark.operators.funnel import funnel_counts

    rows = [
        # user 1: full ordered funnel
        (1, "view", dt(2024, 1, 1, 0)), (1, "click", dt(2024, 1, 1, 1)),
        (1, "purchase", dt(2024, 1, 1, 2)),
        # user 2: click precedes the view -> stalls at view
        (2, "click", dt(2024, 1, 1, 0)), (2, "view", dt(2024, 1, 1, 1)),
        # user 3: click at the SAME instant as view -> not strictly after
        (3, "view", dt(2024, 1, 1, 0)), (3, "click", dt(2024, 1, 1, 0)),
        # user 4: two views then click, no purchase
        (4, "view", dt(2024, 1, 1, 0)), (4, "view", dt(2024, 1, 1, 5)),
        (4, "click", dt(2024, 1, 1, 1)),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    out = {r.stage: r.n_users for r in funnel_counts(
        df, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    ).collect()}
    assert out == {"view": 4, "click": 2, "purchase": 1}


def test_triangle_counts_toy_graph(spark):
    """Triangles: K4 minus one edge has two triangles sharing an edge;
    per-node counts reflect participation; isolated edges contribute
    nothing."""
    from heparchy_spark.operators.graph import triangle_counts

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (3, 4), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.n_triangles for r in triangle_counts(df).collect()}
    assert out == {1: 2, 2: 1, 3: 2, 4: 1}


def test_bpe_train_learns_expected_merges(spark):
    """BPE on a tiny corpus: first merge is the highest-frequency
    adjacent pair (weighted by word counts), ties break lexically, and
    later merges can consume earlier merge products."""
    from heparchy_spark.operators.text import bpe_train

    # "low low low lower" -> words: low x3, lower x1
    df = spark.createDataFrame(
        [(0, "low low low"), (1, "lower low")],
        "doc_id long, text string",
    )
    out = bpe_train(df, "text", "doc_id", n_merges=3).collect()
    got = [(r.merge_idx, r.left, r.right, r.pair_count) for r in out]
    # pair counts over {low:4, lower:1}: (l,o)=5, (o,w)=5, (w,</w>)=4 ...
    # tie 5-5 breaks to ('l','o'); then ('lo','w')=5; then ('low','</w>')=4
    assert got == [
        (0, "l", "o", 5),
        (1, "lo", "w", 5),
        (2, "low", "</w>", 4),
    ]


def test_kcore_toy_graph(spark):
    """k-core: a triangle plus a pendant chain — the 2-core is exactly
    the triangle (chain peels over two rounds); a k above the max
    degree empties the graph."""
    from heparchy_spark.operators.graph import kcore

    edges = [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    core = {r.node: r.degree for r in kcore(df, 2).collect()}
    assert core == {1: 2, 2: 2, 3: 2}
    assert kcore(df, 4).count() == 0


def test_label_propagation_two_cliques(spark):
    """LPA: two triangles joined by one bridge edge resolve to two
    communities. Hand trace with the (votes desc, label asc) tie-break:
    round 1 gives {1:2, 2:1, 3:1, 4:3, 5:4, 6:4} (each node takes the
    min neighbour id — all votes tie), round 2 floods clique A with 1
    while the bridge-injected 3 survives in B as {4:4, 5:3, 6:3}, and
    round 3 settles B on 3; round 4 is stable."""
    from heparchy_spark.operators.graph import label_propagation

    edges = [
        (1, 2), (1, 3), (2, 3),          # clique A
        (4, 5), (4, 6), (5, 6),          # clique B
        (3, 4),                          # bridge
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    out = {r.node: r.community for r in label_propagation(df, iters=4).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 3, 5: 3, 6: 3}
    # determinism: a second run reproduces the labelling exactly
    again = {
        r.node: r.community for r in label_propagation(df, iters=4).collect()
    }
    assert again == out


def test_bpe_encode_counts_compression(spark):
    """BPE application: words covered by learned merges compress to
    single tokens; unseen words fall back to character symbols."""
    from heparchy_spark.operators.text import bpe_encode_counts, bpe_train

    df = spark.createDataFrame(
        [(0, "low low low"), (1, "lower low")],
        "doc_id long, text string",
    )
    merges = [
        (r.left, r.right)
        for r in bpe_train(df, "text", "doc_id", n_merges=3)
        .orderBy("merge_idx").collect()
    ]
    out = {r.doc_id: r for r in bpe_encode_counts(
        df, "text", "doc_id", merges
    ).collect()}
    # merges: (l,o),(lo,w),(low,</w>) -> "low" = 1 token
    assert out[0].n_bpe_tokens == 3  # three "low" words, one token each
    assert out[0].bpe_per_word == 1.0
    # "lower" = [low, e, r, </w>] = 4 tokens; plus "low" = 1
    assert out[1].n_bpe_tokens == 5
    assert all(r.n_bpe_tokens <= r.n_char_symbols for r in out.values())


def test_funnel_max_gap_boundary(spark):
    """Windowed funnel: a stage exactly AT the gap boundary converts
    (inclusive <=); one second past does not; the unbounded funnel
    still counts it."""
    from datetime import datetime as dt

    from heparchy_spark.operators.funnel import funnel_counts

    rows = [
        (1, "view", dt(2024, 1, 1, 0, 0, 0)),
        (1, "click", dt(2024, 1, 2, 0, 0, 0)),      # exactly 24h -> in
        (2, "view", dt(2024, 1, 1, 0, 0, 0)),
        (2, "click", dt(2024, 1, 2, 0, 0, 1)),      # 24h + 1s -> out
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    gapped = {r.stage: r.n_users for r in funnel_counts(
        df, "user_id", "ts", "event_type", ["view", "click"], max_gap="24 hours"
    ).collect()}
    assert gapped == {"view": 2, "click": 1}
    open_funnel = {r.stage: r.n_users for r in funnel_counts(
        df, "user_id", "ts", "event_type", ["view", "click"]
    ).collect()}
    assert open_funnel == {"view": 2, "click": 2}


def test_bfs_hops_chain_and_unreached(spark):
    """BFS: hop counts along a chain are exact, max_hops truncates, and
    disconnected nodes are absent."""
    from heparchy_spark.operators.graph import bfs_hops

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)]
    e = spark.createDataFrame(edges, "src long, dst long")
    src = spark.createDataFrame([(1,)], "node long")
    out = {r.node: r.hops for r in bfs_hops(e, src, max_hops=6).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}
    short = {r.node: r.hops for r in bfs_hops(e, src, max_hops=2).collect()}
    assert short == {1: 0, 2: 1, 3: 2}


def test_hits_ranks_shared_authority_highest(spark):
    """Hand-traced bipartite HITS: the authority cited by every hub
    outranks one cited by a single weak hub, and the hub pointing at
    both authorities outranks single-target hubs."""
    from heparchy_spark.operators.graph import hits

    # hubs 1,2,3 -> authorities 10,11: 10 gets all three hubs, 11 only
    # hub 3; hub 3 points at both.
    edges = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (3, 11)], "src long, dst long"
    )
    out = {r["node"]: r for r in hits(edges, "src", "dst").collect()}
    assert out[10]["authority_score"] > out[11]["authority_score"]
    assert out[3]["hub_score"] > out[1]["hub_score"]
    assert out[1]["hub_score"] == out[2]["hub_score"]  # symmetric hubs
    # sources have no in-links, sinks no out-links
    for hub in (1, 2, 3):
        assert out[hub]["authority_score"] == 0.0
    for auth in (10, 11):
        assert out[auth]["hub_score"] == 0.0
    # integer-quotient norm bounds the top scores in [1, 2)
    assert 1.0 <= out[10]["authority_score"] < 2.0
    assert 1.0 <= out[3]["hub_score"] < 2.0


def test_textrank_hub_word_outranks_periphery(spark):
    """A word adjacent to many distinct words collects rank from all of
    them; stopwords and short tokens never enter the graph."""
    import pyspark.sql.functions as F

    from heparchy_spark.queries.text import text_textrank_keywords

    # 'network' co-occurs with four distinct words; each of those only
    # with 'network'.  'the'/'and' (stopwords) and 'ML' (short) must not
    # appear even though they are frequent.
    docs = spark.createDataFrame(
        [
            (1, "the network analysis and the network design"),
            (2, "ML network graphs and the network theory"),
            (3, "the quiet harbor"),
        ],
        "doc_id long, text string",
    )
    docs.createOrReplaceTempView("documents")
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        write_table(docs, d, "documents")
        out = text_textrank_keywords(spark, d).collect()
    kws = [r["keyword"] for r in out]
    scores = {r["keyword"]: r["score"] for r in out}
    assert kws[0] == "network"
    for banned in ("the", "and", "ml"):
        assert banned not in kws
    # every neighbor word appears, each below the hub
    for w in ("analysis", "design", "graphs", "theory"):
        assert w in kws
        assert scores[w] < scores["network"]
    # scores are positive and the list is rank-sorted
    assert all(s > 0 for s in scores.values())
    assert [r["score"] for r in out] == sorted(
        (r["score"] for r in out), reverse=True
    )


def test_personalized_pagerank_proximity_and_sparsity(spark):
    """Rank decays with distance from the seed; unreachable nodes are
    ABSENT (sparse state), and teleport mass lands only on seeds."""
    from heparchy_spark.operators.graph import personalized_pagerank

    # chain 1 -> 2 -> 3, disconnected 9 <-> 10; seed = {1}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (9, 10), (10, 9)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {r["node"]: r["rank"] for r in
           personalized_pagerank(edges, seeds, iters=6).collect()}
    assert set(out) == {1, 2, 3}, "island 9/10 must stay absent"
    assert out[1] > out[2] > out[3] > 0


def test_pii_ssn_detector_and_scrub(spark):
    """ssn-shaped detector: 3-2-4 digit groups match and redact; phone
    digit runs and loose digit strings do not false-positive; the scrub
    chain removes every planted PII class from a mixed blob."""
    rows = [
        (0, "SSN 123-45-6789 on file"),
        (1, "call +49-123-456-7890 maybe"),   # phone, NOT ssn-shaped
        (2, "order 1234-56-789 ref"),          # 4-2-3: no match
        (3, "a@b.co or 10.1.2.3 or +1-23-456-7890 and 987-65-4321"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = pii_counts("text")
    got = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            counts["ssn"].alias("ssn"),
            pii_redact("text").alias("red"),
        ).collect()
    }
    assert got[0].ssn == 1 and got[0].red == "SSN [SSN] on file"
    assert got[1].ssn == 0 and got[1].red == "call [PHONE] maybe"
    assert got[2].ssn == 0 and "[SSN]" not in got[2].red
    assert got[3].red == "[EMAIL] or [IPV4] or [PHONE] and [SSN]"

"""Adversarial text inputs through every text/dedup pipeline: nulls,
empties, unicode, emoji, whitespace-only, single-token, huge-token — no
crashes, sane outputs, deterministic results."""

from __future__ import annotations

import pytest

from heparchy_spark.operators.dedup import (
    exact_dedup,
    hashed_shingles_df,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash_df,
    simhash_near_dup_pairs,
)
from heparchy_spark.operators.text import fingerprint_df, text_profile
from tests.conftest import write_table

ROWS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, ""),  # empty
    (3, None),  # null
    (4, "   \t\n  "),  # whitespace only
    (5, "word"),  # single token (< shingle width)
    (6, "naïve café über straße 北京 🚀🚀 emoji"),  # unicode + emoji
    (7, "a" * 5000),  # one huge token
    (8, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (9, "!!! ??? ... ,,,"),  # punctuation only
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def test_exact_dedup_handles_all(docs):
    out = exact_dedup(docs, "text", "doc_id").collect()
    # 0 and 8 collapse; null text hashes to null group
    reps = {r["rep_id"]: r["n_copies"] for r in out}
    assert reps.get(0) == 2
    total = sum(r["n_copies"] for r in out)
    assert total == len(ROWS)


def test_shingles_empty_for_degenerate_docs(docs):
    sets = {r["__id"]: r["__shh"] for r in hashed_shingles_df(docs, "text", "doc_id").collect()}
    # degenerate docs either produce no row or an empty/small set, never crash
    assert len(sets[0]) > 0
    for did in (2, 4, 5, 7, 9):
        assert len(sets.get(did, [])) <= 1


def test_minhash_pairs_on_edge_corpus(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_dup_pairs(
            docs, "text", "doc_id", jaccard_threshold=0.5
        ).collect()
    }
    assert (0, 8) in pairs  # exact dup must survive LSH + verification
    assert all(a < b for a, b in pairs)


def test_ngram_pairs_on_edge_corpus(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", threshold=0.5, prefix_tokens=None
        ).collect()
    }
    assert pairs[(0, 8)] == pytest.approx(1.0)
    assert (0, 1) in pairs  # near dup (one word differs)


def test_simhash_on_edge_corpus(docs):
    fps = {r["doc_id"]: r["simhash64"] for r in simhash_df(docs, "text", "doc_id").collect()}
    assert fps[0] == fps[8]  # identical docs -> identical fingerprints
    assert fps[3] == 0  # null text -> 0 fingerprint
    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dup_pairs(docs, "text", "doc_id", max_hamming=3).collect()
    }
    assert (0, 8) in pairs


@pytest.mark.parametrize("max_hamming", [0, 3, 5, 7])
def test_simhash_pairs_recall_equals_all_pairs(docs, max_hamming):
    """The banded candidate join — 2x32-bit blocks with Hamming-ball
    probing for max_hamming <= 5, classic (d+1)-block exact banding
    beyond — must return EXACTLY the all-pairs popcount truth at every
    radius on either side of the cutover (recall is exact by
    pigeonhole; the verify filter bounds precision)."""
    fps = {
        r["doc_id"]: r["simhash64"]
        for r in simhash_df(docs, "text", "doc_id").collect()
    }
    mask = (1 << 64) - 1
    ids = sorted(fps)
    truth = {
        (a, b): bin((fps[a] ^ fps[b]) & mask).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin((fps[a] ^ fps[b]) & mask).count("1") <= max_hamming
    }
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(
            docs, "text", "doc_id", max_hamming=max_hamming
        ).collect()
    }
    assert got == truth


def test_fingerprints_deterministic(docs):
    a = {r["doc_id"]: r["fp64"] for r in fingerprint_df(docs, "text", "doc_id").collect()}
    b = {r["doc_id"]: r["fp64"] for r in fingerprint_df(docs, "text", "doc_id").collect()}
    assert a == b
    assert a[0] == a[8] and a[0] != a[1]


def test_fingerprint_df_matches_inline_expression(docs):
    # the plain-Python fold (tools/build_expected.fingerprint) is the
    # reference expression — values must be bit-identical on every doc
    # (incl. empty, short, unicode, null).
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from build_expected import fingerprint

    fast = {r["doc_id"]: r["fp64"] for r in fingerprint_df(docs, "text", "doc_id").collect()}
    assert fast == {did: fingerprint(text) for did, text in ROWS}


def test_text_profile_no_crash(docs):
    out = {r["doc_id"]: r for r in text_profile(docs, "text", "doc_id").collect()}
    assert out[2]["n_tokens"] == 0 and out[2]["n_chars"] == 0
    assert out[6]["n_tokens"] > 0  # unicode text still tokenizes
    assert 0.0 <= out[0]["quality"] <= 1.0
    assert out[0]["lang_guess"] == "en"


def test_sentence_udtf_edge_cases(spark):
    from heparchy_spark.operators.text import split_sentences

    df = spark.createDataFrame(
        [
            (1, "One. Two.  Three"),
            (2, ""),            # one empty sentence, 0 tokens
            (3, "No terminator"),
            (4, None),          # null doc -> no rows
        ],
        "doc_id long, text string",
    )
    rows = sorted(
        tuple(r) for r in split_sentences(spark, df, "text", "doc_id").collect()
    )
    assert rows == [
        (1, 0, "One", 1),
        (1, 1, "Two", 1),
        (1, 2, "Three", 1),
        (2, 0, "", 0),
        (3, 0, "No terminator", 2),
    ]


def test_normalize_url_rules(spark):
    from heparchy_spark.operators.web import normalize_url, url_domain

    cases = [
        # (input, canonical, domain)
        ("HTTPS://WWW.Foo.COM:443/a?utm_source=x&q=1#f",
         "https://www.foo.com/a?q=1", "foo.com"),
        ("http://Foo.com:80/b?q=2&utm_campaign=y",
         "http://foo.com/b?q=2", "foo.com"),
        ("https://foo.com:8443/c",  # non-default port kept
         "https://foo.com:8443/c", "foo.com"),
        ("http://bar.org/?utm_a=1&utm_b=2",  # all params tracking
         "http://bar.org/", "bar.org"),
        ("ftp://Baz.net/d#x", "ftp://baz.net/d", "baz.net"),
        # utm_ substrings in path / values are NOT params — must survive
        ("http://a.io/utm_page?a=1", "http://a.io/utm_page?a=1", "a.io"),
        ("http://a.io/p?a=utm_b&c=d", "http://a.io/p?a=utm_b&c=d", "a.io"),
        # consecutive utm params all stripped in one pass
        ("http://a.io/p?utm_a=1&utm_b=2&utm_c=3&q=9",
         "http://a.io/p?q=9", "a.io"),
        ("http://a.io/p?q=1&utm_x", "http://a.io/p?q=1", "a.io"),
        # malformed '?&' (native or left by stripping) repairs to '?'
        ("http://a.io/p?&a=1", "http://a.io/p?a=1", "a.io"),
        ("http://a.io/p?utm_s=1&a=2", "http://a.io/p?a=2", "a.io"),
        ("http://a.io/p?&&a=1", "http://a.io/p?a=1", "a.io"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _, _) in enumerate(cases)], "i long, url string"
    )
    rows = {
        r["i"]: (r["n"], r["d"])
        for r in df.select(
            "i",
            normalize_url("url").alias("n"),
            url_domain("url").alias("d"),
        ).collect()
    }
    for i, (_, want_norm, want_dom) in enumerate(cases):
        assert rows[i] == (want_norm, want_dom), (i, rows[i])


def test_url_domain_public_suffix_cases(spark):
    from heparchy_spark.operators.web import url_domain

    cases = [
        # multi-label ICANN suffixes: suffix + one label
        ("https://www.shop.example.co.uk/x", "example.co.uk"),
        ("http://a.b.site.co.jp/", "site.co.jp"),
        ("https://news.com.au:8080/y", "news.com.au"),
        # private-section platform suffixes
        ("https://user.github.io/repo", "user.github.io"),
        ("http://myblog.blogspot.com/post", "myblog.blogspot.com"),
        # 3-label suffix
        ("https://bucket.s3.amazonaws.com/key", "bucket.s3.amazonaws.com"),
        # plain TLD fallback
        ("https://www.example.com/", "example.com"),
        ("https://deep.sub.tree.example.org/", "example.org"),
        # host IS a public suffix / single label: returned whole
        ("https://co.uk/", "co.uk"),
        ("https://github.io/", "github.io"),
        ("http://localhost:8000/x", "localhost"),
        # case-folded before matching
        ("https://WWW.Example.CO.UK/", "example.co.uk"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], "i long, url string"
    )
    rows = {
        r["i"]: r["d"]
        for r in df.select("i", url_domain("url").alias("d")).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert rows[i] == want, (i, cases[i][0], rows[i])


def test_normalize_url_relative_passthrough(spark):
    from heparchy_spark.operators.web import normalize_url

    df = spark.createDataFrame(
        [(0, "/just/a/path?q=1"), (1, "no-scheme.com/x"), (2, "")],
        "i long, url string",
    )
    rows = {
        r["i"]: r["n"]
        for r in df.select("i", normalize_url("url").alias("n")).collect()
    }
    assert rows == {0: "/just/a/path?q=1", 1: "no-scheme.com/x", 2: ""}


def test_simhash_packed_votes_match_inline_expression(docs):
    # simhash_df packs 3 bit-counters per aggregate long; the plain-Python
    # per-bit vote (tools/build_expected.simhash64) is the unpacked
    # reference — fingerprints must be bit-identical on every doc (empty,
    # unicode, dup, long).
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    from build_expected import simhash64

    packed = {
        r["doc_id"]: r["simhash64"]
        for r in simhash_df(docs, "text", "doc_id").collect()
    }
    inline = {did: simhash64(text) for did, text in ROWS if text is not None}
    for did, fp in inline.items():
        assert packed[did] == fp, did


def test_bm25_ranks_matching_docs(spark, docs):
    """BM25: docs containing a query term outrank everything; a doc with
    both terms outranks a doc with one; null/empty/whitespace docs never
    surface; ties break by ascending doc id."""
    from heparchy_spark.operators.text import bm25_topk

    queries = spark.createDataFrame(
        [(0, "fox"), (0, "cat")], "query_id int, term string"
    )
    out = bm25_topk(docs, "text", "doc_id", queries, k=10).collect()
    assert all(r.query_id == 0 for r in out)
    ranked = [r.doc_id for r in sorted(out, key=lambda r: r.rk)]
    # only docs 0, 1, 8 contain 'fox' or 'cat'; doc 1 has both terms
    assert set(ranked) == {0, 1, 8}
    assert ranked[0] == 1
    # 0 and 8 are identical texts -> identical scores, id breaks the tie
    assert ranked[1:] == [0, 8]
    scores = {r.doc_id: r.score for r in out}
    assert scores[0] == scores[8]
    assert all(r.score > 0 for r in out)


def test_blocked_fuzzy_pairs_band_and_weights(spark):
    """Fuzzy blocking: cross-block pairs never compared, banded distance
    excludes above-threshold pairs, weights count raw occurrences, and
    the -1 early-exit sentinel never leaks into results."""
    import pyspark.sql.functions as F

    from heparchy_spark.operators.fuzzy import blocked_fuzzy_pairs

    rows = [
        (0, "red bolt"), (1, "red bolt"), (2, "red boat"),
        (3, "red anvil"),          # dist 4 from "red bolt" (> max 2)
        (4, "blue bolt"),          # other block, never compared
    ]
    df = spark.createDataFrame(rows, "id long, name string")
    out = blocked_fuzzy_pairs(
        df, "name", block=F.split(F.col("value"), " ")[0], max_dist=2
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.value_a, r.value_b, r.edit_dist) == ("red boat", "red bolt", 1)
    assert (r.n_a, r.n_b) == (1, 2)
    assert all(p.edit_dist >= 1 for p in out)


def test_chunk_documents_overlap_and_edges(spark):
    """Chunking: overlap regions repeat across adjacent chunks, short and
    single-token docs yield one chunk, empty/null docs yield none, and
    chunk text restores token order."""
    from heparchy_spark.operators.text import chunk_documents

    rows = [
        (0, " ".join(f"t{i}" for i in range(10))),  # 10 toks: chunks at 0,4
        (1, "one"),
        (2, ""),
        (3, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_documents(df, "text", "doc_id", chunk_tokens=6, overlap=2)
    got = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    assert {k[0] for k in got} == {0, 1}
    # the would-be chunk at start 8 ("t8 t9") is a strict subset of
    # chunk 1 and must be dropped
    c0 = [got[(0, k)] for k in range(2)]
    assert (0, 2) not in got
    assert [r.chunk_text for r in c0] == [
        "t0 t1 t2 t3 t4 t5",
        "t4 t5 t6 t7 t8 t9",
    ]
    assert [r.start_pos for r in c0] == [0, 4]
    assert [r.n_tokens for r in c0] == [6, 6]
    assert got[(1, 0)].chunk_text == "one"
    with pytest.raises(ValueError):
        chunk_documents(df, "text", "doc_id", chunk_tokens=4, overlap=4)


def test_incremental_minhash_only_cross_pairs(spark):
    """Incremental near-dup: batch docs are matched against the seen
    corpus only — seen-seen and batch-batch duplicate pairs are never
    reported, exact cross dups score jaccard 1.0, and unrelated batch
    docs stay silent."""
    import pyspark.sql.functions as F

    from heparchy_spark.operators.dedup import incremental_minhash_near_dups

    seen = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),  # seen dup
            (2, "an entirely different seen document about spark plans"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),  # cross dup
            (101, "the quick brown fox jumps over the lazy dog"),  # batch dup
            (102, "nothing like anything already ingested here today"),
        ],
        "doc_id long, text string",
    )
    out = incremental_minhash_near_dups(
        batch, seen, "text", "doc_id", jaccard_threshold=0.5
    ).collect()
    pairs = {(r.new_id, r.seen_id): r.jaccard for r in out}
    assert set(pairs) == {(100, 0), (100, 1), (101, 0), (101, 1)}
    assert all(j == 1.0 for j in pairs.values())


def test_entity_resolution_canonicalizes_variants(spark):
    """Entity resolution composition: spelling variants of one entity
    (blocked on first token, within edit distance) cluster together and
    canonicalize to the most frequent spelling; unrelated names stay
    their own clusters."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from heparchy_spark.operators.dedup import connected_components
    from heparchy_spark.operators.fuzzy import blocked_fuzzy_pairs

    rows = (
        [("acme corp",)] * 5
        + [("acme corpp",)] * 2
        + [("acme c0rp",)] * 1
        + [("globex inc",)] * 3
    )
    df = spark.createDataFrame(rows, "p_name string")
    pairs = blocked_fuzzy_pairs(
        df, "p_name", block=F.split(F.col("value"), " ")[0],
        max_dist=4, min_dist=1,
    )
    vals = df.groupBy(F.col("p_name").alias("value")).agg(
        F.count(F.lit(1)).alias("n")
    )
    cc = connected_components(pairs, "value_a", "value_b", vals, "value")
    w = Window.partitionBy("component").orderBy(F.desc("n"), F.asc("node"))
    ranked = cc.join(vals, cc["node"] == vals["value"]).select(
        "node", "component", "n", F.row_number().over(w).alias("rk")
    )
    canon = ranked.where(F.col("rk") == 1).select(
        "component", F.col("node").alias("canonical")
    )
    out = {
        r.node: r.canonical
        for r in ranked.join(canon, "component").collect()
    }
    assert out["acme corpp"] == "acme corp"
    assert out["acme c0rp"] == "acme corp"
    assert out["globex inc"] == "globex inc"


def test_winnowing_guarantee_on_shared_runs(spark):
    """Winnowing (k=3, w=4): documents sharing a run of >= k+w-1 = 6
    tokens share at least one fingerprint (the MOSS guarantee);
    token-disjoint documents share none; short docs (< 6 tokens)
    produce no fingerprints."""
    from heparchy_spark.operators.text import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [
            (0, f"intro words here {shared} trailing content"),
            (1, f"{shared} completely different ending text"),
            (2, "unrelated vocabulary entirely separate tokens forever"),
            (3, "too short"),
        ],
        "doc_id long, text string",
    )
    fps = winnowing_fingerprints(df, "text", "doc_id", k=3, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[0] & by_doc[1], "shared 6-token run must share a fingerprint"
    assert not (by_doc[0] & by_doc[2])
    assert not (by_doc[1] & by_doc[2])
    assert 3 not in by_doc


import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def _rand_corpus(draw):
    """Small random corpora with planted duplicate structure: a shared
    vocabulary keeps shingle collisions realistic, and copying an
    existing doc's text (with probability) plants true near-dups."""
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    n = draw(st.integers(min_value=4, max_value=10))
    docs = []
    for i in range(n):
        if docs and draw(st.booleans()):
            base = docs[draw(st.integers(0, len(docs) - 1))][1]
            extra = draw(st.lists(st.sampled_from(vocab), max_size=2))
            text = (base + " " + " ".join(extra)).strip()
        else:
            words = draw(
                st.lists(st.sampled_from(vocab), min_size=3, max_size=12)
            )
            text = " ".join(words)
        docs.append((i, text))
    split = draw(st.integers(min_value=1, max_value=n - 1))
    return docs, split


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_rand_corpus())
def test_incremental_minhash_equals_cross_split_slice(spark, case):
    """Property: for ANY corpus and split, the incremental batch-vs-seen
    result equals the cross-split slice of the full-corpus near-dup
    pairs — banding a pair is independent of which table holds each
    side."""
    from heparchy_spark.operators.dedup import (
        incremental_minhash_near_dups,
        minhash_near_dup_pairs,
    )

    docs, split = case
    df = spark.createDataFrame(docs, "doc_id long, text string")
    full = {
        (r.id_a, r.id_b): round(r.jaccard, 9)
        for r in minhash_near_dup_pairs(
            df, "text", "doc_id", jaccard_threshold=0.5
        ).collect()
    }
    # pairs always have a < b, so cross-split means a seen, b new
    want = {
        (b, a): j for (a, b), j in full.items() if a < split <= b
    }
    got = {
        (r.new_id, r.seen_id): round(r.jaccard, 9)
        for r in incremental_minhash_near_dups(
            df.where(F.col("doc_id") >= split),
            df.where(F.col("doc_id") < split),
            "text",
            "doc_id",
            jaccard_threshold=0.5,
        ).collect()
    }
    assert got == want


def test_compression_signals_separate_repetition(spark):
    """Compression ratio: a highly repetitive doc compresses far below
    a varied-text doc; empty text gets ratio 1.0 and zero bytes."""
    from heparchy_spark.operators.text import compression_signals

    df = spark.createDataFrame(
        [
            (0, "spam " * 200),
            (1, "the quick brown fox jumps over a lazy dog while seven "
                "wizards juggle bright vexing quartz orbs plus many other "
                "unusual phrases never repeated verbatim anywhere else"),
            (2, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in compression_signals(df, "text", "doc_id").collect()}
    assert out[0].compression_ratio < 0.1 < out[1].compression_ratio
    assert out[2].n_bytes == 0 and out[2].compression_ratio == 1.0


def test_containment_catches_excerpt_jaccard_misses(spark):
    """A short doc fully embedded in a long one scores containment 1.0
    on the short side while the symmetric Jaccard stays low — the case
    the containment coefficient exists for.  Docs share a leading token
    so the sorted-neighborhood generator blocks them together."""
    from heparchy_spark.operators.dedup import sorted_neighborhood_pairs

    short = "alpha beta gamma delta epsilon"
    longdoc = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lamda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    df = spark.createDataFrame(
        [(1, short), (2, longdoc), (3, "zebra unrelated words entirely")],
        "doc_id long, text string",
    )
    out = {
        (r["id_a"], r["id_b"]): r
        for r in sorted_neighborhood_pairs(
            df, "text", "doc_id", window=2, n=3
        ).collect()
    }
    pair = out.get((1, 2)) or out.get((2, 1))
    assert pair is not None, f"excerpt pair not a candidate: {out.keys()}"
    cmax = max(pair["containment_a"], pair["containment_b"])
    assert cmax == 1.0  # the short side is an exact subset
    assert pair["jaccard"] < 0.2  # symmetric score misses it
    # sizes identify which side is the excerpt
    assert min(pair["size_a"], pair["size_b"]) == len(short.split()) - 2


def test_fs_linkage_rare_field_agreement_outweighs_common(spark):
    """Fellegi-Sunter weights are data-driven through u: agreeing on a
    field whose values are nearly unique (low chance agreement) must add
    more weight than agreeing on a near-constant field."""
    import math

    import pyspark.sql.functions as F

    from heparchy_spark.queries.dedup import (
        _FS_M,
        dedup_fs_linkage_scores,
    )

    # 8 parts, one block ('alpha'/size 5): brand nearly unique
    # (8 values), type constant (u = 1 -> agree weight exactly ln(m)).
    rows = [
        (i, f"alpha n{i % 2}", f"B{i}" if i < 7 else "B0", "T0", 5)
        for i in range(8)
    ]
    df = spark.createDataFrame(
        rows, "p_partkey long, p_name string, p_brand string, "
        "p_type string, p_size int"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        write_table(df, d, "part")
        out = dedup_fs_linkage_scores(spark, d).collect()
    assert out, "blocked pairs expected"
    by_pair = {(r["p1"], r["p2"]): r for r in out}
    # pair (0, 7) agrees on brand B0 (rare), name2 (n0/alpha n1? 0:n0,
    # 7:n1 -> disagree), type, size; pair (0, 2) agrees on name2, type,
    # size but NOT brand.
    r07 = by_pair[(0, 7)]
    r02 = by_pair[(0, 2)]
    assert r07["agree_brand"] == 1 and r02["agree_brand"] == 0
    assert r07["fs_weight"] > r02["fs_weight"]
    # recompute r02's weight from first principles (u_type = 1.0 for the
    # constant field, so its agreement term is exactly ln(m_type))
    n = 8.0
    import collections

    def u(vals):
        c = collections.Counter(vals)
        return sum(v * v for v in c.values()) / (n * n)

    u_name2 = u([f"n{i % 2}" for i in range(8)])
    u_brand = u([f"B{i}" if i < 7 else "B0" for i in range(8)])
    u_type = 1.0
    m = {k: v / 100.0 for k, v in _FS_M.items()}
    expect = (
        math.log(m["name2"] / u_name2)       # 0 and 2 share n0
        + math.log((1 - m["brand"]) / (1 - u_brand))
        + math.log(m["ptype"] / u_type)
    )
    assert abs(r02["fs_weight"] - round(expect, 6)) < 1e-9


def test_fs_em_recovers_planted_mixture(spark):
    """EM on a synthetic two-population comparison-vector mixture: 200
    'match' pairs agree on each field w.p. ~0.9, 1800 'non-match'
    pairs w.p. ~0.1.  The estimates must separate (m >> u per field)
    and the match share must land near the true 10%."""
    import numpy as np

    from heparchy_spark.operators.fuzzy import fs_em_params

    rng = np.random.RandomState(3)
    rows = []
    for _ in range(200):  # matches
        rows.append(tuple(int(rng.rand() < 0.9) for _ in range(3)))
    for _ in range(1800):  # non-matches
        rows.append(tuple(int(rng.rand() < 0.1) for _ in range(3)))
    df = spark.createDataFrame(rows, "f1 int, f2 int, f3 int")
    out = {r.field: r for r in fs_em_params(df, ["f1", "f2", "f3"]).collect()}
    assert set(out) == {"f1", "f2", "f3"}
    for r in out.values():
        assert r.m_prob > 0.6 and r.u_prob < 0.25
        assert r.match_weight > 0 > r.nonmatch_weight
        assert abs(r.match_share - 0.1) < 0.06


def test_unigram_lm_train_learns_planted_subwords(spark):
    """The unigram trainer on a corpus built from two repeated stems
    must allocate multi-char subwords for the stems, keep every single
    character (coverability), and produce usage counts that exactly
    partition the character mass of the training words."""
    from heparchy_spark.operators.text import unigram_lm_train

    rows = [
        (i, "walking walked walker talking talked talker")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = unigram_lm_train(
        df, "text", "doc_id", vocab_size=24, iters=3, seed_size=64
    ).collect()
    ranks = [r.rank for r in out]
    assert ranks == list(range(1, len(out) + 1))
    subs = {r.subword: r.n_uses for r in out}
    # multi-char pieces are learned, substring-valid, and heavily used
    words = "walking walked walker talking talked talker".split()
    multi = [r for r in out if len(r.subword) > 1]
    assert len(multi) >= 4
    assert all(
        any(m.subword in w for w in words) for m in multi
    ), [m.subword for m in multi]
    # the top multi-char piece recurs at least once per document
    assert multi[0].n_uses >= 30
    # every training character is coverable: all singles present in vocab
    chars = set("walkingedrt")
    present = {s for s in subs if len(s) == 1}
    assert chars <= present | {
        s for sub in subs for s in sub
    }  # chars reachable through some piece
    # segmentation conservation: total characters used == total chars
    total_chars = sum(
        sum(len(w) for w in text.split()) for _, text in rows
    )
    used_chars = sum(len(s) * n for s, n in subs.items())
    # vocab_size truncation may drop low-use pieces from the REPORT but
    # counts are per-piece; recompute over the full candidate set isn't
    # exposed — assert the reported mass never exceeds the corpus mass
    assert used_chars <= total_chars
    assert all(r.logprob < 0 for r in out)


def test_unigram_encode_counts_fallback_and_ratio(spark):
    """Encoding under a hand-built vocab: coverable words take the
    Viterbi-best (fewest high-prob pieces) count; a word the vocab
    cannot cover falls back to one token per character."""
    from heparchy_spark.operators.text import unigram_encode_counts

    vocab = [("ab", -1.0), ("a", -3.0), ("b", -3.0), ("c", -3.0)]
    df = spark.createDataFrame(
        [(0, "abab c"), (1, "zzz"), (2, "ababab abc")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in unigram_encode_counts(df, "text", "doc_id", vocab).collect()
    }
    # 'abab' -> ab|ab (2), 'c' -> 1
    assert (got[0].n_words, got[0].n_unigram_tokens) == (2, 3)
    # 'zzz' uncoverable -> 3 (char fallback)
    assert (got[1].n_words, got[1].n_unigram_tokens) == (1, 3)
    # 'ababab' -> 3, 'abc' -> ab|c = 2
    assert (got[2].n_words, got[2].n_unigram_tokens) == (2, 5)
    assert got[2].unigram_per_word == 2.5


def test_bpe_train_survives_fully_merged_word(spark):
    """A word whose symbol sequence fully merges into ONE token within
    the merge budget must simply stop contributing pairs — the old
    adjacent-pair explode built sequence(1, size-1), which for size==1
    DESCENDS to [1, 0] and faults on element_at(syms, 2) (first hit at
    the 10x rehearsal; inevitable on any large corpus)."""
    from heparchy_spark.operators.text import bpe_train

    # 'aa' dominates: merge 1 = (a, </w>) (ties break '<' before 'a'),
    # merge 2 = (a, a</w>) -> the word is then the single symbol
    # 'aa</w>' and iterations 3-4 must see no pairs from it.
    df = spark.createDataFrame(
        [(0, "aa aa aa aa xy")], "doc_id long, text string"
    )
    out = bpe_train(df, "text", "doc_id", n_merges=4).collect()
    got = [(r.left, r.right) for r in sorted(out, key=lambda r: r.merge_idx)]
    assert got[:2] == [("a", "</w>"), ("a", "a</w>")]
    # remaining merges come from the surviving 'xy' word, not a crash
    assert got[2:] == [("x", "y"), ("xy", "</w>")]


def test_shared_word_table_identical_to_self_built(spark):
    """The r10 scan-once path: handing the trainer/appliers a
    precomputed word_freqs frame (words= / distinct_words=) must be
    output-IDENTICAL to each operator rebuilding the word table itself
    — the optimization only removes redundant corpus passes, never
    changes what is computed."""
    from heparchy_spark.operators.text import (
        bpe_encode_counts,
        bpe_train,
        lm_perplexity,
        unigram_encode_counts,
        unigram_lm_train,
        word_freqs,
    )

    df = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the dog sat on the log"),
            (2, "cats and dogs and logs"),
            (3, "zz q"),
        ],
        "doc_id long, text string",
    )
    words = word_freqs(df, "text").persist()

    def rows(d):
        return sorted(map(tuple, d.collect()))

    # trainers: artifact identical with a supplied word table
    base_m = rows(bpe_train(df, "text", "doc_id", n_merges=4))
    assert rows(
        bpe_train(df, "text", "doc_id", n_merges=4, words=words)
    ) == base_m
    base_v = rows(unigram_lm_train(df, "text", "doc_id", vocab_size=12))
    assert rows(
        unigram_lm_train(df, "text", "doc_id", vocab_size=12, words=words)
    ) == base_v

    # appliers: per-doc outputs identical with a supplied distinct-word
    # frame (the trainer's table, unique by construction)
    merges = [
        (r.left, r.right)
        for r in bpe_train(df, "text", "doc_id", n_merges=4, words=words)
        .orderBy("merge_idx")
        .collect()
    ]
    assert rows(
        bpe_encode_counts(df, "text", "doc_id", merges, distinct_words=words)
    ) == rows(bpe_encode_counts(df, "text", "doc_id", merges))
    vocab = [
        (r["subword"], r["logprob"])
        for r in unigram_lm_train(
            df, "text", "doc_id", vocab_size=12, words=words
        ).collect()
    ]
    assert rows(
        unigram_encode_counts(
            df, "text", "doc_id", vocab, distinct_words=words
        )
    ) == rows(unigram_encode_counts(df, "text", "doc_id", vocab))
    assert rows(
        lm_perplexity(df, "text", "doc_id", vocab, distinct_words=words)
    ) == rows(lm_perplexity(df, "text", "doc_id", vocab))
    words.unpersist()


def test_rouge_l_pairs_hand_cases(spark):
    """ROUGE-L on hand pairs: identical docs score 1.0; an order
    reversal keeps tokens (Jaccard-identical) but drops LCS; disjoint
    docs score 0; empty candidate yields zero scores without crashing."""
    from heparchy_spark.operators.text import rouge_l_pairs

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),
            (2, "delta gamma beta alpha"),
            (3, "zeta eta theta iota"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], "id_a long, id_b long"
    )
    got = {
        (r.id_a, r.id_b): r
        for r in rouge_l_pairs(docs, pairs, "text", "doc_id").collect()
    }
    assert got[(0, 1)].lcs_len == 4 and got[(0, 1)].rouge_f == 1.0
    # reversal: same token bag, LCS collapses to 1 -> ROUGE sees it
    assert got[(0, 2)].lcs_len == 1 and got[(0, 2)].rouge_f == 0.25
    assert got[(0, 3)].lcs_len == 0 and got[(0, 3)].rouge_f == 0.0
    assert got[(0, 4)].lcs_len == 0 and got[(0, 4)].rouge_p == 0.0


def test_rouge_l_pairs_vectorized_lcs_matches_textbook_dp(spark):
    """The row-vectorized NumPy LCS inside rouge_l_pairs must equal the
    textbook O(n*m) cell-loop DP exactly (the r10 optimization changed
    the operator's internals; the fixture mirror still runs the
    cell-loop form).  Random token lists across lengths 0..40, plus the
    high-overlap / disjoint extremes."""
    import random

    from heparchy_spark.operators.text import rouge_l_pairs

    def lcs_ref(a: list, b: list) -> int:
        if not a or not b:
            return 0
        prev = [0] * (len(b) + 1)
        for x in a:
            cur = [0] * (len(b) + 1)
            for j, y in enumerate(b, start=1):
                cur[j] = (
                    prev[j - 1] + 1 if x == y else max(prev[j], cur[j - 1])
                )
            prev = cur
        return prev[-1]

    rng = random.Random(42)
    docs_rows, pair_rows, expected = [], [], {}
    did = 0
    for pid in range(60):
        vocab = rng.randint(1, 8)
        a = [f"w{rng.randint(0, vocab)}" for _ in range(rng.randint(0, 40))]
        b = [f"w{rng.randint(0, vocab)}" for _ in range(rng.randint(0, 40))]
        docs_rows.append((did, " ".join(a)))
        docs_rows.append((did + 1, " ".join(b)))
        pair_rows.append((did, did + 1))
        expected[(did, did + 1)] = lcs_ref(a, b)
        did += 2
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    pairs = spark.createDataFrame(pair_rows, "id_a long, id_b long")
    got = {
        (r.id_a, r.id_b): r.lcs_len
        for r in rouge_l_pairs(docs, pairs, "text", "doc_id").collect()
    }
    assert got == expected


def test_lm_perplexity_scores_fallback_and_totals(spark):
    """Perplexity under a hand vocabulary: coverable words sum their
    Viterbi-path log-probs, uncoverable words pay len(word) tokens at
    the min(logprob)-1 OOV floor, empty docs are dropped, and the doc
    totals match a plain-Python recomputation through the same
    round(8)->decimal accumulation."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from heparchy_spark.operators.text import lm_perplexity

    vocab = [
        ("ab", math.log(0.5)),
        ("c", math.log(0.25)),
        ("a", math.log(0.125)),
        ("b", math.log(0.0625)),
    ]
    df = spark.createDataFrame(
        [(1, "ab c"), (2, "zz"), (3, "abc ab"), (4, "   ")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r
        for r in lm_perplexity(df, "text", "doc_id", vocab).collect()
    }
    assert set(got) == {1, 2, 3}

    q10 = Decimal(1).scaleb(-10)

    def dec8(x: float) -> Decimal:
        d = Decimal(repr(x)).quantize(
            Decimal("1e-8"), rounding=ROUND_HALF_UP
        )
        return d.quantize(q10, rounding=ROUND_HALF_UP)

    unk = math.log(0.0625) - 1.0
    # doc 1: "ab" -> [ab], "c" -> [c]
    t1 = dec8(math.log(0.5)) + dec8(math.log(0.25))
    assert got[1].n_words == 2 and got[1].n_tokens == 2
    assert got[1].nll_nats == float(
        Decimal(repr(-float(t1))).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP
        )
    )
    # doc 2: "zz" uncoverable -> 2 char tokens at the OOV floor
    assert got[2].n_words == 1 and got[2].n_tokens == 2
    t2 = dec8(2 * unk)
    assert got[2].nats_per_token == float(
        Decimal(repr(-float(t2) / 2)).quantize(
            Decimal("1e-6"), rounding=ROUND_HALF_UP
        )
    )
    # doc 3: "abc" best path ab+c beats a+b+c; plus "ab"
    assert got[3].n_tokens == 2 + 1
    # monotone: the OOV doc is the worst-modeled per token
    assert got[2].nats_per_token > got[1].nats_per_token


def test_ngram_novelty_planted_boilerplate(spark):
    """Two docs sharing a long template plus unique tails: shared
    5-grams score df=2 (not novel), unique tails score novel; a doc
    with fewer than 5 tokens emits no row; a fully-unique doc scores
    novelty 1.0."""
    from heparchy_spark.operators.text import ngram_novelty

    template = "this is the standard footer text of every page"
    rows = [
        (1, template + " alpha beta gamma delta epsilon"),
        (2, template + " zeta eta theta iota kappa"),
        (3, "completely different words appear only here once more"),
        (4, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in ngram_novelty(df, "text", "doc_id").collect()}
    assert set(got) == {1, 2, 3}
    assert got[3].novelty == 1.0
    # doc 1: 14 tokens -> 10 grams; the 5 grams fully inside the
    # 9-token template occur in doc 2 as well -> exactly 5 novel
    assert got[1].n_grams == 10 and got[1].n_novel == 5
    assert got[1].novelty == 0.5
    assert got[2].novelty == 0.5


def test_winnowing_overlap_pairs_catches_local_excerpt(spark):
    """A long quote embedded in an otherwise-unrelated host document
    pairs with its source (local overlap), unrelated docs do not, and
    a fingerprint common to > max_df docs stops contributing."""
    from heparchy_spark.operators.text import winnowing_overlap_pairs

    quote = "the quick brown fox jumps over the lazy dog every day"
    rows = [
        (1, "source article " + quote + " with original commentary after"),
        (2, "completely separate host text then " + quote + " then more"),
        (3, "nothing in common with either document at all honestly"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r.id_a, r.id_b): (r.shared_fps, r.overlap)
        for r in winnowing_overlap_pairs(
            df, "text", "doc_id", min_shared=2
        ).collect()
    }
    assert (1, 2) in pairs
    s, ov = pairs[(1, 2)]
    assert s >= 2 and 0.0 < ov <= 1.0
    assert all(3 not in p for p in pairs)

    # max_df guard: the same quote in 3 docs with max_df=2 drops its
    # fingerprints entirely -> no pair survives min_shared
    df3 = spark.createDataFrame(
        [(i, "host %d text " % i + quote) for i in range(3)],
        "doc_id long, text string",
    )
    got = winnowing_overlap_pairs(
        df3, "text", "doc_id", min_shared=2, max_df=2
    ).collect()
    assert got == []


def test_bm25_scores_match_python_reference(spark, docs):
    """Exact BM25 score values against a pure-Python mirror of the
    Lucene-flavoured formula over the SAME normalization — pins the
    dl-below-the-Generate pass-through (dl computed once per document in
    the token projection, copied through the explode) to the value the
    separate dl-frame join used to produce."""
    import math
    import re

    from heparchy_spark.operators.text import bm25_topk

    k1, b = 1.2, 0.75

    def norm_tokens(t):
        if t is None:
            return []
        t = re.sub(r"[^a-z0-9\s]", " ", t.lower())
        t = re.sub(r"\s+", " ", t).strip()
        return [w for w in t.split(" ") if w]

    toks = {did: norm_tokens(t) for did, t in ROWS}
    n_docs = len(ROWS)
    # dl is NULL for a null text column, and the decimal avg skips
    # nulls while n_docs counts every row — mirror that split exactly
    avgdl = sum(len(v) for v in toks.values()) / sum(
        1 for _, t in ROWS if t is not None
    )
    terms = ["fox", "cat"]

    def score(did):
        s = 0.0
        dl = float(len(toks[did]))
        for term in terms:
            tf = toks[did].count(term)
            if not tf:
                continue
            df_ = sum(1 for v in toks.values() if term in v)
            idf = math.log(1.0 + (n_docs - df_ + 0.5) / (df_ + 0.5))
            s += (
                idf * tf * (k1 + 1.0)
                / (tf + k1 * (1.0 - b + b * dl / avgdl))
            )
        return s

    queries = spark.createDataFrame(
        [(0, t) for t in terms], "query_id int, term string"
    )
    out = bm25_topk(docs, "text", "doc_id", queries, k1=k1, b=b, k=10)
    got = {r.doc_id: r.score for r in out.collect()}
    assert set(got) == {0, 1, 8}
    for did, sc in got.items():
        # engine scores are rounded to 6dp on output
        assert sc == pytest.approx(score(did), abs=1e-6), did

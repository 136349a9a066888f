"""Property tests for the round-4 late-session corpus queries: Markov
row-normalization, KM survival monotonicity, NDCG weight table, and the
merge == recompute identity on synthetic frames."""

from __future__ import annotations

import math

import pyspark.sql.functions as F

SF = "/root/testdata/sf0.001"


def test_markov_rows_normalize(spark):
    from heparchy_spark.queries import spark_queries

    rows = spark_queries()["events_markov_transitions"](spark, SF).collect()
    by_src: dict[str, float] = {}
    for r in rows:
        by_src[r.src] = by_src.get(r.src, 0.0) + r.prob
        assert 0.0 < r.prob <= 1.0
    # round-9 per-cell rounding: row sums within 1e-8 * |types| of 1
    assert by_src and all(abs(s - 1.0) < 1e-7 for s in by_src.values())


def test_kaplan_meier_monotone_nonincreasing(spark):
    from heparchy_spark.queries import spark_queries

    rows = sorted(
        spark_queries()["events_kaplan_meier"](spark, SF).collect(),
        key=lambda r: r.lifetime_days,
    )
    assert rows
    last = 1.0 + 1e-9
    for r in rows:
        assert 0.0 <= r.survival <= last + 1e-9
        last = r.survival
        assert r.n_at_risk >= r.n_churned


def test_ndcg_weight_table_matches_definition():
    from heparchy_spark.queries.text import _ndcg_weights

    wt, cum = _ndcg_weights()
    assert [rk for rk, _ in wt] == list(range(1, 11))
    for rk, w in wt:
        assert abs(w - 1.0 / math.log2(rk + 1)) < 5e-9
    # prefix sums are exact over the round-8 weights
    acc = 0.0
    assert cum[0] == (0, 0.0)
    for (rk, w), (n, c) in zip(wt, cum[1:]):
        acc = round(acc + w, 10)
        assert n == rk and abs(c - acc) < 1e-9


def test_incremental_merge_equals_recompute(spark):
    from heparchy_spark.queries import spark_queries

    qs = spark_queries()
    merged = {
        r.day: (r.n_orders, r.total_value)
        for r in qs["agg_incremental_merge"](spark, SF).collect()
    }
    from heparchy_spark.queries.numeric import dsum
    from heparchy_spark.queries.tables import load

    full = {
        r.day: (r.n_orders, r.total_value)
        for r in load(spark, SF, "orders")
        .groupBy(
            F.to_date(F.date_trunc("day", F.col("o_orderdate"))).alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.round(F.col("o_totalprice"), 2), 2).alias("total_value"),
        )
        .collect()
    }
    assert merged == full


def test_ab_ztest_counts_consistent(spark):
    from heparchy_spark.queries import spark_queries

    r = spark_queries()["events_ab_ztest"](spark, SF).collect()[0]
    assert r.n_a > 0 and r.n_b > 0
    assert 0 <= r.conv_a <= r.n_a and 0 <= r.conv_b <= r.n_b
    assert abs(r.rate_a - round(r.conv_a / r.n_a, 6)) < 1e-9
    if r.z_score is not None:
        assert (r.rate_a >= r.rate_b) == (r.z_score >= 0)


def test_gini_matches_bruteforce(spark):
    import duckdb

    from heparchy_spark.queries import spark_queries

    got = {
        r.priority: r
        for r in spark_queries()["profile_gini_order_value"](
            spark, SF
        ).collect()
    }
    con = duckdb.connect()
    rows = con.execute(
        "SELECT o_orderpriority, o_totalprice FROM "
        f"read_parquet('{SF}/orders.parquet')"
    ).fetchall()
    con.close()
    by_p: dict[str, list[int]] = {}
    for p, v in rows:
        by_p.setdefault(p, []).append(int(round(v * 100)))
    assert set(by_p) == set(got)
    for p, xs in by_p.items():
        xs.sort()
        n = len(xs)
        s_rank = sum((i + 1) * x for i, x in enumerate(xs))
        t = sum(xs)
        gini = (2 * s_rank - (n + 1) * t) / (n * t)
        assert abs(got[p].gini - gini) < 1e-8
        assert got[p].n_orders == n


def test_mannwhitney_matches_bruteforce(spark):
    import duckdb

    from heparchy_spark.queries import spark_queries

    r = spark_queries()["drift_mannwhitney_value"](spark, SF).collect()[0]
    con = duckdb.connect()
    rows = con.execute(
        "SELECT event_type, value FROM "
        f"read_parquet('{SF}/events.parquet') "
        "WHERE event_type IN ('purchase', 'click')"
    ).fetchall()
    con.close()
    vals = [(int(round(v * 1000000)), t == "purchase") for t, v in rows]
    vals.sort()
    # average ranks with ties, brute force
    ra = 0.0
    i = 0
    ties = 0
    while i < len(vals):
        j = i
        while j < len(vals) and vals[j][0] == vals[i][0]:
            j += 1
        c = j - i
        avg = i + (c + 1) / 2  # ranks i+1 .. i+c
        ra += avg * sum(1 for k in range(i, j) if vals[k][1])
        ties += c * c * c - c
        i = j
    na = sum(1 for _, a in vals if a)
    nb = len(vals) - na
    u = ra - na * (na + 1) / 2
    var = na * nb / 12.0 * ((na + nb + 1) - ties / ((na + nb) * (na + nb - 1.0)))
    z = (u - na * nb / 2) / math.sqrt(var)
    assert (r.n_a, r.n_b) == (na, nb)
    assert abs(r.u_stat - u) < 1e-6
    assert abs(r.z_score - z) < 1e-5


def test_target_encoding_loo_no_self_leak(spark):
    from heparchy_spark.queries import spark_queries

    rows = spark_queries()["dataset_target_encoding_loo"](spark, SF).collect()
    by_src: dict[str, list] = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for src, rs in by_src.items():
        sy = sum(r.y for r in rs)
        n = len(rs)
        for r in rs:
            if n == 1:
                assert r.target_enc is None
            else:
                assert abs(r.target_enc - (sy - r.y) / (n - 1)) < 1e-8


def test_chi2_matches_bruteforce(spark):
    import duckdb

    from heparchy_spark.queries import spark_queries

    r = spark_queries()["drift_chi2_lang_source"](spark, SF).collect()[0]
    con = duckdb.connect()
    rows = con.execute(
        "SELECT source, lang = 'en' FROM "
        f"read_parquet('{SF}/documents.parquet')"
    ).fetchall()
    con.close()
    n = len(rows)
    srcs = sorted({s for s, _ in rows})
    chi2 = 0.0
    for s in srcs:
        for y in (True, False):
            o = sum(1 for a, b in rows if a == s and b == y)
            rt = sum(1 for a, _ in rows if a == s)
            ct = sum(1 for _, b in rows if b == y)
            e = rt * ct / n
            chi2 += round((o - e) ** 2 / e, 9)
    assert r.n_docs == n
    assert r.dof == (len(srcs) - 1) * 1
    assert abs(r.chi2 - chi2) < 1e-6


def test_sequence_support_matches_bruteforce(spark):
    import duckdb

    from heparchy_spark.queries import spark_queries

    rows = spark_queries()["events_sequence_support"](spark, SF).collect()
    con = duckdb.connect()
    ev = con.execute(
        "SELECT user_id, event_type, ts FROM "
        f"read_parquet('{SF}/events.parquet')"
    ).fetchall()
    con.close()
    spans: dict[tuple, list] = {}
    users = set()
    for u, t, ts in ev:
        users.add(u)
        k = (u, t)
        if k not in spans:
            spans[k] = [ts, ts]
        else:
            spans[k][0] = min(spans[k][0], ts)
            spans[k][1] = max(spans[k][1], ts)
    expect: dict[tuple, int] = {}
    for (u, a), (amn, _) in spans.items():
        for (u2, b), (_, bmx) in spans.items():
            if u2 == u and a != b and amn < bmx:
                expect[(a, b)] = expect.get((a, b), 0) + 1
    got = {(r.first_type, r.then_type): r for r in rows}
    assert set(got) == set(expect)
    for k, n in expect.items():
        assert got[k].n_users == n
        assert abs(got[k].support - n / len(users)) < 1e-8


def test_reverify_names_front_checked_tier():
    """REVERIFY.json names (queries edited since their last driver
    check) must precede unlisted driver-checked queries in
    spark_queries() order, in the file's own priority order; driver-red
    retries still come first.  Checked on the committed evidence, which
    may list every checked query (then nothing is unlisted); the tiering
    itself is pinned on synthetic evidence below."""
    import json
    from pathlib import Path

    from heparchy_spark.queries import (
        _DRIVER_CHECKED,
        _RETRY_FIRST,
        _REVERIFY,
        spark_queries,
    )

    root = Path(__file__).resolve().parents[1]
    rv = json.loads((root / "REVERIFY.json").read_text())
    names = list(spark_queries())
    # v2 files carry per-name rounds in "entries" (insertion-ordered);
    # that order IS the priority order.  v1 fallback: "names".
    file_order = list(rv.get("entries") or rv["names"])
    listed = [
        n for n in file_order if n in _REVERIFY and n not in _RETRY_FIRST
    ]
    last_listed = max((names.index(n) for n in listed), default=-1)
    plain_checked = [
        n
        for n in names
        if n in _DRIVER_CHECKED
        and n not in _REVERIFY
        and n not in _RETRY_FIRST
    ]
    assert all(names.index(n) > last_listed for n in plain_checked)
    # the file's priority order is preserved among listed names that
    # have prior driver evidence (brand-new queries jump the queue;
    # driver-red retries front their own tier)
    idx = [names.index(n) for n in listed if n in _DRIVER_CHECKED]
    assert idx == sorted(idx)


def test_reverify_tiers_on_synthetic_evidence(monkeypatch):
    """``_ordered_names`` tiers: driver-red retries, then brand-new
    queries, then REVERIFY names in the file's order (not registration
    order), then the unlisted checked queries in registration order."""
    import heparchy_spark.queries as q

    q.spark_queries()  # loads every registration
    names = list(q.REGISTRY)
    retry, new, a, b, plain = names[-1], names[-2], names[3], names[1], names[0]
    checked = {n: 11 for n in names if n != new}
    monkeypatch.setattr(q, "_DRIVER_CHECKED", checked)
    monkeypatch.setattr(q, "_RETRY_FIRST", (retry,))
    # file order a, b is the reverse of their registration order
    monkeypatch.setattr(q, "_REVERIFY", (a, b))

    order = q._ordered_names()
    assert order[:4] == [retry, new, a, b]
    rest = [n for n in names if n not in (retry, new, a, b)]
    assert order[4:] == rest and rest[0] == plain

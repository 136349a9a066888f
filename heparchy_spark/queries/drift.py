"""Distribution-drift corpus queries (operators/drift.py).

The event stream splits at its time midpoint into "before" and "after"
halves — the snapshot-over-snapshot comparison every production
training pipeline runs; the document corpus splits by language for the
vocabulary-drift lens.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from heparchy_spark.operators.drift import (
    ks_two_sample,
    log_odds_terms,
    psi_fixed_bins,
)
from heparchy_spark.operators.sweep import sql_bin_of
from heparchy_spark.queries import register
from heparchy_spark.queries.tables import load

# Shared split: events before/after the midpoint of the observed range.
_MID_SQL = """
      SELECT (epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS mid FROM events
"""
# The oracle's bin of ``value`` over the global range ``r``.
_BIN_SQL = sql_bin_of("value", "(SELECT lo FROM r)", "(SELECT hi FROM r)", 10)


def _halved_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        (
            (
                F.unix_micros(F.min("ts").cast("timestamp"))
                + F.unix_micros(F.max("ts").cast("timestamp"))
            )
            / F.lit(2)
        )
        .cast("long")
        .alias("__mid")
    )
    return ev.crossJoin(F.broadcast(bounds)).withColumn(
        "__first",
        F.unix_micros(F.col("ts").cast("timestamp")) < F.col("__mid"),
    )


@register(
    "drift_value_ks",
    f"""
    WITH b AS ({_MID_SQL}),
    lab AS (
      SELECT value,
             CASE WHEN epoch_us(ts) < (SELECT mid FROM b)
                  THEN 1 ELSE 0 END AS ia
      FROM events
    ),
    pv AS (
      SELECT value, SUM(ia) AS da, SUM(1 - ia) AS db
      FROM lab GROUP BY value
    ),
    cum AS (
      SELECT SUM(da) OVER (ORDER BY value) AS ca,
             SUM(db) OVER (ORDER BY value) AS cb
      FROM pv
    ),
    n AS (SELECT SUM(da) AS na, SUM(db) AS nb FROM pv)
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           ROUND(CAST(MAX(ABS(ca * nb - cb * na)) AS DOUBLE)
                 / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 9) AS ks_stat
    FROM cum, n GROUP BY na, nb
    """,
    doc="Exact two-sample Kolmogorov-Smirnov statistic between event "
    "values before and after the stream's time midpoint.  Spark "
    "evaluates the ECDF difference with the distributed prefix sum "
    "(integer cross-multiples, supremum exact); the oracle uses the "
    "serial global window the operator replaces.",
    expects_bnlj=True,
    expects_broadcast="1-row totals + bounded bin frames",
    expects_global_window="prefix_sum's 64-row bucket-offset scan",
)
def drift_value_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ks_two_sample(
        _halved_events(spark, sf_dir).select("value", "__first"),
        "value",
        "__first",
    )


@register(
    "drift_value_wasserstein",
    f"""
    WITH b AS ({_MID_SQL}),
    lab AS (
      SELECT value,
             CASE WHEN epoch_us(ts) < (SELECT mid FROM b)
                  THEN 1 ELSE 0 END AS ia
      FROM events
    ),
    pv AS (
      SELECT value, SUM(ia) AS da, SUM(1 - ia) AS db
      FROM lab GROUP BY value
    ),
    cum AS (
      SELECT value,
             SUM(da) OVER (ORDER BY value) AS ca,
             SUM(db) OVER (ORDER BY value) AS cb,
             LEAD(value) OVER (ORDER BY value) AS nv
      FROM pv
    ),
    n AS (SELECT SUM(da) AS na, SUM(db) AS nb FROM pv)
    SELECT CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           ROUND(CAST(SUM(CAST(
             ROUND((COALESCE(nv, value) - value)
                   * CAST(ABS(ca * nb - cb * na) AS DOUBLE)
                   / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 9)
             AS DECIMAL(38,10))) AS DOUBLE), 9) AS w1_dist
    FROM cum, n GROUP BY na, nb
    """,
    doc="Exact 1-D Wasserstein (earth mover's) distance between event "
    "values before and after the stream's time midpoint — the "
    "magnitude-bearing companion to the KS supremum (how FAR the "
    "distributions moved, in value units).  Spark integrates "
    "|ECDF_A - ECDF_B| with the distributed prefix sum plus a "
    "two-level bucket successor (in-bucket lead windows + a bounded "
    "boundary table — never a global sort); integer cross-multiples "
    "and per-term round-9 decimal accumulation make the sum "
    "order-independent and engine-exact.  The oracle uses the serial "
    "global window the operator replaces "
    "(operators/drift.py wasserstein_1d).",
    expects_bnlj=True,
    expects_broadcast="1-row totals + bounded bin frames",
    expects_global_window="prefix_sum's 64-row bucket-offset scan",
)
def drift_value_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.drift import wasserstein_1d

    return wasserstein_1d(
        _halved_events(spark, sf_dir).select("value", "__first"),
        "value",
        "__first",
    )


@register(
    "drift_value_psi",
    f"""
    WITH b AS ({_MID_SQL}),
    r AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
    lab AS (
      SELECT value,
             CASE WHEN epoch_us(ts) < (SELECT mid FROM b)
                  THEN 1 ELSE 0 END AS ia
      FROM events
    ),
    binned AS (
      SELECT {_BIN_SQL} AS bin,
             SUM(ia) AS n_first,
             SUM(1 - ia) AS n_second
      FROM lab GROUP BY 1
    ),
    spine AS (SELECT UNNEST(GENERATE_SERIES(0, 9)) AS bin),
    full_bins AS (
      SELECT spine.bin,
             COALESCE(binned.n_first, 0) AS n_first,
             COALESCE(binned.n_second, 0) AS n_second
      FROM spine LEFT JOIN binned ON binned.bin = spine.bin
    ),
    tot AS (SELECT SUM(n_first) AS ta, SUM(n_second) AS tb FROM full_bins)
    SELECT bin,
           CAST(n_first AS BIGINT) AS n_first,
           CAST(n_second AS BIGINT) AS n_second,
           ROUND(
             ((CAST(n_first AS DOUBLE) + 1.0) / (CAST(ta AS DOUBLE) + 10.0)
              - (CAST(n_second AS DOUBLE) + 1.0) / (CAST(tb AS DOUBLE) + 10.0))
             * (ROUND(LN((CAST(n_first AS DOUBLE) + 1.0)
                         / (CAST(ta AS DOUBLE) + 10.0)), 8)
                - ROUND(LN((CAST(n_second AS DOUBLE) + 1.0)
                           / (CAST(tb AS DOUBLE) + 10.0)), 8)),
             8) AS psi_term
    FROM full_bins, tot
    ORDER BY bin
    """,
    doc="Population Stability Index contingency over 10 fixed-width "
    "bins of the global value range, events before vs after the time "
    "midpoint, Laplace-smoothed; sum(psi_term) IS the PSI.  One "
    "map-side-combinable scan to a 10-row table.",
    expects_bnlj=True,
    expects_broadcast="fixed histogram-bucket frames + 1-row bounds",
)
def drift_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return psi_fixed_bins(
        _halved_events(spark, sf_dir).select("value", "__first"),
        "value",
        "__first",
        n_bins=10,
    )


@register(
    "drift_value_jsd",
    f"""
    WITH b AS ({_MID_SQL}),
    r AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
    lab AS (
      SELECT value,
             CASE WHEN epoch_us(ts) < (SELECT mid FROM b)
                  THEN 1 ELSE 0 END AS ia
      FROM events
    ),
    binned AS (
      SELECT {_BIN_SQL} AS bin,
             SUM(ia) AS n_first,
             SUM(1 - ia) AS n_second
      FROM lab GROUP BY 1
    ),
    spine AS (SELECT UNNEST(GENERATE_SERIES(0, 9)) AS bin),
    full_bins AS (
      SELECT spine.bin,
             COALESCE(binned.n_first, 0) AS n_first,
             COALESCE(binned.n_second, 0) AS n_second
      FROM spine LEFT JOIN binned ON binned.bin = spine.bin
    ),
    tot AS (SELECT SUM(n_first) AS ta, SUM(n_second) AS tb FROM full_bins),
    probs AS (
      SELECT bin, n_first, n_second,
             (CAST(n_first AS DOUBLE) + 1.0)
               / (CAST(ta AS DOUBLE) + 10.0) AS pa,
             (CAST(n_second AS DOUBLE) + 1.0)
               / (CAST(tb AS DOUBLE) + 10.0) AS pb
      FROM full_bins, tot
    )
    SELECT bin,
           CAST(n_first AS BIGINT) AS n_first,
           CAST(n_second AS BIGINT) AS n_second,
           ROUND(
             0.5 * pa * (ROUND(LN(pa), 8) - ROUND(LN((pa + pb) / 2.0), 8))
             + 0.5 * pb * (ROUND(LN(pb), 8) - ROUND(LN((pa + pb) / 2.0), 8)),
             8) + 0.0 AS jsd_term
    FROM probs
    ORDER BY bin
    """,
    doc="Jensen-Shannon divergence contingency over 10 fixed-width "
    "bins of the global value range, events before vs after the time "
    "midpoint, Laplace-smoothed; sum(jsd_term) IS the JSD (base e, "
    "bounded by ln 2) — the symmetric, always-finite drift score "
    "beside PSI and KS.  One map-side-combinable scan to a 10-row "
    "table (operators/drift.py jsd_fixed_bins).",
    expects_bnlj=True,
    expects_broadcast="fixed histogram-bucket frames + 1-row bounds",
)
def drift_value_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.drift import jsd_fixed_bins

    return jsd_fixed_bins(
        _halved_events(spark, sf_dir).select("value", "__first"),
        "value",
        "__first",
        n_bins=10,
    )


@register(
    "drift_term_logodds",
    """
    WITH toks AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia,
             unnest(string_split(
               trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok AS term, SUM(ia) AS n_first, SUM(1 - ia) AS n_second
      FROM toks WHERE tok <> '' GROUP BY tok
    ),
    tot AS (SELECT SUM(n_first) AS ta, SUM(n_second) AS tb FROM vocab)
    SELECT term,
           CAST(n_first AS BIGINT) AS n_first,
           CAST(n_second AS BIGINT) AS n_second,
           ROUND(
             ROUND(LN((CAST(n_first AS DOUBLE) + 0.5)
                      / (CAST(ta AS DOUBLE) - n_first + 0.5)), 8)
             - ROUND(LN((CAST(n_second AS DOUBLE) + 0.5)
                        / (CAST(tb AS DOUBLE) - n_second + 0.5)), 8),
             8) AS log_odds
    FROM vocab, tot
    WHERE n_first + n_second >= 20
    ORDER BY ABS(ROUND(
             ROUND(LN((CAST(n_first AS DOUBLE) + 0.5)
                      / (CAST(ta AS DOUBLE) - n_first + 0.5)), 8)
             - ROUND(LN((CAST(n_second AS DOUBLE) + 0.5)
                        / (CAST(tb AS DOUBLE) - n_second + 0.5)), 8),
             8)) DESC, term
    LIMIT 25
    """,
    doc="Vocabulary drift: top-25 terms by |log-odds| (Haldane +0.5 "
    "smoothing, Monroe et al. 'Fightin' Words' uninformative-prior "
    "form) between English and non-English documents.  Exploded-token "
    "aggregate to a sublinear vocab table, then TakeOrdered top-k; "
    "ln() values snap to the 1e-8 grid so both engines rank "
    "identically.",
    expects_bnlj=True,
    expects_broadcast="1-row corpus totals",
)
def drift_term_logodds(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return log_odds_terms(
        docs.withColumn("__ia", F.col("lang") == F.lit("en")),
        "text",
        "doc_id",
        "__ia",
        k=25,
        min_count=20,
    )


@register(
    "drift_chi2_lang_source",
    """
    WITH d AS (
      SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    obs AS (SELECT source, y, COUNT(*) AS o FROM d GROUP BY source, y),
    rt AS (SELECT source, COUNT(*) AS r FROM d GROUP BY source),
    ct AS (SELECT y, COUNT(*) AS c FROM d GROUP BY y),
    n AS (SELECT COUNT(*) AS n FROM d),
    grid AS (
      SELECT rt.source, ct.y, rt.r, ct.c, n.n,
             COALESCE(obs.o, 0) AS o
      FROM rt CROSS JOIN ct CROSS JOIN n
      LEFT JOIN obs ON obs.source = rt.source AND obs.y = ct.y
    ),
    terms AS (
      SELECT ROUND(
               (o - CAST(r AS DOUBLE) * c / n)
               * (o - CAST(r AS DOUBLE) * c / n)
               / (CAST(r AS DOUBLE) * c / n), 9) AS t,
             n
      FROM grid
    )
    SELECT ROUND(CAST(SUM(CAST(t AS DECIMAL(38,10))) AS DOUBLE), 9)
             AS chi2,
           CAST((SELECT COUNT(*) FROM rt) - 1 AS BIGINT)
             * CAST((SELECT COUNT(*) FROM ct) - 1 AS BIGINT) AS dof,
           CAST(MAX(n) AS BIGINT) AS n_docs
    FROM terms
    """,
    doc="Pearson chi-squared independence test of document source vs "
    "the is-English label: the full contingency grid is the CROSS "
    "PRODUCT of the two marginal tables (both bounded by category "
    "cardinality, never corpus size) left-joined to observed counts so "
    "zero cells still contribute their expected mass.  Expected counts "
    "come from exact integer marginals; per-cell terms snap to the "
    "1e-9 grid and accumulate in decimal so the statistic is "
    "order-independent across engines and partitionings.",
    expects_bnlj=True,
    expects_broadcast="bounded contingency marginals (lang x source domain)",
)
def drift_chi2_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.queries.numeric import dsum

    d = load(spark, sf_dir, "documents").select(
        "source", (F.col("lang") == "en").cast("int").alias("y")
    )
    obs = d.groupBy("source", "y").agg(F.count(F.lit(1)).alias("o"))
    rt = d.groupBy("source").agg(F.count(F.lit(1)).alias("r"))
    ct = d.groupBy("y").agg(F.count(F.lit(1)).alias("c"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    grid = (
        rt.crossJoin(F.broadcast(ct))
        .crossJoin(F.broadcast(n))
        .join(obs, ["source", "y"], "left")
        .select(
            "source",
            "y",
            "r",
            "c",
            "n",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
        )
    )
    exp = F.col("r").cast("double") * F.col("c") / F.col("n")
    t = F.round((F.col("o") - exp) * (F.col("o") - exp) / exp, 9)
    dof = (
        rt.agg(F.count(F.lit(1)).alias("__nr"))
        .crossJoin(ct.agg(F.count(F.lit(1)).alias("__nc")))
        .select(
            ((F.col("__nr") - 1) * (F.col("__nc") - 1))
            .cast("long")
            .alias("dof")
        )
    )
    return (
        grid.select(t.alias("__t"), "n")
        .agg(
            F.round(dsum("__t", 9), 9).alias("chi2"),
            F.max("n").cast("long").alias("n_docs"),
        )
        .crossJoin(F.broadcast(dof))
        .select("chi2", "dof", "n_docs")
    )


@register(
    "drift_anova_value_by_type",
    """
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             ROUND(CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(38,10)))
                        AS DOUBLE), 6) AS s,
             ROUND(CAST(SUM(CAST(ROUND(value * value, 6)
                                 AS DECIMAL(38,10))) AS DOUBLE), 6) AS q
      FROM events GROUP BY event_type
    ),
    terms AS (
      SELECT n, s, q,
             ROUND(s * s / n, 9) AS s2n,
             ROUND(q - s * s / n, 9) AS ssw_g
      FROM g
    ),
    agg AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             COUNT(*) AS k,
             ROUND(CAST(SUM(CAST(s AS DECIMAL(38,10))) AS DOUBLE), 6)
               AS st,
             ROUND(CAST(SUM(CAST(s2n AS DECIMAL(38,10))) AS DOUBLE), 9)
               AS sum_s2n,
             ROUND(CAST(SUM(CAST(ssw_g AS DECIMAL(38,10))) AS DOUBLE), 9)
               AS ssw
      FROM terms
    )
    SELECT ROUND((sum_s2n - st * st / nn) / (k - 1)
                 / (ssw / (nn - k)), 9) AS f_stat,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(nn - k AS BIGINT) AS df_within,
           nn AS n_events
    FROM agg
    """,
    doc="One-way ANOVA F statistic of events.value across event types: "
    "between-group vs within-group variance from per-group (n, sum, "
    "sum-of-squares) — ONE combinable scan, never a second centered "
    "pass.  Addends snap to the round-6 grid and accumulate in decimal "
    "(the profile_group_trend moment convention); the k group-level "
    "terms round to 1e-9 and decimal-sum again so the statistic is "
    "order-independent across engines and partitionings at any group "
    "count.",
)
def drift_anova_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.queries.numeric import dsum

    ev = load(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.round(F.col("value"), 6), 6).alias("s"),
        dsum(F.round(F.col("value") * F.col("value"), 6), 6).alias("q"),
    )
    terms = g.select(
        "n",
        "s",
        "q",
        F.round(F.col("s") * F.col("s") / F.col("n"), 9).alias("s2n"),
        F.round(
            F.col("q") - F.col("s") * F.col("s") / F.col("n"), 9
        ).alias("ssw_g"),
    )
    agg = terms.agg(
        F.sum("n").cast("long").alias("nn"),
        F.count(F.lit(1)).alias("k"),
        dsum("s", 6).alias("st"),
        dsum("s2n", 9).alias("sum_s2n"),
        dsum("ssw_g", 9).alias("ssw"),
    )
    return agg.select(
        F.round(
            (F.col("sum_s2n") - F.col("st") * F.col("st") / F.col("nn"))
            / (F.col("k") - 1)
            / (F.col("ssw") / (F.col("nn") - F.col("k"))),
            9,
        ).alias("f_stat"),
        (F.col("k") - 1).cast("long").alias("df_between"),
        (F.col("nn") - F.col("k")).cast("long").alias("df_within"),
        F.col("nn").alias("n_events"),
    )


@register(
    "drift_mannwhitney_value",
    """
    WITH d AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a,
             CAST(ROUND(value * 1000000.0) AS BIGINT) AS sv
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    g AS (
      SELECT sv, SUM(a) AS ca, COUNT(*) AS c FROM d GROUP BY sv
    ),
    p AS (
      SELECT *, SUM(c) OVER (ORDER BY sv) - c AS nb FROM g
    ),
    s AS (
      SELECT SUM(CAST(ca AS DECIMAL(38,1))
                 * (CAST(nb AS DECIMAL(38,1))
                    + CAST(c + 1 AS DECIMAL(38,1)) / 2)) AS ra,
             SUM(ca) AS na,
             SUM(c) - SUM(ca) AS nb2,
             SUM(CAST(c AS DECIMAL(38,0)) * c * c - c) AS ties
      FROM p
    )
    SELECT ROUND(CAST(ra - CAST(na AS DECIMAL(38,1)) * (na + 1) / 2
                      AS DOUBLE), 1) AS u_stat,
           ROUND((CAST(ra - CAST(na AS DECIMAL(38,1)) * (na + 1) / 2
                       AS DOUBLE)
                  - CAST(na AS DOUBLE) * nb2 / 2)
                 / sqrt(CAST(na AS DOUBLE) * nb2 / 12.0
                        * ((na + nb2 + 1)
                           - CAST(ties AS DOUBLE)
                             / ((na + nb2) * (na + nb2 - 1.0)))), 6)
             AS z_score,
           CAST(na AS BIGINT) AS n_a, CAST(nb2 AS BIGINT) AS n_b
    FROM s
    """,
    doc="Tie-corrected Mann-Whitney U comparing purchase vs click "
    "values: fold duplicate values first, then each c-sized tie run "
    "starting after nb rows contributes ca * (nb + (c+1)/2) to the "
    "rank-sum (average-rank convention) — every term is a multiple of "
    "0.5, held exactly in DECIMAL(38,1) on both engines.  The oracle "
    "ranks with the textbook global SUM() OVER; the Spark side runs "
    "the distributed two-level prefix scan (operators/sweep.py), the "
    "same decomposition profile_gini_order_value uses, so the "
    "nonparametric test needs no single-task sort.  The normal "
    "approximation applies the standard tie correction "
    "sum(t^3 - t) from exact integer tie counts.",
    expects_bnlj=True,
    expects_broadcast="1-row group totals",
    expects_global_window="prefix_sum's 64-row bucket-offset scan over the folded value frame",
)
def drift_mannwhitney_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.operators.sweep import prefix_sum

    d1 = "decimal(38,1)"
    ev = load(spark, sf_dir, "events")
    d = ev.where(F.col("event_type").isin("purchase", "click")).select(
        (F.col("event_type") == "purchase").cast("int").alias("a"),
        F.round(F.col("value") * 1000000.0).cast("long").alias("sv"),
    )
    g = d.groupBy("sv").agg(
        F.sum("a").alias("ca"), F.count(F.lit(1)).alias("c")
    )
    p = prefix_sum(g, "sv", ["c"])
    s = p.select(
        "ca",
        "c",
        (F.col("c_cum") - F.col("c")).alias("nb"),
    ).agg(
        F.sum(
            F.col("ca").cast(d1)
            * (
                F.col("nb").cast(d1)
                + (F.col("c") + 1).cast(d1) / 2
            )
        ).alias("ra"),
        F.sum("ca").alias("na"),
        (F.sum("c") - F.sum("ca")).alias("nb2"),
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c")
            - F.col("c")
        ).alias("ties"),
    )
    u = (
        F.col("ra") - F.col("na").cast(d1) * (F.col("na") + 1) / 2
    ).cast("double")
    return s.select(
        F.round(u, 1).alias("u_stat"),
        F.round(
            (u - F.col("na").cast("double") * F.col("nb2") / 2)
            / F.sqrt(
                F.col("na").cast("double") * F.col("nb2") / 12.0
                * (
                    (F.col("na") + F.col("nb2") + 1)
                    - F.col("ties").cast("double")
                    / (
                        (F.col("na") + F.col("nb2"))
                        * (F.col("na") + F.col("nb2") - 1.0)
                    )
                )
            ),
            6,
        ).alias("z_score"),
        F.col("na").cast("long").alias("n_a"),
        F.col("nb2").cast("long").alias("n_b"),
    )


@register(
    "drift_embedding_shift",
    """
    WITH e AS (
      SELECT vec_id % 2 = 0 AS fh, i - 1 AS dim,
             ROUND(CAST(embedding[i] AS DOUBLE), 10) AS x
      FROM embeddings, generate_series(1, 64) AS t(i)
    ),
    m AS (
      SELECT dim,
             ROUND(CAST(SUM(CASE WHEN fh THEN CAST(x AS DECIMAL(38,10))
                                 ELSE 0 END) AS DOUBLE)
                   / SUM(CASE WHEN fh THEN 1 ELSE 0 END), 9) AS mean_first,
             ROUND(CAST(SUM(CASE WHEN NOT fh THEN CAST(x AS DECIMAL(38,10))
                                 ELSE 0 END) AS DOUBLE)
                   / SUM(CASE WHEN NOT fh THEN 1 ELSE 0 END), 9) AS mean_second
      FROM e GROUP BY dim
    )
    SELECT CAST(dim AS INTEGER) AS dim, mean_first, mean_second,
           ROUND(abs(mean_first - mean_second), 9) + 0.0 AS abs_shift
    FROM m
    """,
    doc="EMBEDDING-space drift — the representation-drift lens the "
    "scalar drift family (PSI/KS/JSD/W1 on values) cannot see: "
    "per-dimension mean of the two corpus halves (vec_id parity) and "
    "the absolute shift, the first-moment check run before trusting a "
    "re-embedded corpus against a persisted ANN index.  One posexplode "
    "scan to a 64-row table (map-side combinable decimal sums of "
    "round-10 components, so partial-aggregation order cannot leak); "
    "at 100 TB this is a single combinable aggregate, no shuffle of "
    "vectors themselves.",
)
def drift_embedding_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        (F.col("vec_id") % 2 == 0).alias("fh"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "x0"
        ),
    ).select("fh", "dim", F.round("x0", 10).alias("x"))
    dec = "decimal(38,10)"
    mean_first = F.round(
        F.sum(F.when(F.col("fh"), F.col("x")).otherwise(0.0).cast(dec))
        .cast("double")
        / F.sum(F.when(F.col("fh"), 1).otherwise(0)),
        9,
    )
    mean_second = F.round(
        F.sum(F.when(~F.col("fh"), F.col("x")).otherwise(0.0).cast(dec))
        .cast("double")
        / F.sum(F.when(~F.col("fh"), 1).otherwise(0)),
        9,
    )
    return (
        ex.groupBy("dim")
        .agg(mean_first.alias("mean_first"), mean_second.alias("mean_second"))
        .select(
            F.col("dim").cast("int").alias("dim"),
            "mean_first",
            "mean_second",
            (
                F.round(F.abs(F.col("mean_first") - F.col("mean_second")), 9)
                + F.lit(0.0)
            ).alias("abs_shift"),
        )
    )


# ---------------------------------------------------------------------------
# drift_classifier_auc — the classifier two-sample test
# ---------------------------------------------------------------------------

_C2ST_LABEL = (
    "CASE WHEN CAST(substring(source, 4) AS INTEGER) >= 10"
    " THEN 1 ELSE 0 END"
)
_C2ST_D_LABEL = (
    "CASE WHEN CAST(substring(d.source, 4) AS INTEGER) >= 10"
    " THEN 1 ELSE 0 END"
)


def _c2st_oracle() -> str:
    from heparchy_spark.queries.dataset import _auc_sql

    return _auc_sql(label_sql=_C2ST_LABEL, d_label_sql=_C2ST_D_LABEL)


@register(
    "drift_classifier_auc",
    _c2st_oracle(),
    doc="Classifier two-sample test (Lopez-Paz & Oquab 2017): train the "
    "hashed-bag-of-words logistic classifier to DISTINGUISH the "
    "reference corpus half (sources src0-src9) from the current half "
    "(src10-src19) and report its ROC AUC — AUC ~ 0.5 means the model "
    "cannot tell the corpora apart (no content drift), AUC near 1 "
    "means the new crawl's text distribution moved.  The modern drift "
    "check the scalar PSI/KS/JSD family cannot do: it sees ANY "
    "separable shift in the full lexical distribution, not one "
    "statistic at a time.  Same scale shape as quality_logreg_auc "
    "(shared logreg_label_auc): bounded 65-bucket training replay, "
    "histogram AUC over the score grid — no per-row global rank "
    "window.  Full SQL oracle (unrolled training trajectory).",
    expects_broadcast="fixed 65-bucket histogram + 1-row totals",
    expects_global_window="round-6 score-grid histogram frame (value-domain bounded)",
)
def drift_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from heparchy_spark.queries.dataset import logreg_label_auc

    docs = load(spark, sf_dir, "documents")
    label = (
        F.substring("source", 4, 10).cast("int") >= 10
    ).cast("int")
    return logreg_label_auc(docs, label)

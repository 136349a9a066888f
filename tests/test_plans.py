"""Scale-property assertions over real query plans (BASELINE.md §measurable
properties): partition pruning, predicate pushdown, column pruning,
broadcast joins, shuffle audit."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from heparchy_spark.plans import (
    has_broadcast_join,
    has_partition_filters,
    pushed_filters,
    scan_columns,
    shuffle_count,
)
from heparchy_spark.queries.tables import load
from tests.conftest import write_table

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def hepstore(spark, tmp_path_factory):
    from heparchy_spark.sources import HepWriter
    from tests.conftest import make_event

    root = tmp_path_factory.mktemp("planstore") / "s"
    rng = np.random.default_rng(11)
    with HepWriter(spark, root, evts_per_chunk=3) as w:
        with w.new_process("p") as proc:
            for evt_w, data in proc.event_iter(
                [make_event(rng) for _ in range(9)]
            ):
                evt_w.pmu = data["pmu"]
                evt_w.pdg = data["pdg"]
    return root


def test_point_lookup_prunes_partitions(spark, hepstore):
    """P3: proc[n] plan must carry PartitionFilters on process+chunk_id."""
    from heparchy_spark.sources import HepReader

    with HepReader(spark, hepstore) as r:
        evt = r["p"][5]
        assert has_partition_filters(evt.df, "process", "chunk_id")


def test_metadata_count_no_particle_scan(spark, hepstore):
    """P5: len(proc) touches only the processes table (no particles scan)."""
    from heparchy_spark.sources import HepReader

    with HepReader(spark, hepstore) as r:
        proc = r["p"]
        assert len(proc) == 9  # collect()s only the processes row at open


def test_column_pruning_reaches_scan(spark, hepstore):
    """P1: a 2-column projection reads exactly those columns + partitions."""
    from heparchy_spark.sources import HepReader

    with HepReader(spark, hepstore) as r:
        df = r["p"].particles.select("event_id", "e")
        cols = scan_columns(df)
        assert cols and set(cols[0]) <= {"event_id", "e"}


def test_predicate_pushdown_lineitem(spark):
    li = load(spark, SF_DIR, "lineitem").where(F.col("l_quantity") > 30).select("l_orderkey")
    pf = pushed_filters(li)
    assert any("l_quantity" in f for f in pf)


def test_small_dim_join_broadcasts(spark):
    n = load(spark, SF_DIR, "nation")
    c = load(spark, SF_DIR, "customer")
    joined = c.join(n, c.c_nationkey == n.n_nationkey)
    joined.collect()
    assert has_broadcast_join(joined)
    assert shuffle_count(joined) == 0  # broadcast -> no shuffle exchange


def test_q1_single_shuffle(spark):
    """TPC-H Q1 is scan -> partial agg -> one exchange -> final agg."""
    from heparchy_spark.queries import spark_queries

    df = spark_queries()["q1_pricing_summary"](spark, SF_DIR)
    df.collect()
    assert shuffle_count(df) <= 2  # agg exchange + tiny sort exchange


def test_contamination_broadcasts_eval_set(spark):
    """The eval shingle set must broadcast: the training stream is never
    shuffled for the overlap join (SCALE.md — eval ~MBs vs corpus ~TBs)."""
    from heparchy_spark.queries import spark_queries

    df = spark_queries()["dedup_contamination_check"](spark, SF_DIR)
    df.collect()
    assert has_broadcast_join(df)


def test_mix_sources_broadcasts_quotas(spark):
    """Per-source counts and the single-row N* must broadcast back onto the
    ranked stream — the only full-data shuffle is the ranking window."""
    from heparchy_spark.queries import spark_queries

    df = spark_queries()["dataset_mix_sources"](spark, SF_DIR)
    df.collect()
    assert has_broadcast_join(df)
    # the ranked stream is exchanged exactly once (the window); the other
    # exchanges move only tiny per-source count aggregates
    assert shuffle_count(df) <= 4


def test_shuffle_shards_no_global_sort(spark):
    """Shard positions come from per-shard windows: one hash exchange on
    shard_id, never a global (single-partition) sort."""
    from heparchy_spark.plans.inspect import physical_plan
    from heparchy_spark.queries import spark_queries

    df = spark_queries()["dataset_shuffle_shards"](spark, SF_DIR)
    df.collect()
    assert shuffle_count(df) == 1
    assert "SinglePartition" not in physical_plan(df)


def test_bloom_prefilter_broadcasts_filter(spark):
    """The Bloom words must broadcast to the probe side: the incoming
    batch never shuffles against the seen-corpus for the membership test
    (SCALE.md — that is the operator's entire reason to exist)."""
    from heparchy_spark.queries import spark_queries

    df = spark_queries()["dedup_bloom_prefilter"](spark, SF_DIR)
    df.collect()
    assert has_broadcast_join(df)


def test_pq_adc_lut_broadcasts_no_cartesian(spark):
    """PQ-ADC: the (query, subspace, code) LUT broadcasts onto the
    exploded code stream; distances come from one combinable aggregate —
    no cartesian product anywhere."""
    from heparchy_spark.plans.inspect import physical_plan
    from heparchy_spark.queries import spark_queries

    df = spark_queries()["similarity_pq_topk"](spark, SF_DIR)
    df.collect()
    plan = physical_plan(df)
    assert has_broadcast_join(df)
    assert "Cartesian" not in plan


def test_tpch_q21_no_cartesian_dims_broadcast(spark):
    """Q21's EXISTS/NOT EXISTS pair must compile to semi/anti joins with
    broadcast dimensions — never a per-row subquery or cross product."""
    from heparchy_spark.plans.inspect import physical_plan
    from heparchy_spark.queries import spark_queries

    df = spark_queries()["q21_waiting_suppliers"](spark, SF_DIR)
    df.collect()
    plan = physical_plan(df)
    assert "Cartesian" not in plan
    assert has_broadcast_join(df)
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_zorder_layout_range_partitions_no_global_sort(spark):
    """cluster_by_zorder must range-partition on the key and sort only
    within partitions — a global sort barrier would serialize the write."""
    from heparchy_spark.operators.layout import cluster_by_zorder
    from heparchy_spark.plans.inspect import physical_plan
    from heparchy_spark.queries.tables import load

    df = cluster_by_zorder(
        load(spark, SF_DIR, "orders"), ["o_custkey", "o_totalprice"],
        bits_per_col=8, num_files=4,
    )
    df.collect()
    plan = physical_plan(df)
    assert "rangepartitioning" in plan.lower()
    assert "SinglePartition" not in plan


def test_corpus_wide_no_scale_killers(spark):
    """Every registered corpus query plans free of scale-killers, by the
    rules and registry declarations of ``heparchy_spark.plans.violations``
    (the same ``offenders`` loop as ``tools/plan_gate.py --all``)."""
    from heparchy_spark.plans import offenders
    from heparchy_spark.queries import REGISTRY, _load_all

    _load_all()
    assert offenders(spark, SF_DIR, list(REGISTRY)) == []


def test_bm25_broadcasts_terms_and_stats(spark):
    """BM25: the query-term table and the single-row corpus stats must
    broadcast; the only fat shuffle is the candidate tf aggregate, with
    bounded candidate-only exchanges after it."""
    from heparchy_spark.plans.inspect import physical_plan
    from heparchy_spark.queries import REGISTRY, _load_all

    _load_all()
    df = REGISTRY["text_bm25_topk"].spark(spark, SF_DIR)
    assert has_broadcast_join(df)
    # exchanges: term distinct (tiny) + tf agg (the one fat shuffle) +
    # single-row stats + per-(query,doc) agg + rank window
    assert shuffle_count(df) <= 6
    # two corpus scans, both narrow: the candidate postings pass (which
    # now also carries dl — computed in the SAME projection as the token
    # split, BELOW the Generate, so subexpression elimination evaluates
    # the normalize/split once per document and no separate (doc, dl)
    # scan or doc-keyed join remains) and the single-row stats pass.
    # dl still does NOT ride ABOVE the explode: that would re-run the
    # normalization regexes per token (see bm25_topk docstring).
    plan = physical_plan(df)
    assert plan.count("FileScan parquet") == 2


def test_scd2_single_shuffle_single_scan(spark):
    """SCD2 history: change flag, run numbering, run aggregate and
    interval close all share the entity-key partitioning — exactly one
    exchange and one scan in the whole plan."""
    from heparchy_spark.plans.inspect import physical_plan
    from heparchy_spark.queries import REGISTRY, _load_all

    _load_all()
    df = REGISTRY["events_scd2_type_history"].spark(spark, SF_DIR)
    assert shuffle_count(df) == 1
    assert physical_plan(df).count("FileScan parquet") == 1


def test_chunking_single_shuffle_single_scan(spark):
    """RAG chunking: token explode + chunk fan-out are map-side; the
    reassembly aggregate is the only exchange, over one corpus scan."""
    from heparchy_spark.plans.inspect import physical_plan
    from heparchy_spark.queries import REGISTRY, _load_all

    _load_all()
    df = REGISTRY["text_chunk_documents"].spark(spark, SF_DIR)
    assert shuffle_count(df) == 1
    assert physical_plan(df).count("FileScan parquet") == 1


def test_merge_bounded_shuffles(spark):
    """MERGE classification: the full-outer key join (two exchanges) and
    the action aggregate are the only shuffles."""
    from heparchy_spark.queries import REGISTRY, _load_all

    _load_all()
    df = REGISTRY["merge_upsert_orders"].spark(spark, SF_DIR)
    assert shuffle_count(df) <= 3


def test_sample_quantiles_windowgrouplimit_partial(spark):
    """bottomk_sample_quantiles' row_number() <= s filter must compile
    to the two-phase WindowGroupLimit: a PARTIAL map-side bottom-s
    prune BEFORE the per-group exchange — the property that keeps a
    giant group from ever full-sorting (see operators/sketch.py)."""
    from heparchy_spark.plans.inspect import physical_plan
    from heparchy_spark.queries import spark_queries

    df = spark_queries()["sketch_sample_quantiles_value"](spark, SF_DIR)
    plan = physical_plan(df)
    assert plan.count("WindowGroupLimit") >= 2  # partial + final
    pre_exchange = plan.split("Exchange hashpartitioning", 1)[-1]
    assert "WindowGroupLimit" in pre_exchange  # the map-side (partial) one


def test_no_broadcast_hint_on_unbounded_frames():
    """The distinct-word table is sublinear but UNBOUNDED (10^8-10^9
    tokens at web scale — past Spark's broadcast hard cap), so the
    tokenizer-economics joins must leave sizing to AQE.  Grep-style
    guard: no F.broadcast inside the two encode operators (the r6
    verdict's weak flags); a reintroduced hint fails here, not at a
    100 TB deploy."""
    import inspect

    from heparchy_spark.operators.text import (
        bpe_encode_counts,
        unigram_encode_counts,
    )

    for fn in (bpe_encode_counts, unigram_encode_counts):
        src = inspect.getsource(fn)
        assert "F.broadcast" not in src, (
            f"{fn.__name__} broadcasts the unbounded distinct-word frame"
        )


def test_no_private_jvm_handles_outside_plans():
    """Spark Connect has no ``_jdf``/``_jsparkSession``/``_jvm``; the
    library reads them only behind the ``heparchy_spark/plans/``
    barrier, so no other module depends on them."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "heparchy_spark"
    private = re.compile(r"_jdf|_jsparkSession|_jvm")
    hits = [
        f"{path.relative_to(pkg)}:{i}"
        for path in sorted(pkg.rglob("*.py"))
        if path.relative_to(pkg).parts[0] != "plans"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if private.search(line)
    ]
    assert hits == []


def test_equi_width_buckets_only_in_sweep():
    """The equi-width bucket is written once, as ``bin_of`` in
    ``operators/sweep.py``; every other module buckets through it (or
    ``range_bucket``).  A hand-copied range-width division over Column
    bounds, ``(F.col("__hi") - F.col("__lo")) / ...``, fails here."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "heparchy_spark"
    width = re.compile(
        r"""\(\s*F\.col\(\s*["']\w*(?:hi|max)["']\s*\)\s*-\s*"""
        r"""F\.col\(\s*["']\w*(?:lo|min)["']\s*\)\s*\)\s*/""",
        re.IGNORECASE,
    )
    hits = [
        f"{path.relative_to(pkg)}:{text.count(chr(10), 0, m.start()) + 1}"
        for path in sorted(pkg.rglob("*.py"))
        if path.relative_to(pkg).as_posix() != "operators/sweep.py"
        for text in [path.read_text()]
        for m in width.finditer(text)
    ]
    assert hits == []


def test_degree_assortativity_signs(spark):
    """A star graph is maximally disassortative (r = -1); a clean
    two-clique graph is assortative-degenerate (all degrees equal ->
    zero variance -> defined 0.0); a path of 4 nodes is negative."""
    from heparchy_spark.operators.graph import degree_assortativity

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    r = degree_assortativity(star).collect()[0]
    assert r.n_edges == 10 and abs(r.assortativity + 1.0) < 1e-9

    cliques = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)],
        "src long, dst long",
    )
    r2 = degree_assortativity(cliques).collect()[0]
    assert r2.assortativity == 0.0  # all degrees 2: zero variance

    path = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    r3 = degree_assortativity(path).collect()[0]
    assert r3.assortativity < 0.0


def test_theil_decomposition_identity_and_zero(spark):
    """Equal revenues give Theil 0 everywhere; concentrating revenue in
    one nation makes between-group dominate; total = between + within
    by construction (within column is the difference, so check between
    <= total and both nonnegative on a skewed case)."""
    import tempfile

    import pyspark.sql.functions as F

    from heparchy_spark.queries.relational import agg_theil_inequality

    cust = [(i, f"c{i}", i % 2, 0.0, "SEG") for i in range(8)]
    equal = [(100 + i, i, "O", 50.0, "2024-01-01", "p") for i in range(8)]
    skew = [
        (100 + i, i, "O", 1000.0 if i % 2 == 0 else 1.0, "2024-01-01", "p")
        for i in range(8)
    ]
    with tempfile.TemporaryDirectory() as d:
        write_table(
            spark.createDataFrame(
                cust,
                "c_custkey long, c_name string, c_nationkey long,"
                " c_acctbal double, c_mktsegment string",
            ),
            d,
            "customer",
        )
        for name, orders in [("eq", equal), ("sk", skew)]:
            df = spark.createDataFrame(
                orders,
                "o_orderkey long, o_custkey long, o_orderstatus string,"
                " o_totalprice double, o_orderdate string,"
                " o_orderpriority string",
            ).withColumn("o_orderdate", F.to_date("o_orderdate"))
            write_table(df, f"{d}/{name}", "orders")
        import shutil

        shutil.copytree(
            d + "/customer.parquet", d + "/eq/customer.parquet"
        )
        shutil.copytree(
            d + "/customer.parquet", d + "/sk/customer.parquet"
        )
        r_eq = agg_theil_inequality(spark, d + "/eq").collect()[0]
        r_sk = agg_theil_inequality(spark, d + "/sk").collect()[0]
    assert r_eq.theil_total == 0.0
    assert r_eq.theil_between == 0.0 and r_eq.theil_within == 0.0
    assert r_sk.theil_total > 0.0
    # revenue concentrates entirely in nation 0's customers
    assert 0.0 < r_sk.theil_between <= r_sk.theil_total
    assert abs(
        (r_sk.theil_between + r_sk.theil_within) - r_sk.theil_total
    ) < 2e-6

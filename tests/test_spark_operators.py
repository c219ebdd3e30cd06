"""Spark-level tests for heavy hitters, quantiles, and membership operators
against exact oracles on the deterministic testdata tables."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from python_hll_spark.operators.membership import bloom_build, bloom_probe
from python_hll_spark.operators.quantiles import sketch_quantiles
from python_hll_spark.operators.topk import cms_topk, exact_topk
from python_hll_spark.sketches.cms import CMSConfig

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def lineitem(spark):
    return spark.read.parquet(f"{SF_DIR}/lineitem.parquet")


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def test_cms_topk_matches_exact_counts(spark, lineitem):
    cfg = CMSConfig(depth=5, width=65536)
    got = cms_topk(lineitem, ["l_returnflag"], "l_suppkey", k=5, cfg=cfg).collect()
    exact = {(r["l_returnflag"], r["key"]): r["cnt"]
             for r in exact_topk(lineitem, ["l_returnflag"], "l_suppkey", k=50).collect()}
    n_per_group = {r["l_returnflag"]: r["n"] for r in
                   lineitem.groupBy("l_returnflag").agg(F.count("*").alias("n")).collect()}
    assert len(got) == 5 * len(n_per_group)
    for r in got:
        key = (r["l_returnflag"], r["key"])
        n = n_per_group[r["l_returnflag"]]
        if key in exact:
            # CMS never undercounts; overcount bounded by eps*N
            assert r["est_count"] >= exact[key]
            assert r["est_count"] - exact[key] <= cfg.eps * n + 1


def test_kll_quantiles_vs_exact(spark, events):
    qs = [0.01, 0.25, 0.5, 0.75, 0.99]
    got = {r["event_type"]: r["quantiles"] for r in
           sketch_quantiles(events, "value", qs, by=["event_type"], method="kll").collect()}
    pdf = events.select("event_type", "value").toPandas()
    for etype, sub in pdf.groupby("event_type"):
        vals = np.sort(sub["value"].to_numpy())
        for q, est in zip(qs, got[etype]):
            true_rank = np.searchsorted(vals, est) / len(vals)
            assert abs(true_rank - q) < 0.03, (etype, q, true_rank)


def test_tdigest_quantiles_vs_exact(spark, lineitem):
    qs = [0.1, 0.5, 0.9]
    got = sketch_quantiles(lineitem, "l_extendedprice", qs, method="tdigest").collect()[0]
    vals = np.sort(lineitem.select("l_extendedprice").toPandas()["l_extendedprice"].to_numpy())
    for q, est in zip(qs, got["quantiles"]):
        true_rank = np.searchsorted(vals, est) / len(vals)
        assert abs(true_rank - q) < 0.02, (q, true_rank)


def test_bloom_membership_no_false_negatives(spark, lineitem):
    states = bloom_build(lineitem, "l_partkey", by=["l_returnflag"])
    probes = lineitem.select("l_returnflag", "l_partkey").distinct()
    res = bloom_probe(states, probes, "l_partkey", by=["l_returnflag"])
    n_total = res.count()
    n_found = res.where("might_contain").count()
    assert n_found == n_total  # present keys always found

    # absent keys: FP rate small
    absent = spark.range(10_000_000, 10_005_000).select(
        F.lit("A").alias("l_returnflag"), F.col("id").alias("l_partkey"))
    fp = bloom_probe(states, absent, "l_partkey", by=["l_returnflag"])
    rate = fp.where("might_contain").count() / 5000
    assert rate < 0.02, rate


def test_cms_topk_late_surging_heavy_hitter(spark):
    """SpaceSaving admission in the batch candidate pass: a heavy hitter
    spread thinly across many Arrow batches (evicted at every truncation)
    must still reach the candidate set and rank 1 — restart-at-zero
    truncation starves it below each batch's fresh keys."""
    import pandas as pd

    # Arrow batches 1-9: 20 fresh lights x100 (> cap=16, HEAVY at 80 evicted
    # each truncation); batch 10: HEAVY alone — restart-at-zero would
    # re-admit it at 80 below the kept lights' 100s and drop it again.
    rows = []
    for seg in range(9):
        for i in range(20):
            rows += [(seg * 10000 + i * 100 + r, "g", f"l{seg}_{i}")
                     for r in range(100)]
        rows += [(seg * 10000 + 5000 + r, "g", "HEAVY") for r in range(80)]
    rows += [(100000 + r, "g", "HEAVY") for r in range(80)]
    df = (spark.createDataFrame(rows, "seq long, grp string, key string")
          .repartition(1).sortWithinPartitions("seq"))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2080")
    try:
        from python_hll_spark.operators.topk import cms_topk
        got = cms_topk(df, ["grp"], "key", k=1,
                       candidates_per_task=4).collect()
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(got) == 1
    assert got[0]["key"] == "HEAVY", got
    # est_count comes from the CMS: true count, not the inflated admission
    assert 800 <= got[0]["est_count"] <= 800 + int(2.72 / 65536 * 21000) + 1


def test_cms_topk_build_launches_no_job(spark):
    """Building the cms_topk DataFrame is lazy: no job runs until an
    action, so the plan can be composed and shares one lineage."""
    sc = spark.sparkContext
    df = spark.createDataFrame([("g", f"w{i % 7}") for i in range(200)],
                               "g string, w string")
    group = "cms-topk-build-no-job"
    sc.setJobGroup(group, "cms_topk build")
    try:
        out = cms_topk(df, ["g"], "w", k=2)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        got = out.collect()
        assert list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()
    assert [(r["key"], r["est_count"]) for r in got] == [("w0", 29), ("w1", 29)]


# ----------------------------------------------- pairwise overlap matrix
def test_hll_overlap_matrix_within_bound(spark):
    """K groups with engineered pairwise overlaps: every est_intersection
    within 3-sigma-per-term inclusion-exclusion bounds of the exact
    overlap, all K(K-1)/2 unordered pairs present, one corpus scan."""
    from python_hll_spark.operators.ndv import hll_overlap_matrix
    from python_hll_spark.sketches.hll import HLLConfig

    # group g owns users [g*600, g*600+1000): consecutive groups share 400
    rows = [(f"g{g}", u) for g in range(4)
            for u in range(g * 600, g * 600 + 1000)]
    df = spark.createDataFrame(rows, "grp string, user bigint")
    cfg = HLLConfig.create(13, 5)
    caches = []
    got = {(r["group_a"], r["group_b"]): r for r in
           hll_overlap_matrix(df, "user", "grp", cfg=cfg,
                              cache_out=caches).collect()}
    assert len(got) == 6  # 4C2
    sets = {f"g{g}": set(range(g * 600, g * 600 + 1000)) for g in range(4)}
    sigma = cfg.error_bound
    for (ga, gb), r in got.items():
        exact_i = len(sets[ga] & sets[gb])
        exact_u = len(sets[ga] | sets[gb])
        bound = 3 * sigma * (len(sets[ga]) + len(sets[gb]) + exact_u)
        assert abs(r["est_intersection"] - exact_i) <= bound, (ga, gb)
        assert abs(r["est_union"] - exact_u) <= 3 * sigma * exact_u + 1
    for c in caches:
        c.unpersist()


def test_hll_overlap_matrix_single_scan_plan(spark):
    """The pair self-join must read the persisted K-row state frame, not
    re-run the corpus scan per side."""
    from python_hll_spark.operators.ndv import hll_overlap_matrix

    df = spark.createDataFrame(
        [(f"g{i % 3}", i) for i in range(300)], "grp string, user bigint")
    caches = []
    out = hll_overlap_matrix(df, "user", "grp", cache_out=caches)
    plan = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))
    # both join sides read the persisted state frame (the corpus lineage
    # appears only INSIDE the InMemoryRelation bodies), and the pair join
    # broadcasts — no shuffle of state rows
    tree = plan.split("(1) ")[0]
    assert tree.count("InMemoryTableScan") >= 2, tree
    assert "Broadcast" in tree
    # raw-source scans appear only INSIDE InMemoryRelation bodies: every
    # join-side branch starts at a cache scan, so each "Scan ExistingRDD"
    # line must sit deeper than an InMemoryRelation line above it
    for ln in tree.splitlines():
        if "Scan ExistingRDD" in ln:
            depth = ln.index("Scan")
            assert any("InMemoryRelation" in up and up.index("InMemory") < depth
                       for up in tree.splitlines()), ln
    for c in caches:
        c.unpersist()

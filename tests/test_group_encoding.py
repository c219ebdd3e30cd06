"""Null-safe + composite group keys on the Arrow-native partial builders,
and the bounded (SpaceSaving-style) cms_topk candidate stage.

Round-2 hardening: a single NULL in a group column used to crash every
Arrow builder (dictionary indices round-trip through float64 NaN), and
cms_topk's per-task candidate dict grew without bound — the two defects
that most directly threatened a 100 TB run.
"""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from python_hll_spark.operators.aggregate import dict_encode_groups


# ------------------------------------------------------- unit: the encoder
def test_dict_encode_single_col_with_nulls():
    batch = pa.record_batch({"g": pa.array(["a", None, "b", "a", None])})
    codes, keys = dict_encode_groups(batch, ["g"])
    assert sorted(k[0] if k[0] is not None else "\0null" for k in keys) == \
        ["\0null", "a", "b"]
    # codes map rows back to their keys
    got = [keys[c][0] for c in codes]
    assert got == ["a", None, "b", "a", None]


def test_dict_encode_composite_cols():
    batch = pa.record_batch({
        "g1": pa.array(["x", "x", "y", "y", None]),
        "g2": pa.array([1, 2, 1, 1, 2], pa.int32()),
    })
    codes, keys = dict_encode_groups(batch, ["g1", "g2"])
    got = {(keys[c]) for c in codes}
    assert got == {("x", 1), ("x", 2), ("y", 1), (None, 2)}
    assert len(keys) == 4
    counts = np.bincount(codes, minlength=len(keys))
    assert counts.sum() == 5
    assert counts[list(keys).index(("y", 1))] == 2


def test_dict_encode_no_group_cols():
    batch = pa.record_batch({"v": pa.array([1, 2, 3])})
    codes, keys = dict_encode_groups(batch, [])
    assert keys == [()]
    assert (codes == 0).all() and len(codes) == 3


# ----------------------------------------------- Spark: null group columns
def test_hll_ndv_column_null_groups(spark):
    from python_hll_spark.operators.ndv import hll_ndv_column

    rows = [("a", i % 50) for i in range(500)] + \
           [(None, i % 30) for i in range(300)] + \
           [("b", i % 10) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, v int")
    out = hll_ndv_column(df, "v", by=["g"]).select("g", "ndv").collect()
    got = {r["g"]: r["ndv"] for r in out}
    assert set(got) == {"a", "b", None}
    assert got["a"] == 50 and got[None] == 30 and got["b"] == 10


def test_hll_ndv_column_null_values_excluded(spark):
    """F.xxhash64(NULL) returns the seed constant — nulls must be filtered
    so the estimate matches countDistinct semantics (ADVICE fix)."""
    from python_hll_spark.operators.ndv import hll_ndv_column

    rows = [("a", v) for v in [1, 2, 3, None, None, None]] + [("c", None)]
    df = spark.createDataFrame(rows, "g string, v int")
    out = hll_ndv_column(df, "v", by=["g"]).select("g", "ndv").collect()
    got = {r["g"]: r["ndv"] for r in out}
    # group with some nulls: nulls excluded; group with ONLY nulls: ndv=0
    # row still present (countDistinct keeps the group)
    assert got == {"a": 3, "c": 0}


def test_hll_ndv_tokens_composite_groups(spark):
    """>=2 group columns now run the Arrow-native path (no pandas fallback)."""
    from python_hll_spark.operators.ndv import hll_ndv_tokens

    rows = []
    rng = np.random.default_rng(7)
    for s in ["s1", "s2"]:
        for d in ["d1", "d2"]:
            base = {"s1": 0, "s2": 1000}[s] + {"d1": 0, "d2": 500}[d]
            for i in range(50):
                toks = (base + rng.integers(0, 40, size=20)).tolist()
                rows.append((s, d, [int(t) for t in toks]))
    df = spark.createDataFrame(rows, "source string, day string, tokens array<int>")
    out = hll_ndv_tokens(df, by=["source", "day"]).select(
        "source", "day", "ndv").collect()
    assert len(out) == 4
    exact = (df.select("source", "day", F.explode("tokens").alias("t"))
             .groupBy("source", "day").agg(F.countDistinct("t").alias("x"))
             .collect())
    em = {(r["source"], r["day"]): r["x"] for r in exact}
    for r in out:
        x = em[(r["source"], r["day"])]
        assert abs(r["ndv"] - x) <= 0.15 * x  # log2m=11: sigma ~2.3%


def test_cms_topk_composite_groups_and_nulls(spark):
    """Rank 2 is a tie on count between two keys whose rows are spread over
    every input partition: the per-task partials must merge to the exact
    count, and the tie must break on ``key`` ascending."""
    import random

    from python_hll_spark.operators.topk import cms_topk, exact_topk

    rows = []
    for g1 in ["a", "b", None]:
        for g2 in [1, 2]:
            # heavy key per (g1, g2), two keys tied below it, plus noise
            heavy = f"HH-{g1}-{g2}"
            rows += [(g1, g2, heavy)] * 100
            rows += [(g1, g2, "TIE-y"), (g1, g2, "TIE-x")] * 60
            rows += [(g1, g2, f"w{i}") for i in range(30)]
    random.Random(0).shuffle(rows)
    df = spark.createDataFrame(rows, "g1 string, g2 int, w string")
    assert df.rdd.getNumPartitions() > 1
    got = cms_topk(df, ["g1", "g2"], "w", k=2).collect()
    assert len(got) == 12
    for r in got:
        if r["rank"] == 1:
            assert r["key"] == f"HH-{r['g1']}-{r['g2']}"
            assert r["est_count"] >= 100
    # collision-free input: estimates equal the exact counts
    exact = exact_topk(df, ["g1", "g2"], "w", k=2).collect()
    assert ({(r["g1"], r["g2"], r["key"], r["rank"], r["est_count"]) for r in got}
            == {(r["g1"], r["g2"], r["key"], r["rank"], r["cnt"]) for r in exact})
    assert {r["key"] for r in got if r["rank"] == 2} == {"TIE-x"}


def test_cms_topk_shared_cms_matches_per_group(spark):
    """High-group-arity mode: one composite-key CMS instead of per-group
    states.  Same top-k selection as per-group mode on collision-free data,
    including NULL groups and NULL keys."""
    from python_hll_spark.operators.topk import cms_topk

    rows = []
    for g1 in ["a", "b", None]:
        for g2 in [1, 2]:
            heavy = f"HH-{g1}-{g2}"
            rows += [(g1, g2, heavy)] * 100
            rows += [(g1, g2, f"w{i}") for i in range(30)]
    rows += [(None, 1, None)] * 40  # NULL key in a NULL group
    df = spark.createDataFrame(rows, "g1 string, g2 int, w string")
    got = cms_topk(df, ["g1", "g2"], "w", k=1, shared_cms=True).collect()
    assert len(got) == 6
    for r in got:
        if r["g1"] is None and r["g2"] == 1:
            assert r["key"] == "HH-None-1"  # 100 beats the 40 NULL keys
        else:
            assert r["key"] == f"HH-{r['g1']}-{r['g2']}"
        assert r["est_count"] >= 100


def test_cms_topk_null_keys(spark):
    """NULL key values form a countable candidate (Spark groupBy semantics)."""
    from python_hll_spark.operators.topk import cms_topk

    rows = [("g", None)] * 50 + [("g", f"w{i}") for i in range(20)]
    df = spark.createDataFrame(rows, "g string, w string")
    got = cms_topk(df, ["g"], "w", k=1).collect()
    assert len(got) == 1
    assert got[0]["key"] is None
    assert got[0]["est_count"] >= 50


# ------------------------------------------- bounded candidate memory
def test_cms_topk_candidate_memory_bounded(spark):
    """>=10^6 distinct keys through one task: the candidate stage must hold
    a bounded summary, and the true heavy hitters must still surface."""
    from python_hll_spark.operators.topk import cms_topk

    n_distinct = 1_000_000
    df = (spark.range(0, n_distinct, 1, 2)
          .select(F.lit("g").alias("g"),
                  F.concat(F.lit("k"), F.col("id")).alias("w")))
    # heavy hitters: 3 keys repeated many times
    heavy = spark.createDataFrame(
        [("g", f"HOT{i}") for i in range(3) for _ in range(500)],
        "g string, w string")
    got = cms_topk(df.unionByName(heavy), ["g"], "w", k=3,
                   candidates_per_task=64).collect()
    keys = {r["key"] for r in got}
    assert keys == {"HOT0", "HOT1", "HOT2"}


def test_local_candidate_truncation_is_bounded():
    """Drive the truncation logic directly: after each batch the per-group
    summary must stay <= cap entries regardless of distinct-key volume."""
    cap = 256
    per_group: dict = {}
    rng = np.random.default_rng(3)
    for batch in range(50):
        keys = rng.integers(0, 1_000_000, size=10_000)
        uniq, cnts = np.unique(keys, return_counts=True)
        d = per_group.setdefault(("g",), {})
        for kk, c in zip(uniq.tolist(), cnts.tolist()):
            d[kk] = d.get(kk, 0) + c
        for gkey, dd in per_group.items():
            if len(dd) > cap:
                keep = sorted(dd.items(), key=lambda kv: (-kv[1], str(kv[0])))[:cap]
                per_group[gkey] = dict(keep)
        assert len(per_group[("g",)]) <= cap

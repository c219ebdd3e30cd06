"""The three closed-loop workloads and the checks on their outputs.

Each workload has an untraced ``op`` that calls the public operator the way
a user would, and a ``traced_op`` that calls the same layers one by one
inside spans (materialising between layers so each span owns its work).
Both return a result that ``check`` compares with exact answers; ``check``
returns a list of failure messages (empty when the output is correct).
"""

from __future__ import annotations

import glob
import os
import shutil
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import functions as F

import gen

QS = gen.QUANTILES
TOPK = 10
CMS_DEPTH, CMS_WIDTH = 5, 65536  # cms_topk's default configuration
KLL_K = 200                      # sketch_quantiles' default
HLL_SIGMAS = 3  # ndv check: within 3 relative standard errors of the exact NDV
DUP_THRESHOLD = 0.8              # near_dedup_tokens' default


def _hll_cfg():
    from python_hll_spark.sketches.hll import HLLConfig
    return HLLConfig.create(11, 5)  # hll_ndv_tokens' default


def _hll_spec():
    from python_hll_spark.sketches.specs import HLLSpec
    return HLLSpec(_hll_cfg())


def _kernel_hll(tokens: np.ndarray):
    """Driver-side HLL of raw token ids, hashed as the Arrow builder does."""
    from python_hll_spark.functions.hashing import hash_tokens
    from python_hll_spark.sketches.hll import HLLSketch

    sk = HLLSketch(_hll_cfg())
    sk.add_hashed(hash_tokens(tokens.astype(np.int64)))
    return sk


def _grouped_tokens(cols: dict, keys: list[str]) -> dict:
    """{key tuple: flat int32 tokens} over the docs of each key."""
    offs = cols["tokens_offsets"]
    flat = cols["tokens_flat"]
    codes = list(zip(*(cols[k].tolist() for k in keys)))
    rows: dict = {}
    for i, key in enumerate(codes):
        rows.setdefault(key, []).append(i)
    return {key: np.concatenate([flat[offs[i]:offs[i + 1]] for i in idx])
            for key, idx in rows.items()}


@dataclass
class Ctx:
    spark: object
    corpus: dict
    seed: int
    workdir: str
    df: object = None
    state: dict = field(default_factory=dict)

    @property
    def answers(self) -> dict:
        return self.corpus["answers"]


# ----------------------------------------------------------- token_sketch_build
class TokenSketchBuild:
    """Per source: HLL NDV of tokens, CMS top-10 tokens, KLL quantiles of n_tok."""

    name = "token_sketch_build"
    kind_names = ["build"]
    cycle = 1  # operations in one repetition of the operation mix
    n_docs = 4000
    n_files = 8

    def prepare(self, ctx: Ctx) -> None:
        cols = gen.read_columns(ctx.corpus["docs"], ["tokens", "source"])
        ctx.state["hll_bytes"] = {key[0]: _kernel_hll(t).to_bytes()
                                  for key, t in _grouped_tokens(cols, ["source"]).items()}

    def tokens_per_op(self, ctx: Ctx, kind: str) -> int:
        return ctx.answers["n_tokens"]

    def kinds(self, ctx: Ctx):
        while True:
            yield "build", None

    def _topk(self, df):
        from python_hll_spark.operators.topk import cms_topk
        return cms_topk(df.select("source", F.explode("tokens").alias("token")),
                        ["source"], "token", k=TOPK).collect()

    def _quantiles(self, df):
        from python_hll_spark.operators.quantiles import sketch_quantiles
        return sketch_quantiles(df, "n_tok", QS, by=["source"]) \
            .select("source", "quantiles").collect()

    def op(self, ctx: Ctx, kind, arg):
        from python_hll_spark.operators.ndv import hll_ndv_tokens
        df = ctx.df
        hll = hll_ndv_tokens(df, by=["source"]).select("source", "ndv", "state").collect()
        return {"hll": hll, "topk": self._topk(df), "q": self._quantiles(df)}

    def traced_op(self, ctx: Ctx, kind, arg, tr):
        from python_hll_spark.functions.sketch_funcs import hll_cardinality
        from python_hll_spark.operators.aggregate import (merge_sketches,
                                                          token_partials_arrow)
        df, spec = ctx.df, _hll_spec()
        with tr.span("operators.token_partials"):
            partials = token_partials_arrow(df, ["source"], "tokens", spec).persist()
            partials.count()
        with tr.span("operators.merge_sketches"):
            hll = (merge_sketches(partials, ["source"], spec)
                   .withColumn("ndv", hll_cardinality(F.col("state")))
                   .select("source", "ndv", "state").collect())
        partials.unpersist()
        with tr.span("operators.topk"):
            topk = self._topk(df)
        with tr.span("operators.quantiles"):
            q = self._quantiles(df)
        return {"hll": hll, "topk": topk, "q": q}

    def check(self, ctx: Ctx, kind, arg, res) -> list[str]:
        from python_hll_spark.sketches.kll import KLLConfig
        ans, bad = ctx.answers, []
        counts = ans["token_counts"]
        src_idx = {s: i for i, s in enumerate(gen.SOURCES)}
        present = {s for s in gen.SOURCES if len(ans["lengths"][s])}
        rse = _hll_cfg().error_bound
        if {r["source"] for r in res["hll"]} != present:
            bad.append("hll: wrong set of sources")
        for r in res["hll"]:
            s = r["source"]
            if bytes(r["state"]) != ctx.state["hll_bytes"][s]:
                bad.append(f"hll[{s}]: state bytes differ from the kernel build")
            exact = ans["ndv"][s]
            if abs(r["ndv"] - exact) > HLL_SIGMAS * rse * exact:
                bad.append(f"hll[{s}]: ndv {r['ndv']} vs exact {exact}")
        per_src: dict = {}
        for r in res["topk"]:
            per_src.setdefault(r["source"], []).append(r)
        eps = np.e / CMS_WIDTH
        for s in present:
            rows = per_src.get(s, [])
            c = counts[src_idx[s]]
            if len(rows) != min(TOPK, int(np.count_nonzero(c))):
                bad.append(f"topk[{s}]: {len(rows)} rows")
            n_s = int(c.sum())
            for r in rows:
                exact = int(c[r["key"]])
                if r["est_count"] < exact or r["est_count"] - exact > eps * n_s:
                    bad.append(f"topk[{s}]: key {r['key']} est {r['est_count']} "
                               f"exact {exact} bound {eps * n_s:.0f}")
        tol = KLLConfig(KLL_K).rank_error
        if {r["source"] for r in res["q"]} != present:
            bad.append("quantiles: wrong set of sources")
        for r in res["q"]:
            lens = ans["lengths"][r["source"]]
            for q, v in zip(QS, r["quantiles"]):
                lo = np.searchsorted(lens, v, "left") / len(lens)
                hi = np.searchsorted(lens, v, "right") / len(lens)
                if not (lo - tol <= q <= hi + tol):
                    bad.append(f"quantiles[{r['source']}]: q{q} -> {v} has rank "
                               f"[{lo:.4f}, {hi:.4f}]")
        return bad


# ------------------------------------------------------------------- near_dedup
class NearDedup:
    """near_dedup_tokens over a corpus with planted near-duplicate clusters."""

    name = "near_dedup"
    kind_names = ["dedup"]
    cycle = 1
    n_docs = 8000
    n_files = 8

    def prepare(self, ctx: Ctx) -> None:
        pass

    def tokens_per_op(self, ctx: Ctx, kind: str) -> int:
        return ctx.answers["n_tokens"]

    def kinds(self, ctx: Ctx):
        while True:
            yield "dedup", None

    def op(self, ctx: Ctx, kind, arg):
        from python_hll_spark.operators.dedup import near_dedup_tokens
        return {"survivors": near_dedup_tokens(ctx.df, threshold=DUP_THRESHOLD).count()}

    def traced_op(self, ctx: Ctx, kind, arg, tr):
        from python_hll_spark.operators.dedup import (connected_components,
                                                      lsh_candidate_pairs,
                                                      minhash_signatures_tokens)
        df = ctx.df
        caches = []
        with tr.span("operators.minhash"):
            sigs = minhash_signatures_tokens(df).persist()
            sigs.count()
        caches.append(sigs)
        with tr.span("operators.lsh") as sp:
            cand = lsh_candidate_pairs(sigs, cache_out=caches).persist()
            caches.append(cand)
            sp["candidate_pairs"] = cand.count()
            pairs = (cand.where(F.col("est_jaccard") >= DUP_THRESHOLD)
                     .select("id_a", "id_b").persist())
            caches.append(pairs)
            sp["pairs"] = pairs.count()
        with tr.span("operators.cc"):
            comps = connected_components(pairs).persist()
            caches.append(comps)
            comps.count()
        with tr.span("operators.keep"):
            drop = (comps.where(F.col("id") != F.col("component"))
                    .select(F.col("id").alias("doc_id")))
            survivors = df.join(drop, on="doc_id", how="left_anti").count()
        for c in caches:
            c.unpersist()
        return {"survivors": survivors}

    def check(self, ctx: Ctx, kind, arg, res) -> list[str]:
        want = ctx.answers["n_docs"] - ctx.answers["n_planted"]
        if res["survivors"] != want:
            return [f"near_dedup: {res['survivors']} survivors, expected {want}"]
        return []


# --------------------------------------------------------- sketch_store_serving
class StoreServing:
    """A day-partitioned SketchStore of per-domain HLL states: one write
    (sketch a small increment, merge it into a day) per four reads (NDV
    rollups over 5 consecutive days from a random start; the fourth read
    with ``by=[]``)."""

    name = "sketch_store_serving"
    kind_names = ["write", "read"]
    n_docs = 3000
    n_files = 4
    days = gen.DAYS
    reads_per_write = 4
    read_days = 5
    cycle = 1 + reads_per_write

    def prepare(self, ctx: Ctx) -> None:
        """Build the store's initial days from driver-side kernel states
        (written in the store's documented layout), and the increments'
        expected states."""
        from python_hll_spark.sources.store import SketchStore

        path = os.path.join(ctx.workdir, "store")
        shutil.rmtree(path, ignore_errors=True)
        cols = gen.read_columns(ctx.corpus["docs"], ["tokens", "domain", "day"])
        n_rows = Counter(zip(cols["domain"].tolist(), cols["day"].tolist()))
        mirror: dict = {}
        for (dom, day), toks in _grouped_tokens(cols, ["domain", "day"]).items():
            mirror.setdefault(int(day), {})[dom] = (_kernel_hll(toks),
                                                    n_rows[dom, day], len(toks))
        for day, part in mirror.items():
            _write_partition(path, day, part)
        ctx.state["mirror"] = {day: {d: v[0] for d, v in part.items()}
                               for day, part in mirror.items()}
        ctx.state["store"] = SketchStore(ctx.spark, path, _hll_spec(), ["domain"],
                                         partition_col="day")
        ctx.state["inc"] = []
        for p in ctx.corpus["increments"]:
            ic = gen.read_columns(p, ["tokens", "domain"])
            ctx.state["inc"].append({
                "path": p, "n_tokens": len(ic["tokens_flat"]),
                "hll": {k[0]: _kernel_hll(t)
                        for k, t in _grouped_tokens(ic, ["domain"]).items()}})
        ctx.state["rng"] = np.random.default_rng([ctx.seed, 7])
        ctx.state["writes"] = 0

    def tokens_per_op(self, ctx: Ctx, kind: str) -> int:
        return ctx.state["last_write_tokens"] if kind == "write" else 0

    def kinds(self, ctx: Ctx):
        rng = ctx.state["rng"]
        while True:
            w = ctx.state["writes"]
            ctx.state["writes"] += 1
            inc = w % len(ctx.state["inc"])
            ctx.state["last_write_tokens"] = ctx.state["inc"][inc]["n_tokens"]
            yield "write", (inc, (w * 7) % self.days)
            for r in range(self.reads_per_write):
                start = int(rng.integers(0, self.days - self.read_days + 1))
                parts = list(range(start, start + self.read_days))
                yield "read", (parts, [] if r == self.reads_per_write - 1 else None)

    def _states(self, ctx: Ctx, inc: int):
        from python_hll_spark.operators.aggregate import token_partials_arrow
        spec = _hll_spec()
        df = ctx.spark.read.parquet(ctx.state["inc"][inc]["path"])
        return token_partials_arrow(df, ["domain"], "tokens", spec), spec

    def op(self, ctx: Ctx, kind, arg):
        from python_hll_spark.operators.aggregate import merge_sketches
        store = ctx.state["store"]
        if kind == "write":
            inc, day = arg
            partials, spec = self._states(ctx, inc)
            store.merge_into_partition(merge_sketches(partials, ["domain"], spec), day)
            return None
        parts, by = arg
        return store.ndv(parts, by).collect()

    def traced_op(self, ctx: Ctx, kind, arg, tr):
        from python_hll_spark.operators.aggregate import merge_sketches
        store = ctx.state["store"]
        if kind == "write":
            inc, day = arg
            with tr.span("sources.increment_partials"):
                partials, spec = self._states(ctx, inc)
                partials = partials.persist()
                partials.count()
            with tr.span("sources.increment_merge"):
                states = merge_sketches(partials, ["domain"], spec).persist()
                states.count()
            with tr.span("sources.store_write"):
                store.merge_into_partition(states, day)
            states.unpersist()
            partials.unpersist()
            return None
        parts, by = arg
        with tr.span("sources.store_read"):
            return store.ndv(parts, by).collect()

    def check(self, ctx: Ctx, kind, arg, res) -> list[str]:
        mirror = ctx.state["mirror"]
        path = ctx.state["store"].path
        if kind == "write":
            inc, day = arg
            part = mirror.setdefault(day, {})
            for dom, sk in ctx.state["inc"][inc]["hll"].items():
                if dom in part:
                    part[dom].union(sk)
                else:
                    part[dom] = sk.copy()
            want = {d: s.to_bytes() for d, s in part.items()}
            if _partition_states(path, day) != want:
                return [f"write: day {day} differs from the kernel union"]
            return []
        parts, by = arg
        want: dict = {}
        for day in parts:
            for dom, sk in mirror.get(day, {}).items():
                key = () if by == [] else (dom,)
                if key in want:
                    want[key].union(sk)
                else:
                    want[key] = sk.copy()
        got = {(() if by == [] else (r["domain"],)): (bytes(r["state"]), r["ndv"])
               for r in res}
        if set(got) != set(want):
            return [f"read {parts[0]}..{parts[-1]} by={by}: wrong groups"]
        for key, sk in want.items():
            blob, ndv = got[key]
            if blob != sk.to_bytes() or ndv != sk.cardinality():
                return [f"read {parts[0]}..{parts[-1]} by={by}: group {key} "
                        "differs from the kernel union"]
        return []


def _write_partition(path: str, day: int, part: dict) -> None:
    """One ``day=<day>`` directory of (domain, state, n_rows, n_values,
    n_partials) rows, the layout ``SketchStore`` reads."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(path, f"day={day}")
    os.makedirs(d)
    doms = sorted(part)
    pq.write_table(pa.table({
        "domain": pa.array(doms, pa.string()),
        "state": pa.array([part[k][0].to_bytes() for k in doms], pa.binary()),
        "n_rows": pa.array([part[k][1] for k in doms], pa.int64()),
        "n_values": pa.array([part[k][2] for k in doms], pa.int64()),
        "n_partials": pa.array([1] * len(doms), pa.int64()),
    }), os.path.join(d, "part-00000.parquet"))


def _partition_states(path: str, day: int) -> dict:
    import pyarrow.parquet as pq
    out = {}
    for f in sorted(glob.glob(os.path.join(path, f"day={day}", "*.parquet"))):
        t = pq.read_table(f, columns=["domain", "state"])
        out.update(zip(t.column("domain").to_pylist(), t.column("state").to_pylist()))
    return out


WORKLOADS = {w.name: w for w in (TokenSketchBuild(), NearDedup(), StoreServing())}

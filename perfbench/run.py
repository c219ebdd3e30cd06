#!/usr/bin/env python3
"""Seeded closed-loop benchmark of python_hll_spark on one local[4] session.

Run from the root of a checkout:

    python3 perfbench/run.py --workload token_sketch_build --seed 1 \
        --seconds 14 --trace 0

``--workload all`` runs every workload in turn (one process each).  One
client sends the next operation only after the previous one returned and
its output was checked.  ``--trace 0`` measures the end-to-end metrics with
no tracing; ``--trace 1`` is a separate run that alternates untraced and
traced operations for ``--seconds``, then times every layer (see
README.md).  Every metric is printed as ``metric <name> <value> <unit>``;
the last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  A failed check exits 1.

All scratch state (generated inputs, Spark local dirs, checkpoints, the
warehouse, the store and the run records) lives under ``.perfbench_work/``
in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
MASTER = "local[4]"
SETUPS = 2  # setup_s is the median of this many cold set-ups, each in a new JVM

END_TO_END = {  # name -> unit
    "setup_s": "s", "tokens_per_s": "1/s", "op_s.p50": "s",
}
SPAN_METRICS = {  # per-layer metric -> span whose per-op self time it reports
    "operators.token_partials_s": "operators.token_partials",
    "operators.merge_sketches_s": "operators.merge_sketches",
    "operators.topk_s": "operators.topk",
    "operators.quantiles_s": "operators.quantiles",
    "operators.minhash_s": "operators.minhash",
    "operators.lsh_s": "operators.lsh",
    "operators.cc_s": "operators.cc",
    "operators.keep_s": "operators.keep",
    "sources.store_write_s": "sources.store_write",
    "sources.store_read_s": "sources.store_read",
    "sources.increment_partials_s": "sources.increment_partials",
    "sources.increment_merge_s": "sources.increment_merge",
}
SPARK_COUNTS = ["jobs", "stages", "tasks", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes"]


def _units() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def _warm_worker(batches):
    """Import every module the operations use inside each Python worker."""
    import python_hll_spark.functions.sketch_funcs  # noqa: F401
    import python_hll_spark.operators.aggregate  # noqa: F401
    import python_hll_spark.operators.dedup  # noqa: F401
    import python_hll_spark.operators.topk  # noqa: F401
    for b in batches:
        yield b


class Session:
    """Owns the SparkSession and the driver JVM behind it."""

    def __init__(self, name: str):
        self.name = name
        self.spark = None

    def conf(self) -> dict:
        """The library's defaults, with every file the JVM writes kept in
        the checkout."""
        return {
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }

    def start(self, master: str, tr) -> None:
        from python_hll_spark.plans.session import get_spark

        with tr.span("plans.session_start"):
            self.spark = get_spark(f"perfbench-{self.name}", master=master,
                                   extra_conf=self.conf(),
                                   checkpoint_dir=os.path.join(WORK, "ckpt"))
            self.spark.sparkContext.setLogLevel("ERROR")
        n = int(master[6:-1])
        with tr.span("plans.worker_warm"):
            self.spark.range(0, 4 * n, 1, n).mapInArrow(_warm_worker, "id long").count()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM and the Python workers it forked,
        and wait until every one of them has exited."""
        from pyspark import SparkContext

        from probes import process_tree, running

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        tree = process_tree(proc.pid)[1:] if proc is not None else []
        self.stop()
        if gw is None:
            return
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is None:
            return
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        for pid, start in tree:
            while running(pid, start) and time.monotonic() < deadline:
                time.sleep(0.05)
            if running(pid, start):
                os.kill(pid, signal.SIGKILL)


def setup(sess: Session, ctx, tr) -> None:
    """One setup, as a user pays it: JVM launch and session start, worker
    warm-up, input load.  The previous session's JVM is shut down first."""
    from pyspark.sql import functions as F

    sess.close()
    sess.start(MASTER, tr)
    with tr.span("sources.input_load"):
        ctx.spark = sess.spark
        ctx.df = sess.spark.read.parquet(ctx.corpus["docs"])
        ctx.df.select(F.sum("n_tok")).collect()


def gc_seconds(spark) -> float:
    """Total collection time of the driver JVM's garbage collectors."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def run_ops(wl, ctx, kinds, seconds: float, tr=None, phase: str = "loop",
            whole_cycles: bool = True) -> list[dict]:
    """Closed loop: one operation at a time, each checked before the next.
    With ``whole_cycles`` it stops at the first whole number of
    operation-mix cycles after ``seconds``, so every run measures the same
    mix; without, after the first operation past ``seconds``."""
    recs: list[dict] = []
    if tr is not None:
        tr.phase = phase
    t_end = time.perf_counter() + seconds
    while (not recs or time.perf_counter() < t_end
           or (whole_cycles and len(recs) % wl.cycle)):
        kind, arg = next(kinds)
        op_id = ctx.state.setdefault("next_op", 0)
        ctx.state["next_op"] = op_id + 1
        gc0 = gc_seconds(ctx.spark)
        t0 = time.perf_counter()
        try:
            if tr is None:
                res = wl.op(ctx, kind, arg)
            else:
                with tr.span(f"op.{kind}", op_id):
                    res = wl.traced_op(ctx, kind, arg, tr)
            dt = time.perf_counter() - t0
            bad = wl.check(ctx, kind, arg, res)
        except Exception as e:  # a failed operation is counted, not fatal
            dt = time.perf_counter() - t0
            bad = [f"{kind}: {type(e).__name__}: {e}"]
        for msg in bad:
            print(f"# FAILED {wl.name} op {op_id}: {msg}", flush=True)
        recs.append({"kind": kind, "s": dt, "failed": bool(bad),
                     "gc_s": gc_seconds(ctx.spark) - gc0,
                     "tokens": wl.tokens_per_op(ctx, kind)})
    return recs


def warm_up(wl, ctx, kinds) -> list[dict]:
    """Untimed, checked operations until each kind has run once.  The
    plan's code is compiled on the first run; the JVM keeps improving it
    over the next operation or two, which the median absorbs."""
    recs: list[dict] = []
    while {r["kind"] for r in recs} != set(wl.kind_names):
        recs += run_ops(wl, ctx, kinds, 0, whole_cycles=False)
    return recs


def timing(recs: list[dict], prefix: str) -> dict:
    from spans import tail
    times = [r["s"] for r in recs]
    p, v = tail(times)
    return {f"{prefix}.p50": statistics.median(times), f"{prefix}.tail": v,
            f"{prefix}.tail_pct": p, f"{prefix}.n": len(times)}


def end_to_end(wl, recs, setups, rss_peak) -> tuple[dict, list[str]]:
    m = timing(recs, "op_s")
    out = {
        "setup_s": statistics.median(setups),
        "tokens_per_s": sum(r["tokens"] for r in recs) / sum(r["s"] for r in recs),
        "op_s.p50": m["op_s.p50"],
    }
    # Printed, not in BENCHMARK.json: a run has too few operations for a
    # tail above the median, and the JVM's resident size depends on when
    # its collector grew the heap (see README.md).
    notes = [f"metric op_s.tail {m['op_s.tail']:.6f} s",
             f"op_s.tail is p{m['op_s.tail_pct']:g} of {m['op_s.n']} operations",
             f"metric peak_rss_mb {rss_peak / 2**20:.6f} MB"]
    if wl.name == "sketch_store_serving":
        w = timing([r for r in recs if r["kind"] == "write"], "write_s")
        r = timing([r for r in recs if r["kind"] == "read"], "read_s")
        extra = {"write_s.p50": (w["write_s.p50"], "s"),
                 "read_s.p50": (r["read_s.p50"], "s"),
                 "read_s.tail": (r["read_s.tail"], "s")}
        for k, (v, u) in extra.items():
            notes.append(f"metric {k} {v:.6f} {u}")
        notes.append(f"read_s.tail is p{r['read_s.tail_pct']:g} of {r['read_s.n']} "
                     f"reads; {w['write_s.n']} writes")
    return out, notes


def per_op(spans, name: str, phase: str, field: str = "self", ops=None) -> dict:
    """{op id: summed ``field`` of the op's spans called ``name``}."""
    out: dict = {}
    for s in spans:
        if (s["phase"] == phase and s["name"] == name and s["op"] is not None
                and (ops is None or s["op"] in ops)):
            out[s["op"]] = out.get(s["op"], 0) + s[field]
    return out


def per_layer(tr, untraced, traced, probes) -> dict:
    """Per-layer metrics from the traced run's spans and probes."""
    spans = tr.spans
    out = {}
    for metric, span in SPAN_METRICS.items():
        vals = per_op(spans, span, "loop") or per_op(spans, span, "sweep")
        out[metric] = statistics.median(vals.values()) if vals else 0.0
    lsh = [s for s in spans if s["name"] == "operators.lsh"]
    lsh_loop = [s for s in lsh if s["phase"] == "loop"] or lsh
    cands = sum(s["candidate_pairs"] for s in lsh_loop)
    out["operators.lsh_candidate_pairs"] = cands / max(1, len(lsh_loop))
    out["operators.lsh_pair_yield"] = (sum(s["pairs"] for s in lsh_loop) / cands
                                       if cands else 0.0)
    for name in ("plans.session_start", "plans.worker_warm", "sources.input_load"):
        vals = [s["dur"] for s in spans if s["name"] == name and s["phase"] == "setup"]
        out[name + "_s"] = statistics.median(vals)
    roots = [s for s in spans if s["phase"] == "loop" and s["parent"] is None]
    out["spark.gc_s"] = statistics.median(r["gc_s"] for r in traced)
    for c in SPARK_COUNTS:
        per = {}
        for s in spans:
            if s["phase"] == "loop" and s["op"] is not None:
                per[s["op"]] = per.get(s["op"], 0) + s["spark"][c]
        out[f"spark.{c}"] = statistics.median(per.values())
    traced_p50 = statistics.median(r["s"] for r in traced)
    out["trace.op_s.p50"] = traced_p50
    out["trace.overhead_s"] = traced_p50 - statistics.median(r["s"] for r in untraced)
    out["trace.coverage"] = statistics.median(
        1.0 - s["self"] / s["dur"] for s in roots)
    out.update(probes)
    out["operators.spark_tax"] = (out["operators.spark_tax_local1_s"]
                                  / out["operators.spark_tax_kernel_s"])
    return out


def self_time_table(tr) -> list[str]:
    """Median per-op self time of each span name in the traced loop."""
    lines = []
    roots = {s["id"]: s for s in tr.spans if s["phase"] == "loop" and s["parent"] is None}
    for kind in sorted({s["name"] for s in roots.values()}):
        ops = [s for s in roots.values() if s["name"] == kind]
        p50 = statistics.median(s["dur"] for s in ops)
        lines.append(f"# {kind}: traced p50 {p50:.4f} s over {len(ops)} operations")
        ids = {s["op"] for s in ops}
        names = sorted({s["name"] for s in tr.spans
                        if s["phase"] == "loop" and s["op"] in ids})
        total = 0.0
        for name in names:
            v = statistics.median(per_op(tr.spans, name, "loop", ops=ids).values())
            total += v
            sp = [s["spark"] for s in tr.spans if s["phase"] == "loop"
                  and s["op"] in ids and s["name"] == name]
            counts = " ".join(f"{c}={statistics.median(x[c] for x in sp):g}"
                              for c in SPARK_COUNTS)
            lines.append(f"#   {name:28s} self {v:.4f} s  {counts}")
        lines.append(f"#   sum of self-time medians {total:.4f} s")
    return lines


def spark_tax(sess: Session, ctx, tr) -> float:
    """The partial build of the kernel probe, inside Spark at local[1]."""
    from python_hll_spark.operators.aggregate import token_partials_arrow

    from workloads import _hll_spec

    tr.phase = "tax"
    sess.close()
    sess.start("local[1]", tr)
    df = sess.spark.read.parquet(ctx.corpus["docs"])
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        token_partials_arrow(df, ["source"], "tokens", _hll_spec()).collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def store_bytes_per_state(ctx) -> float:
    import pyarrow.parquet as pq
    store = ctx.state.get("store")
    if store is None:
        return 0.0
    size = rows = 0
    for dirpath, _, files in os.walk(store.path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                size += os.path.getsize(p)
                rows += pq.ParquetFile(p).metadata.num_rows
    return size / max(1, rows)


def run_workload(args) -> int:
    import numpy as np
    from pyspark import SparkContext

    import gen
    import probes
    from spans import Tracer
    from workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]
    marks = [("start", time.perf_counter())]
    ticks = probes.cpu_ticks()
    stamp = probes.host_stamp(ROOT)
    corpus = gen.ensure(os.path.join(WORK, "cache"), wl.name, args.seed, wl.n_docs,
                        wl.n_files)
    print(f"# host {json.dumps(stamp, sort_keys=True)}")
    print(f"# {wl.name} seed {args.seed}: {corpus['answers']['n_docs']} docs, "
          f"{corpus['answers']['n_tokens']} tokens, {corpus['answers']['n_planted']} "
          f"planted duplicates; generation {corpus['gen_s']:.2f} s "
          f"({'cached' if corpus['cached'] else 'generated'}, not in setup_s)")
    ctx = Ctx(spark=None, corpus=corpus, seed=args.seed, workdir=WORK)
    sess = Session(wl.name)
    tr = Tracer()
    recs_all: list[dict] = []
    lines: list[str] = []
    try:
        marks.append(("generate", time.perf_counter()))
        for _ in range(SETUPS):
            setup(sess, ctx, tr)
        marks.append(("setup", time.perf_counter()))
        setups = [s["end"] - s["start"] for s in tr.spans if s["parent"] is None
                  and s["name"] in ("plans.session_start", "plans.worker_warm",
                                    "sources.input_load")]
        setups = [sum(setups[i:i + 3]) for i in range(0, len(setups), 3)]
        t0 = time.perf_counter()
        wl.prepare(ctx)
        lines.append(f"# prepare (check references{', store build' if 'store' in ctx.state else ''}) "
                     f"{time.perf_counter() - t0:.2f} s, not in setup_s")
        kinds = wl.kinds(ctx)
        with probes.RssSampler(SparkContext._gateway.proc.pid) as rss:
            recs_all += warm_up(wl, ctx, kinds)
            marks.append(("warm-up", time.perf_counter()))
            if not args.trace:
                recs = run_ops(wl, ctx, kinds, args.seconds)
                recs_all += recs
        if not args.trace:
            metrics, notes = end_to_end(wl, recs, setups, rss.peak)
            units = END_TO_END
            lines += notes
        else:
            # untraced and traced cycles alternate, so that the overhead is
            # not confounded with the JVM still speeding up or the host
            # changing speed
            untraced, traced = [], []
            tr.sc = ctx.spark.sparkContext
            t_end = time.perf_counter() + args.seconds
            while not traced or time.perf_counter() < t_end:
                untraced += run_ops(wl, ctx, kinds, 0)
                traced += run_ops(wl, ctx, kinds, 0, tr)
            recs_all += untraced + traced
            tr.phase = "sweep"
            for other in WORKLOADS.values():
                if other is wl:
                    continue
                octx = Ctx(spark=ctx.spark, corpus=corpus, seed=args.seed,
                           workdir=WORK, df=ctx.df)
                octx.state["next_op"] = ctx.state["next_op"] + 1000 * len(recs_all)
                other.prepare(octx)
                okinds = other.kinds(octx)
                for _ in other.kind_names:
                    recs_all += run_ops(other, octx, okinds, 0, tr, phase="sweep",
                                        whole_cycles=False)
                if "store" in octx.state:
                    ctx.state.setdefault("store", octx.state["store"])
            tr.sc = None
            tr.harvest_spark(ctx.spark)
            cols = gen.read_columns(corpus["docs"], ["tokens", "source"])
            codes = {s: i for i, s in enumerate(gen.SOURCES)}
            groups = [codes[s] for s in cols["source"].tolist()]
            pr = probes.kernel_probes(cols["tokens_flat"],
                                      np.diff(cols["tokens_offsets"]),
                                      np.array(groups), len(gen.SOURCES))
            pr["sources.store_bytes_per_state"] = store_bytes_per_state(ctx)
            pr["operators.spark_tax_local1_s"] = spark_tax(sess, ctx, tr)
            tr.self_times()
            metrics = per_layer(tr, untraced, traced, pr)
            units = _units()
            lines += self_time_table(tr)
            lines.append(f"# tracing overhead {metrics['trace.overhead_s']:+.4f} s "
                         f"(traced p50 {metrics['trace.op_s.p50']:.4f} s minus untraced "
                         f"p50 {metrics['trace.op_s.p50'] - metrics['trace.overhead_s']:.4f} s)")
            lines.append(f"# spark_tax {metrics['operators.spark_tax']:.3f} = local[1] "
                         f"partial build {metrics['operators.spark_tax_local1_s']:.4f} s / "
                         f"kernel {metrics['operators.spark_tax_kernel_s']:.4f} s")
            missing = set(units) - set(metrics)
            if missing:
                raise RuntimeError(f"per-layer metrics not measured: {sorted(missing)}")
            metrics = {k: metrics[k] for k in units}
        end_probe = probes.host_probe()
    finally:
        sess.close()
    marks.append(("measure, close", time.perf_counter()))
    lines.append("# wall " + ", ".join(f"{name} {t - marks[i][1]:.1f} s"
                                       for i, (name, t) in enumerate(marks[1:]))
                 + f"; cpu steal {probes.steal_share(ticks, probes.cpu_ticks()):.1%}")
    # a reading far below the host's usual one flags a draw taken on a slow
    # host: compare it with other draws and repeat the run
    lines.append(f"# host probe M elem/s, run start -> end: cache "
                 f"{stamp['probe']['cache_melems']} -> {end_probe['cache_melems']}, dram "
                 f"{stamp['probe']['dram_melems']} -> {end_probe['dram_melems']}")
    failed = sum(r["failed"] for r in recs_all)
    attempted = len(recs_all)
    lines.append(f"metric fail_frac {failed / attempted:.6f} 1")
    for k, v in metrics.items():
        lines.append(f"metric {k} {v:.6f} {units[k]}")
    for line in lines:
        print(line)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    rec_path = os.path.join(WORK, "out", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    tr.dump(rec_path, {"host": stamp, "result": result, "lines": lines,
                       "ops": recs_all})
    print(json.dumps(result))
    return 0 if failed == 0 else 1


def run_all(args) -> int:
    from workloads import WORKLOADS
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        out = proc.stdout.strip().splitlines()
        print("\n".join(out[:-1]))
        code = code or proc.returncode
        res = json.loads(out[-1]) if out and out[-1].startswith("{") else None
        if res is None:
            merged["correct"] = False
            continue
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{name}.{k}"] = v
    print(json.dumps(merged))
    return code


def main() -> int:
    from workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "python_hll_spark", "__init__.py")):
        print(f"perfbench: no python_hll_spark package under {ROOT}; run from "
              "the root of a checkout", file=sys.stderr)
        return 2
    shutil.rmtree(os.path.join(WORK, "ckpt"), ignore_errors=True)
    for sub in ("tmp", "local", "ckpt", "warehouse"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    sys.path[:0] = [HERE, ROOT]
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())

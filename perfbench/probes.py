"""Host stamp, memory sampler and kernel-only probes.

The kernel probes time the ``sketches`` and ``functions`` kernels in this
process on a workload's own token arrays, with no Spark in the way; they
are the denominator of ``operators.spark_tax``.
"""

from __future__ import annotations

import hashlib
import json
import os
import platform
import statistics
import subprocess
import sys
import threading
import time

import numpy as np


def host_probe() -> dict:
    """One-core streaming probes in M elements/s: a cache-resident multiply
    and a DRAM-sized one.  A reading far below the host's usual value marks
    a draw taken while other tenants held the CPU or the memory bus.  It
    runs in a fresh process: after a near_dedup loop the benchmark's own
    process reads about 5x slower on the cache probe, on an idle host."""
    out = subprocess.run([sys.executable, os.path.abspath(__file__)], check=True,
                         stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out)


def _probe() -> dict:
    small = np.arange(1 << 17, dtype=np.uint64)
    out = np.empty_like(small)
    t0 = time.perf_counter()
    for _ in range(200):
        np.multiply(small, np.uint64(0x9E3779B97F4A7C15), out=out)
    cache = 200 * len(small) / (time.perf_counter() - t0) / 1e6
    big = np.arange(1 << 24, dtype=np.uint64)
    out = np.empty_like(big)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        np.multiply(big, np.uint64(5), out=out)
        best = min(best, time.perf_counter() - t0)
    return {"cache_melems": round(cache), "dram_melems": round(len(big) / best / 1e6)}


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters (user .. steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def _source_digest(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "python_hll_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _git_rev(root: str) -> str:
    head = os.path.join(root, ".git", "HEAD")
    if not os.path.isfile(head):
        return "none"
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(root, ".git", ref[5:])
    if os.path.isfile(path):
        with open(path) as f:
            return f.read().strip()
    return ref[5:]


def host_stamp(root: str) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "mem_total_mb": os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20,
        "probe": host_probe(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "numpy": np.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "git_rev": _git_rev(root),
        "source_sha256": _source_digest(root),
    }


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def process_tree(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of ``root`` and every process descending from it."""
    children: dict[int, list[int]] = {}
    starts: dict[int, str] = {}
    for d in os.listdir("/proc"):
        st = _stat(int(d)) if d.isdigit() else None
        if st is None:
            continue
        children.setdefault(int(st[1]), []).append(int(d))
        starts[int(d)] = st[19]
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append((p, starts.get(p, "")))
        todo.extend(children.get(p, []))
    return out


def running(pid: int, start: str) -> bool:
    """The process still runs (not a zombie, and its pid was not reused)."""
    st = _stat(pid)
    return st is not None and st[0] != "Z" and st[19] == start


class RssSampler:
    """Samples the summed RSS of a process tree (the driver JVM and the
    Python workers it forks) on a background thread."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for p, _ in process_tree(self.pid):
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self._tree_rss())


def _ns_per_value(fn, n_values: int, reps: int = 5) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / n_values * 1e9


def kernel_probes(tokens: np.ndarray, lengths: np.ndarray, groups: np.ndarray,
                  n_groups: int) -> dict:
    """Time the numpy kernels on one workload's arrays.

    ``tokens`` is the flat int32 token buffer, ``lengths`` the per-doc
    lengths, ``groups`` each doc's group code.  Returns per-layer metrics,
    among them ``operators.spark_tax_kernel_s``: the in-process equivalent
    of the Arrow partial build (hash + per-group HLL add over every token)."""
    from python_hll_spark.functions.hashing import hash_tokens
    from python_hll_spark.sketches.cms import CMSConfig, CMSSketch
    from python_hll_spark.sketches.hll import HLLConfig, HLLSketch
    from python_hll_spark.sketches.kll import KLLConfig, KLLSketch

    cfg = HLLConfig.create(11, 5)
    sample = tokens[:1 << 21].astype(np.int64)
    hashed = hash_tokens(sample)
    out = {
        "functions.hash_tokens_ns_per_value":
            _ns_per_value(lambda: hash_tokens(sample), len(sample)),
        "sketches.hll_add_ns_per_value":
            _ns_per_value(lambda: HLLSketch(cfg).add_hashed(hashed), len(hashed)),
        "sketches.cms_update_ns_per_value":
            _ns_per_value(lambda: CMSSketch(CMSConfig(5, 65536)).update(hashed),
                          len(hashed)),
    }
    values = sample.astype(np.float64)
    out["sketches.kll_update_ns_per_value"] = _ns_per_value(
        lambda: KLLSketch(KLLConfig(200)).update(values), len(values))

    half = len(hashed) // 2
    a, b = HLLSketch(cfg), HLLSketch(cfg)
    a.add_hashed(hashed[:half])
    b.add_hashed(hashed[half:])
    reps = 200
    t0 = time.perf_counter()
    for _ in range(reps):
        c = a.copy()
        c.union(b)
    out["sketches.hll_union_us"] = (time.perf_counter() - t0) / reps * 1e6
    blob = a.to_bytes()
    t0 = time.perf_counter()
    for _ in range(reps):
        HLLSketch.from_bytes(a.to_bytes())
    out["sketches.hll_serde_us"] = (time.perf_counter() - t0) / reps * 1e6
    out["sketches.hll_state_bytes"] = len(blob)

    # the partial build's work without Spark: per-group hash + HLL add
    doc_group = np.repeat(groups, lengths)
    order = np.argsort(doc_group, kind="stable")
    grouped = tokens[order].astype(np.int64)
    bounds = np.searchsorted(doc_group[order], np.arange(n_groups + 1))

    def build():
        for g in range(n_groups):
            HLLSketch(cfg).add_hashed(hash_tokens(grouped[bounds[g]:bounds[g + 1]]))

    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        build()
        times.append(time.perf_counter() - t0)
    out["operators.spark_tax_kernel_s"] = statistics.median(times)
    return out


if __name__ == "__main__":
    print(json.dumps(_probe()))

"""Seeded workload generator: a Zipf token corpus with planted near-duplicates.

Everything here depends only on ``(seed, size)``: the same pair writes the
same parquet bytes and the same exact answers.  It uses numpy and pyarrow
only, so the program under test sees nothing but the generated tables.

Corpus rows: ``doc_id bigint, tokens array<int>, n_tok int, source string,
domain string, day int``.

- Token ids are Zipf(1.2) over a 2^17 vocabulary; doc lengths are
  lognormal around 200 tokens, clipped to [64, 2048] so that two random
  docs never share a 3-gram shingle set by accident.
- ``source`` takes 5 values with skewed weights; ``domain`` takes up to
  1,000 Zipf-distributed values; ``day`` is uniform over ``days``.
- About ``dup_frac`` of the rows are planted near-duplicates: clusters of
  2-8 members, each a copy of its cluster's base doc whose 3-gram shingle
  Jaccard to the base is at least 0.95 (checked here, exactly).  A
  cluster's rows are contiguous and the base has the smallest id.

Beside each table the generator writes the exact answers the benchmark
checks against: per-source token counts and doc lengths (the arrays the
checks use), and, readable in ``answers.json``, distinct tokens, the top 10
tokens with their counts and the length quantiles per source, and the
planted-duplicate count.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np

VERSION = 2
VOCAB = 1 << 17
ZIPF_S = 1.2
SOURCES = ["web", "books", "code", "wiki", "chat"]
SOURCE_WEIGHTS = np.array([0.55, 0.20, 0.15, 0.07, 0.03])
N_DOMAINS = 1000
DAYS = 30
INCREMENTS, INCREMENT_DOCS = 8, 400  # small extra corpora, one per store write
MIN_LEN, MAX_LEN = 64, 2048
SHINGLE = 3
MIN_DUP_JACCARD = 0.95
QUANTILES = [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
KEEP_CACHED = 3  # most recent corpora kept in the cache directory


def _token_cdf() -> np.ndarray:
    w = np.arange(1, VOCAB + 1, dtype=np.float64) ** (-ZIPF_S)
    cdf = np.cumsum(w / w.sum())
    cdf[-1] = 1.0
    return cdf


def shingles(tokens: np.ndarray) -> np.ndarray:
    """Exact 3-gram shingle set: ids < 2^17 pack losslessly into 51 bits."""
    t = tokens.astype(np.int64)
    if len(t) < SHINGLE:
        return np.unique(t)
    packed = (t[:-2] << np.int64(34)) | (t[1:-1] << np.int64(17)) | t[2:]
    return np.unique(packed)


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    sa, sb = shingles(a), shingles(b)
    inter = len(np.intersect1d(sa, sb, assume_unique=True))
    return inter / (len(sa) + len(sb) - inter)


def _near_copy(rng, base: np.ndarray) -> np.ndarray:
    """A copy of ``base`` with 1 substitution per 120 distinct shingles (or,
    for short docs, the last token dropped).  One substitution changes at
    most 3 shingles, so Jaccard stays >= 0.95."""
    out = base.copy()
    k = len(shingles(base)) // 120
    if k == 0:
        out = out[:-1]
    else:
        pos = rng.choice(len(out), size=k, replace=False)
        out[pos] = rng.integers(0, VOCAB, size=k, dtype=np.int32)
    if jaccard(base, out) < MIN_DUP_JACCARD:
        raise AssertionError("planted near-duplicate below Jaccard 0.95")
    return out


def corpus_arrays(seed: int, n_docs: int, days: int, dup_frac: float = 0.10,
                  stream: int = 0) -> dict:
    """Generate the corpus as numpy arrays (no files)."""
    rng = np.random.default_rng([seed, stream, n_docs])
    sizes = rng.integers(2, 9, size=max(1, int(round(dup_frac * n_docs / 4.5))))
    n_planted = int((sizes - 1).sum())
    n_unique = n_docs - n_planted
    lengths = np.clip(rng.lognormal(np.log(200.0), 0.6, n_unique),
                      MIN_LEN, MAX_LEN).astype(np.int64)
    cdf = _token_cdf()
    flat = np.empty(int(lengths.sum()), dtype=np.int32)
    step = 1 << 22
    for s in range(0, len(flat), step):
        flat[s:s + step] = np.searchsorted(cdf, rng.random(min(step, len(flat) - s)))
    offs = np.concatenate([[0], np.cumsum(lengths)])
    uniq_tokens = [flat[offs[i]:offs[i + 1]] for i in range(n_unique)]

    bases = np.sort(rng.choice(n_unique, size=len(sizes), replace=False))
    members = dict(zip(bases.tolist(), (sizes - 1).tolist()))
    tokens = []
    for u in range(n_unique):
        tokens.append(uniq_tokens[u])
        for _ in range(members.get(u, 0)):
            tokens.append(_near_copy(rng, uniq_tokens[u]))
    n_tok = np.array([len(t) for t in tokens], dtype=np.int32)
    src = rng.choice(len(SOURCES), size=n_docs, p=SOURCE_WEIGHTS)
    dw = np.arange(1, N_DOMAINS + 1, dtype=np.float64) ** -1.1
    dom = rng.choice(N_DOMAINS, size=n_docs, p=dw / dw.sum())
    day = rng.integers(0, days, size=n_docs)
    return {"doc_id": np.arange(n_docs, dtype=np.int64), "tokens": tokens,
            "n_tok": n_tok, "source": src, "domain": dom, "day": day,
            "n_planted": n_planted}


def write_parquet(arrs: dict, path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    n = len(arrs["doc_id"])
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for f in range(n_files):
        lo, hi = bounds[f], bounds[f + 1]
        if lo == hi:
            continue
        toks = arrs["tokens"][lo:hi]
        offs = np.concatenate([[0], np.cumsum([len(t) for t in toks])]).astype(np.int32)
        table = pa.table({
            "doc_id": pa.array(arrs["doc_id"][lo:hi]),
            "tokens": pa.ListArray.from_arrays(
                pa.array(offs), pa.array(np.concatenate(toks), pa.int32())),
            "n_tok": pa.array(arrs["n_tok"][lo:hi]),
            "source": pa.array([SOURCES[s] for s in arrs["source"][lo:hi]]),
            "domain": pa.array([f"d{d:04d}" for d in arrs["domain"][lo:hi]]),
            "day": pa.array(arrs["day"][lo:hi].astype(np.int32)),
        })
        pq.write_table(table, os.path.join(path, f"part-{f:05d}.parquet"))


def exact_answers(arrs: dict) -> dict:
    """Per-source token counts and lengths, and the planted-duplicate count."""
    counts = np.zeros((len(SOURCES), VOCAB), dtype=np.int64)
    lengths = {}
    for s, name in enumerate(SOURCES):
        rows = np.flatnonzero(arrs["source"] == s)
        if len(rows):
            counts[s] = np.bincount(
                np.concatenate([arrs["tokens"][i] for i in rows]), minlength=VOCAB)
        lengths[name] = np.sort(arrs["n_tok"][rows])
    return {"token_counts": counts, "lengths": lengths,
            "n_planted": arrs["n_planted"]}


def _prune(cache_dir: str, keep: str) -> None:
    entries = [os.path.join(cache_dir, d) for d in os.listdir(cache_dir)]
    entries = sorted((e for e in entries if os.path.isdir(e) and e != keep),
                     key=os.path.getmtime)
    for old in entries[:max(0, len(entries) - (KEEP_CACHED - 1))]:
        shutil.rmtree(old, ignore_errors=True)


def ensure(cache_dir: str, name: str, seed: int, n_docs: int, n_files: int,
           days: int = DAYS, increments: int = INCREMENTS,
           increment_docs: int = INCREMENT_DOCS) -> dict:
    """Generate (or reuse) one corpus and its exact answers.

    Returns ``{"path", "docs", "increments", "answers", "gen_s", "cached"}``
    where ``docs`` is the corpus parquet directory, ``increments`` a list
    of small parquet directories (day increments for the store workload)
    and ``answers`` the exact answers plus the numpy arrays they come from.
    """
    key = f"{name}-v{VERSION}-s{seed}-n{n_docs}-d{days}-i{increments}x{increment_docs}"
    root = os.path.join(cache_dir, key)
    done = os.path.join(root, "_DONE")
    t0 = time.perf_counter()
    cached = os.path.exists(done)
    if not cached:
        shutil.rmtree(root, ignore_errors=True)
        arrs = corpus_arrays(seed, n_docs, days)
        write_parquet(arrs, os.path.join(root, "docs"), n_files)
        ans = exact_answers(arrs)
        np.savez(os.path.join(root, "answers.npz"),
                 token_counts=ans["token_counts"],
                 **{f"len_{k}": v for k, v in ans["lengths"].items()})
        counts = ans["token_counts"]
        meta = {"n_docs": n_docs, "n_tokens": int(arrs["n_tok"].sum()),
                "n_planted": ans["n_planted"],
                "ndv": {s: int(np.count_nonzero(counts[i]))
                        for i, s in enumerate(SOURCES)},
                "top10": {s: [[int(t), int(counts[i][t])]
                              for t in np.argsort(-counts[i], kind="stable")[:10]]
                          for i, s in enumerate(SOURCES)},
                "length_quantiles": {
                    s: dict(zip(map(str, QUANTILES),
                                np.quantile(v, QUANTILES, method="inverted_cdf")
                                .astype(int).tolist())) if len(v) else {}
                    for s, v in ans["lengths"].items()}}
        for i in range(increments):
            inc = corpus_arrays(seed, increment_docs, days, stream=1 + i)
            write_parquet(inc, os.path.join(root, f"inc-{i:03d}"), 1)
        with open(os.path.join(root, "answers.json"), "w") as f:
            json.dump(meta, f)
        open(done, "w").close()
    os.utime(root)
    _prune(cache_dir, root)
    with open(os.path.join(root, "answers.json")) as f:
        meta = json.load(f)
    npz = np.load(os.path.join(root, "answers.npz"))
    meta["token_counts"] = npz["token_counts"]
    meta["lengths"] = {s: npz[f"len_{s}"] for s in SOURCES}
    return {"path": root, "docs": os.path.join(root, "docs"),
            "increments": [os.path.join(root, f"inc-{i:03d}")
                           for i in range(increments)],
            "answers": meta, "gen_s": time.perf_counter() - t0,
            "cached": cached}


def read_columns(path: str, columns: list[str]) -> dict:
    """Driver-side read of generated parquet (for checks and kernel probes)."""
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=columns)
    out = {}
    for c in columns:
        col = table.column(c).combine_chunks()
        if c == "tokens":
            out["tokens_flat"] = col.flatten().to_numpy().astype(np.int32)
            out["tokens_offsets"] = col.offsets.to_numpy().astype(np.int64)
        else:
            out[c] = col.to_numpy(zero_copy_only=False)
    return out

"""Per-group heavy hitters: CMS point estimates over locally-generated
candidates, in one scan, one Arrow pass and one shuffle of partial rows.

Stage 1 is one ``mapInArrow`` over ``(group..., key, xxhash64)``.  Each
task builds, per group, a CMS partial and a bounded SpaceSaving summary of
its local top-C keys, then emits one row per CMS partial (``state`` set)
and one row per candidate (``key`` and its JVM hash ``kh`` set).  The raw
rows cross the Python boundary once and are never shuffled.

Stage 2 is one ``groupBy(scope).applyInArrow``; the scope is the group
columns, or the whole frame in ``shared_cms`` mode.  Each reducer sums its
CMS partials into one dense sketch, de-duplicates the candidates and
estimates each one from its carried hash.  The top-k ``row_number`` window
runs on the reducers' output.  In shared mode that output is one partition,
so the window adds no exchange.  In per-group mode it adds one small
exchange, because Spark does not carry the reducers' hash partitioning
through the UDF's new output columns; a partial window limit runs before
it, so at most k rows per group per partition cross it.  Nothing is
collected and nothing is broadcast: building the DataFrame runs no job.
Skewed sources cost nothing extra: a group's candidates arrive
pre-aggregated per task.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from python_hll_spark.functions.hashing import splitmix64
from python_hll_spark.operators.aggregate import dict_encode_groups, split_by_group
from python_hll_spark.sketches.cms import CMSConfig, CMSSketch


def cms_topk(df: DataFrame, group_cols: list[str], key_col: str, k: int = 10,
             cfg: CMSConfig | None = None, candidates_per_task: int = 64,
             shared_cms: bool = False) -> DataFrame:
    """Top-k ``key_col`` values per group with CMS frequency estimates.

    Works for any orderable key type: the CMS ingests the JVM-side
    ``xxhash64`` of the key; candidates carry the original key value and
    that hash.  Returns (group..., key <input type>, est_count bigint,
    rank int); ties on ``est_count`` rank by ``key`` ascending.

    ``shared_cms=True`` is the HIGH-GROUP-ARITY mode: instead of one CMS
    per group (state = depth*width*8 bytes PER GROUP — at 10^3+ groups the
    partial shuffle is groups x MBs per task), a single CMS counts the
    composite ``xxhash64(group..., key)`` pair, making state size
    independent of group count.  Trade-off: the overcount bound becomes
    eps * N_TOTAL rather than eps * N_group.  Use it when groups are many
    and per-group volume is a small share of the stream.

    Reducer memory: one dense CMS (depth*width*8 bytes) plus the group's
    candidates, at most ``tasks * max(candidates_per_task, 4k)`` rows.  In
    shared mode a single reducer holds the one CMS and the candidates of
    every group.
    """
    cfg = cfg or CMSConfig(depth=5, width=65536)
    cand_c = max(candidates_per_task, 4 * k)
    # SpaceSaving bounded summary: the per-(task, group) candidate structure
    # never holds more than `cap` keys no matter how many distinct keys
    # stream through the task — the 100 TB memory guarantee.  True
    # SpaceSaving admission semantics: a key not currently tracked enters at
    # floor + count, where floor is the largest running count ever evicted
    # for that group.  That makes the tracked count an UPPER bound on the
    # key's true local frequency (error <= floor), so a heavy hitter that
    # surges late can never be starved out by early-accumulating keys —
    # plain restart-at-zero truncation does not provide that guarantee.
    # Final reported counts come from the CMS, so the admission inflation
    # never reaches the output.
    cap = 4 * cand_c

    if shared_cms:
        cms_hash = F.xxhash64(*[F.col(c) for c in group_cols], F.col(key_col))
    else:
        cms_hash = F.xxhash64(F.col(key_col))
    pruned = df.select(*group_cols, F.col(key_col).alias("__key"),
                       cms_hash.alias("__kh"))
    key_type = dict(pruned.dtypes)["__key"]
    group_fields = [f"`{f.name}` {f.dataType.simpleString()}"
                    for f in pruned.schema.fields if f.name in group_cols]
    partial_schema = ", ".join(
        group_fields + ["state binary", f"key {key_type}", "kh bigint"])
    est_schema = ", ".join(group_fields + [f"key {key_type}", "est_count bigint"])

    def partials_and_candidates(batches):
        """Per task: CMS partials split by group via counting sort, and the
        approximate local top-C via dictionary-encoded composite codes (one
        sort-unique per Arrow batch, no per-row Python); each group's
        summary is truncated to `cap` keys after every batch."""
        sketches: dict = {}   # gkey tuple (() when shared) -> CMSSketch
        per_group: dict = {}  # gkey tuple -> {key: (running count, kh)}
        floors: dict = {}     # gkey tuple -> largest evicted count
        schema = None
        for batch in batches:
            schema = batch.schema
            gcodes, gkeys = dict_encode_groups(batch, group_cols)
            kh = batch.column("__kh").to_numpy(zero_copy_only=False)
            hashed = splitmix64(kh)
            if shared_cms:
                parts = [((), hashed)]
            else:
                parts = zip(gkeys, split_by_group(hashed, gcodes, len(gkeys)))
            for gkey, vals in parts:
                if gkey not in sketches:
                    sketches[gkey] = CMSSketch(cfg)
                sketches[gkey].update(vals)

            kcodes, kdict = dict_encode_groups(batch, ["__key"])
            card = len(kdict)
            comp = gcodes * np.int64(card) + kcodes
            uniq, first, cnts = np.unique(comp, return_index=True,
                                          return_counts=True)
            for code, c, h in zip(uniq.tolist(), cnts.tolist(),
                                  kh[first].tolist()):
                gkey = gkeys[code // card]
                key = kdict[code % card][0]
                d = per_group.setdefault(gkey, {})
                prev = d.get(key)
                # SpaceSaving admission: unseen keys inherit the group's
                # eviction floor so late-surging heavy hitters catch up
                d[key] = ((floors.get(gkey, 0) + c) if prev is None
                          else prev[0] + c, h)
            for gkey, d in per_group.items():
                if len(d) > cap:
                    items = sorted(d.items(), key=lambda kv: (-kv[1][0], str(kv[0])))
                    per_group[gkey] = dict(items[:cap])
                    floors[gkey] = max(floors.get(gkey, 0), items[cap][1][0])
        if schema is None:
            return
        no_group = (None,) * len(group_cols)
        g_out = [no_group if shared_cms else gkey for gkey in sketches]
        s_out = [sk.to_bytes() for sk in sketches.values()]
        k_out = [None] * len(s_out)
        h_out = [None] * len(s_out)
        for gkey, d in per_group.items():
            items = sorted(d.items(), key=lambda kv: (-kv[1][0], str(kv[0])))
            for key, (_, h) in items[:cand_c]:
                g_out.append(gkey)
                s_out.append(None)
                k_out.append(key)
                h_out.append(h)
        arrays = [pa.array([g[i] for g in g_out], type=schema.field(c).type)
                  for i, c in enumerate(group_cols)]
        arrays += [pa.array(s_out, pa.binary()),
                   pa.array(k_out, type=schema.field("__key").type),
                   pa.array(h_out, pa.int64())]
        yield pa.RecordBatch.from_arrays(
            arrays, names=group_cols + ["state", "key", "kh"])

    def estimate(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        """Per scope: sum the CMS partials, de-duplicate the candidates on
        (group..., key) and estimate each from its carried hash."""
        sketch = None
        cands = []
        for batch in batches:
            is_state = batch.column("state").is_valid()
            for blob in batch.column("state").filter(is_state).to_pylist():
                part = CMSSketch.from_bytes(blob)
                if sketch is None:
                    sketch = part
                else:
                    sketch.merge(part)
            cands.append(batch.filter(pc.invert(is_state)))
        table = pa.Table.from_batches(cands).combine_chunks()
        codes, _ = dict_encode_groups(table, group_cols + ["key"])
        _, first = np.unique(codes, return_index=True)
        table = table.take(pa.array(first))
        est = sketch.estimate(splitmix64(table.column("kh").to_numpy()))
        yield pa.RecordBatch.from_arrays(
            [table.column(c).combine_chunks() for c in group_cols + ["key"]]
            + [pa.array(est, pa.int64())],
            names=group_cols + ["key", "est_count"])

    scope = [] if shared_cms else group_cols
    estimated = (pruned
                 .mapInArrow(partials_and_candidates, schema=partial_schema)
                 .groupBy(*scope)
                 .applyInArrow(estimate, schema=est_schema))
    w = (Window.partitionBy(*[F.col(c) for c in group_cols])
         .orderBy(F.desc("est_count"), F.asc("key")))
    return (estimated
            .withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(*group_cols, "key", "est_count", "rank"))


def exact_topk(df: DataFrame, group_cols: list[str], key_col: str, k: int = 10) -> DataFrame:
    """Exact oracle (shuffles; test scale only)."""
    counted = (df.groupBy(*group_cols, F.col(key_col).alias("key"))
               .agg(F.count("*").alias("cnt")))
    w = (Window.partitionBy(*[F.col(c) for c in group_cols])
         .orderBy(F.desc("cnt"), F.asc("key")))
    return (counted.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))

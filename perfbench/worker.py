"""Serving process of the benchmark: opens the index, runs one closed loop
(one client, no think time) and reports each call's wall and CPU time,
the answers and memory.

It runs as its own process, started by run.py, so that its resident
memory holds the serving tier only: no Spark driver state and no oracle.
The process is pinned to one CPU.

    python3 perfbench/worker.py JOB.json

JOB.json names the index, the query pool, the stream of pool indexes,
the warm-up list, the window length and whether to trace.  The result
JSON goes to job["out"].  In a traced run every second operation is
traced: it calls the public serving functions step by step
(parse_query -> validate_fields -> normalize -> local_candidates per
shard -> gather) through a proxy that times the index's lookup_terms /
fetch_blocks / expand_candidates; the other operations run untraced, so
the two halves give the tracing overhead.
"""

from __future__ import annotations

import json
import os
import sys
import time

now = time.perf_counter
cpu_now = time.process_time  # all threads of the process, steal excluded

BLOCK_BYTES_COLS = ("doc_gaps", "tfs", "dls")


class Probe:
    """Timing proxy around one LocalIndex: records a span per call into
    the index's lookup / fetch / expand methods and counts what a fetch
    returned.  Everything else is delegated unchanged."""

    def __init__(self, index):
        self._ix = index
        self.calls: list[tuple] = []
        self.seen: set[int] = set()

    def __getattr__(self, name):
        return getattr(self._ix, name)

    def lookup_terms(self, keys):
        t0 = now()
        out = self._ix.lookup_terms(keys)
        self.calls.append(("local.lookup", t0, now(), {}))
        return out

    def expand_candidates(self, patterns, prefixes):
        t0 = now()
        out = self._ix.expand_candidates(patterns, prefixes)
        self.calls.append(("local.expand", t0, now(), {}))
        return out

    def fetch_blocks(self, term_ids):
        t0 = now()
        out = self._ix.fetch_blocks(term_ids)
        t1 = now()
        tids = [int(t) for t in term_ids]
        new = [t for t in tids if t not in self.seen]
        self.seen.update(new)
        nbytes = sum(
            int(out[c].map(len).sum()) for c in BLOCK_BYTES_COLS
            if c in out.columns and len(out)
        )
        self.calls.append(("local.fetch", t0, t1, {
            "blocks": len(out),
            "segments": int(out["segment"].nunique()) if len(out) else 0,
            "bytes": nbytes, "tids": len(tids), "new_tids": len(new),
        }))
        return out


def _topk(pdf, k: int):
    """(score desc, docid asc) cut, the serving tier's comparator."""
    import numpy as np

    order = np.lexsort((pdf["docid"].to_numpy(), -pdf["score"].to_numpy()))
    return pdf.iloc[order[:k]]


def traced_search(shards, probes, dsl, k, page, spans, op):
    """One query through the public functions, a span per layer.  The
    single-index case is a one-shard gather."""
    import pandas as pd

    from bzzz_spark.query import ast
    from bzzz_spark.query.executor import validate_fields
    from bzzz_spark.query.rewrite import normalize
    from bzzz_spark.serve.local import local_candidates

    kk = k * page + k
    t0 = now()
    node = ast.parse_query(dsl)
    validate_fields(shards[0], node)
    node = normalize(node)
    t1 = now()
    spans.append((op, "parse", None, t0, t1, {}))
    tops = []
    for si, probe in enumerate(probes):
        probe.calls.clear()
        ts = now()
        cand = local_candidates(probe, node, kk)
        if cand is None:
            raise ValueError(f"{type(node).__name__} is outside the serving family")
        tc = now()
        tops.append(_topk(cand, kk) if len(cand) else cand)
        te = now()
        spans.append((op, "shard", si, ts, te, {"candidates": len(cand), "call_end": tc}))
        for name, a, b, meta in probe.calls:
            spans.append((op, name, si, a, b, meta))
    tm = now()
    allh = pd.concat(tops, ignore_index=True)
    top = _topk(allh, kk).iloc[page * k:] if len(allh) else allh
    spans.append((op, "merge", None, tm, now(), {}))
    return top


def layer_metrics(spans, n_ops: int) -> dict:
    """Per-layer aggregates over the traced operations.  Times are mean
    ms per query (summed over shards); ratios are taken over all ops."""
    per = lambda v: v / max(n_ops, 1)  # noqa: E731
    ms = 1e3
    tot = {k: 0.0 for k in (
        "parse", "lookup", "fetch", "expand", "plan", "kernel", "shard_sum",
        "shard_max", "merge", "imbalance", "blocks", "segments", "bytes",
        "candidates", "tids", "new_tids")}
    by_op: dict = {}
    for op, name, si, a, b, meta in spans:
        by_op.setdefault(op, []).append((name, si, a, b, meta))
    for rows in by_op.values():
        shard_t = []
        for name, si, a, b, meta in rows:
            if name == "parse":
                tot["parse"] += b - a
            elif name == "merge":
                tot["merge"] += b - a
            elif name == "shard":
                shard_t.append(b - a)
                tot["candidates"] += meta["candidates"]
                inner = [r for r in rows if r[1] == si and r[0].startswith("local.")]
                busy = sum(r[3] - r[2] for r in inner)
                fetch = [r for r in inner if r[0] == "local.fetch"]
                if fetch:
                    f = fetch[-1]
                    pre = sum(r[3] - r[2] for r in inner if r[3] <= f[2])
                    tot["plan"] += (f[2] - a) - pre
                    tot["kernel"] += meta["call_end"] - f[3]
                else:
                    tot["plan"] += (meta["call_end"] - a) - busy
                for r in inner:
                    key = r[0].split(".")[1]
                    tot[key] += r[3] - r[2]
                    for c in ("blocks", "segments", "bytes", "tids", "new_tids"):
                        tot[c] += r[4].get(c, 0)
        if shard_t:
            tot["shard_sum"] += sum(shard_t)
            tot["shard_max"] += max(shard_t)
            mean = sum(shard_t) / len(shard_t)
            tot["imbalance"] += max(shard_t) / mean if mean > 0 else 1.0
    return {
        "parse.us_per_query": per(tot["parse"]) * 1e6,
        "wand.plan_ms": per(tot["plan"]) * ms,
        "wand.kernel_ms": per(tot["kernel"]) * ms,
        "wand.segments_per_query": per(tot["segments"]),
        "wand.candidates_per_block": tot["candidates"] / max(tot["blocks"], 1),
        "local.lookup_ms": per(tot["lookup"]) * ms,
        "local.fetch_ms": per(tot["fetch"]) * ms,
        "local.expand_ms": per(tot["expand"]) * ms,
        "local.blocks_per_query": per(tot["blocks"]),
        "local.bytes_per_query": per(tot["bytes"]),
        "local.first_touch_frac": tot["new_tids"] / max(tot["tids"], 1),
        "scatter.shard_sum_ms": per(tot["shard_sum"]) * ms,
        "scatter.shard_max_ms": per(tot["shard_max"]) * ms,
        "scatter.merge_ms": per(tot["merge"]) * ms,
        "scatter.imbalance": per(tot["imbalance"]),
    }


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies from /proc/stat: the host's steal share over
    the window explains runs that are slower across the board."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmRSS not found in /proc/self/status")


def main(job_path: str) -> None:
    # One serving process per core.  Set before any import starts a
    # thread, so Arrow's pools inherit the mask.  Unpinned, each call's
    # scan threads wake every vCPU, which on a shared host turns into
    # steal and a spread of CPU time per call.
    os.sched_setaffinity(0, {max(os.sched_getaffinity(0))})
    with open(job_path) as f:
        job = json.load(f)
    sys.path.insert(0, job["root"])
    k = int(job["k"])
    t0 = now()
    from bzzz_spark.serve.local import LocalIndex, local_search
    from bzzz_spark.serve.scatter import ShardedIndex

    if job["kind"] == "sharded":
        ix = ShardedIndex(job["index_dir"])
        shards = ix.shards
        search = lambda q, page: ix.search(q, size=k, page=page)  # noqa: E731
    else:
        ix = LocalIndex(job["index_dir"])
        shards = [ix]
        search = lambda q, page: local_search(ix, q, size=k, page=page)  # noqa: E731
    open_s = now() - t0
    pool, stream = job["pool"], job["stream"]

    probes = [Probe(s) for s in shards]
    trace = bool(job["trace"])
    for i in job["warmup"]:
        if trace:  # through the probes, so they know the warm term ids
            traced_search(shards, probes, pool[i]["q"], k, pool[i]["page"], [], -1)
        else:
            search(pool[i]["q"], pool[i]["page"])
    spans: list[tuple] = []
    ops: list[list] = []
    n = 0
    ticks0 = cpu_ticks()
    t_start = now()
    t_end = t_start + float(job["seconds"])
    while now() < t_end:
        if n >= len(stream):
            raise RuntimeError(
                f"query stream exhausted after {n} operations: the run "
                "needs a longer stream (larger corpus or shorter run)"
            )
        i = stream[n]
        q, page = pool[i]["q"], pool[i]["page"]
        traced = trace and n % 2 == 1
        err = None
        t, c = now(), cpu_now()
        try:
            if traced:
                hits = traced_search(shards, probes, q, k, page, spans, n)
            else:
                hits = search(q, page)
        except Exception as e:  # counted as a failed operation
            hits, err = None, f"{type(e).__name__}: {e}"
        cpu, lat = cpu_now() - c, now() - t
        if err is None:
            ops.append([i, lat, cpu, int(traced), hits["docid"].astype(int).tolist(),
                        hits["score"].astype(float).tolist(), None])
        else:
            ops.append([i, lat, cpu, int(traced), [], [], err])
        n += 1
    window_s = now() - t_start
    ticks1 = cpu_ticks()
    out = {"open_s": open_s, "window_s": window_s, "ops": ops,
           "rss_mb": rss_mb(), "n_warmup": len(job["warmup"]),
           "steal_frac": (ticks1[1] - ticks0[1]) / max(ticks1[0] - ticks0[0], 1)}
    if trace:
        out["layers"] = layer_metrics(spans, sum(1 for o in ops if o[3]))
        with open(job["spans_out"], "w") as f:
            for op, name, si, a, b, meta in spans:
                parent = "shard" if name.startswith("local.") else "query"
                f.write(json.dumps({"op": op, "span": name, "parent": parent,
                                    "shard": si, "start": a, "end": b,
                                    **meta}) + "\n")
    with open(job["out"], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(sys.argv[1])

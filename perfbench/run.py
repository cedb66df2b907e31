"""bzzz_spark benchmark of record: oracle-checked top-k serving.

    python3 perfbench/run.py --workload serve_hot --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  One run:

1. pins the environment (cores, driver memory, PYTHONPATH, scratch dirs
   inside perfbench/_work) and starts Spark;
2. set-up: generates the seeded corpus, builds the index through the
   package's public build API, stops Spark, then opens the index in a
   separate serving process (perfbench/worker.py);
3. the serving process runs the workload's closed loop for --seconds;
4. outside every timed window, the pure-Python BM25 oracle
   (bzzz_spark.oracle.pyoracle.PyIndex) checks every answer;
5. prints the metrics, as the last stdout line, one JSON object.

--trace 1 prints the per-layer metrics instead (see README.md).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

now = time.perf_counter
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# workload → (index build, corpus turns)
WORKLOADS = {
    "serve_hot": ("checkpoint", 20_000),
    "serve_tail_sharded": ("sharded", 5_000),
}
N_SHARDS = 4
N_SERVERS = 3
BATCH_QUERIES = 100


def die(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def pin_environment(work: str) -> dict:
    """Fix everything the engine reads from the environment, and record
    the machine.  Spark, its Python workers and temp files stay inside
    the work directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    driver_mb = min(2048, mem_kb // 1024 // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ.update({
        # mapInPandas workers import bzzz_spark from the checkout
        "PYTHONPATH": ROOT + (os.pathsep + pp if pp else ""),
        "BZZZ_DRIVER_MEM": f"{driver_mb}m",
        "BZZZ_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "TMPDIR": tmp,
        # the launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    import numpy
    import pyarrow
    import pyspark

    return {
        "cpus": cpus, "mem_gib": round(mem_kb / 2**20, 1),
        "driver_mem": os.environ["BZZZ_DRIVER_MEM"],
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
    }


def start_spark(work: str, cpus: int):
    from bzzz_spark.session import get_spark

    return get_spark("perfbench", cpus=cpus, extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })


def stop_spark() -> None:
    """Stop the active context, then the gateway JVM, and wait for the
    JVM to exit.  A no-op when Spark is not running."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def spark_counts(sc, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                tasks += si.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process's live descendants (the
    Spark JVM and its Python workers), including the children they have
    reaped."""
    parent, cpu = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        parent[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(int(x) for x in fields[11:15])  # u+s, cu+cs
    mine, todo = set(), [os.getpid()]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        mine.update(kids)
        todo.extend(kids)
    return sum(cpu[p] for p in mine) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path) for f in fs
    )


def build(spark, kind: str, corpus_path: str, out: str, cfg) -> None:
    from bzzz_spark.build.checkpoint import build_and_write
    from bzzz_spark.serve.scatter import build_sharded

    table = spark.read.parquet(corpus_path)
    if kind == "sharded":
        build_sharded(table, out, N_SHARDS, cfg)
    else:
        build_and_write(table, out, cfg)


def index_dirs(kind: str, out: str) -> list[str]:
    if kind == "sharded":
        return [os.path.join(out, f"shard={i}") for i in range(N_SHARDS)]
    return [out]


def index_shape(dirs: list[str]) -> dict:
    """Block layout of the written index, read from its posting files
    (summed over shards)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    blocks = postings = payload = 0
    for d in dirs:
        t = pads.dataset(os.path.join(d, "postings"), partitioning="hive").to_table(
            columns=["count", "doc_gaps", "tfs", "dls"])
        blocks += t.num_rows
        postings += int(pc.sum(t["count"]).as_py() or 0)
        for c in ("doc_gaps", "tfs", "dls"):
            payload += int(pc.sum(pc.binary_length(t[c])).as_py() or 0)
    return {
        "build.n_blocks": blocks,
        "build.postings_per_block": postings / max(blocks, 1),
        "build.payload_bytes": payload,
    }


def stage_seconds(manifest: dict) -> dict:
    return {
        "build.docs_s": manifest["stages"]["docs"]["took_sec"],
        "build.dictionary_s": manifest["stages"]["dictionary"]["took_sec"],
        "build.postings_s": sum(c["took_sec"] for c in manifest["chunks"].values()),
    }


class Checker:
    """Compares answers with the pure-Python oracle: docids exactly,
    scores within rel 1e-9 (the tolerance of the parity tests).

    One deviation is tolerated and counted apart: where several documents
    tie on the score at a page edge, the engine may return another member
    of that tie group than the (score desc, docid asc) order names.  The
    block-max kernel drops a lower-docid tie when a block's max score
    equals the top-k threshold; every score and every hit above the tie
    is still exact."""

    def __init__(self, table):
        from bzzz_spark.oracle.pyoracle import PyIndex

        self.oracle = PyIndex(table.to_dict("records"))
        self.memo: dict = {}
        self.ties = 0

    def ranking(self, key, q: dict) -> list[tuple[int, float]]:
        if key not in self.memo:
            from bzzz_spark.query import ast

            node = ast.parse_query(q)
            self.memo[key] = self.oracle.search(node, size=max(self.oracle.n_docs, 1))
        return self.memo[key]

    def check(self, key, q: dict, page: int, k: int, docids, scores) -> bool:
        full = self.ranking(key, q)
        want = full[page * k: page * k + k]
        if len(want) != len(docids) or not all(
            math.isclose(s, w, rel_tol=1e-9, abs_tol=1e-12)
            for (_, w), s in zip(want, scores)
        ):
            return False
        if [d for d, _ in want] == list(docids):
            return True
        if len(set(docids)) != len(docids):
            return False
        for (wd, ws), d in zip(want, docids):
            if d == wd:
                continue
            group = {
                gd for gd, gs in full
                if math.isclose(gs, ws, rel_tol=1e-9, abs_tol=1e-12)
            }
            if d not in group or group <= {wd for wd, _ in want}:
                return False  # not a tie, or a tie wholly inside the page
        self.ties += 1
        return True


def pct(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, math.ceil(p / 100.0 * len(s)) - 1))]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--turns", type=int, default=None,
                    help="corpus size override (smoke check)")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "bzzz_spark", "__init__.py")):
        die(f"no bzzz_spark package under {ROOT}: run from a full checkout")
    kind, n_turns = WORKLOADS[args.workload]
    n_turns = args.turns or n_turns
    tag = f"{args.workload}-seed{args.seed}" + ("-trace" if args.trace else "")
    work = os.path.join(HERE, "_work", f"{tag}-{os.getpid()}")
    runs = os.path.join(HERE, "_runs")
    os.makedirs(runs, exist_ok=True)
    os.makedirs(work)
    sys.path.insert(0, ROOT)
    try:
        result = run(args, kind, n_turns, work, runs, tag)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result["info"], sort_keys=True))
    print(json.dumps(result["line"]))


def run(args, kind, n_turns, work, runs, tag):
    from bzzz_spark.build.indexer import IndexConfig

    import workload as wl

    env = pin_environment(work)
    # ---- set-up: Spark start, corpus, build (the index open is timed
    # in the serving process) -------------------------------------------
    t0 = now()
    spark = start_spark(work, env["cpus"])
    t1 = now()
    corpus = wl.Corpus(n_turns, args.seed)
    corpus_path = os.path.join(work, "corpus.parquet")
    corpus.write_parquet(corpus_path)
    t2 = now()
    out = os.path.join(work, "index")
    cfg = IndexConfig(docvalue_cols=("turn_idx",))
    sc = spark.sparkContext
    sc.setJobGroup("build", "perfbench index build")
    cpu0 = tree_cpu_s()
    build(spark, kind, corpus_path, out, cfg)
    t3 = now()
    build_cpu = tree_cpu_s() - cpu0
    dirs = index_dirs(kind, out)
    checker = Checker(corpus.table)  # outside every timed window
    metrics, attempted, failed = {}, 0, 0
    if args.trace:
        metrics, attempted, failed = spark_layers(
            args, spark, kind, corpus, corpus_path, out, dirs, cfg, checker, work)
    stop_spark()  # serve with no Spark driver state in the machine

    # query stream: the program sees only these generated inputs
    k = wl.K
    if kind == "sharded":
        tail = wl.TailStream(corpus, args.seed)
        pool = tail.take(int(args.seconds * 1000))
        need = int(args.seconds * 50)  # at >= 20 ms per cold sharded query
        if len(pool) < need:
            raise RuntimeError(
                f"tail vocabulary too small: {len(pool)} queries available, "
                f"a {args.seconds:g} s run may need {need}"
            )
        stream, warmup = list(range(len(pool))), []
    else:
        pool = wl.hot_pool(corpus)
        # whole rounds in every serving process's slice, enough for
        # calls down to 0.2 ms
        per_server = math.ceil(args.seconds * 5000 / N_SERVERS / wl.ROUND)
        stream = wl.hot_stream(pool, args.seed, per_server * N_SERVERS).tolist()
        warmup = list(range(len(pool)))
    served = serve(out, kind, k, pool, stream, warmup, args, work, runs, tag)
    ops = served["ops"]

    # ---- correctness, outside every timed window -----------------------
    errors: list[str] = []
    with open(os.path.join(runs, f"{tag}-stream.jsonl"), "w") as f:
        for i, lat, cpu, traced, docids, scores, err in ops:
            f.write(json.dumps({**pool[i], "ms": lat * 1e3, "cpu_ms": cpu * 1e3,
                                "traced": traced}) + "\n")
            if err is not None or not checker.check(
                    i, pool[i]["q"], pool[i]["page"], k, docids, scores):
                failed += 1
                errors.append(err or f"mismatch on {json.dumps(pool[i])}")
    attempted += len(ops)

    untraced = [o for o in ops if not o[3]]
    wall = [o[1] * 1e3 for o in untraced]
    cpu = [o[2] * 1e3 for o in untraced]
    p95 = pct(cpu, 95)
    info = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "env": env, "n_turns": n_turns, "spark_start_s": t1 - t0,
        "corpus_s": t2 - t1, "build_s": t3 - t2, "open_s": served["open_s"],
        "serve_ops": len(ops), "warmup_ops": served["n_warmup"],
        "samples_beyond_p95": sum(1 for x in cpu if x > p95),
        "wall_p50_ms": statistics.median(wall), "wall_p95_ms": pct(wall, 95),
        "wall_qps": len(ops) / served["window_s"],
        "build_turns_per_s": n_turns / (t3 - t2), "build_cpu_s": build_cpu,
        "window_s": served["window_s"], "steal_frac": served["steal_frac"],
        "tie_swaps": checker.ties,
        "errors": errors[:5],
    }
    if not args.trace:
        metrics = {
            "setup_s": (t3 - t0 + served["open_s"], "s"),
            "query_cpu_p50_ms": (statistics.median(cpu), "ms"),
            "query_cpu_p95_ms": (p95, "ms"),
            "calls_per_cpu_s": (len(untraced) / (sum(cpu) / 1e3), "1/s"),
            "index_bytes_per_text_byte": (
                sum(dir_bytes(d) for d in dirs) / corpus.text_bytes, "ratio"),
            "serve_rss_mb": (served["rss_mb"], "MiB"),
        }
    else:
        metrics.update({n: (v, UNITS[n]) for n, v in served["layers"].items()})
        traced = [o[2] * 1e3 for o in ops if o[3]]
        metrics["trace.overhead_frac"] = (
            statistics.median(traced) / statistics.median(cpu) - 1.0, "ratio")
        metrics["serve.wall_p50_ms"] = (statistics.median(wall), "ms")
        metrics["build.turns_per_s"] = (n_turns / (t3 - t2), "turns/s")
        metrics["build.cpu_s"] = (build_cpu, "s")
    with open(os.path.join(runs, f"{tag}.json"), "w") as f:
        json.dump({"info": info, "metrics": metrics}, f, indent=1)
    return {
        "info": info,
        "line": {
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
        },
    }


def serve(out, kind, k, pool, stream, warmup, args, work, runs, tag) -> dict:
    """Run the closed loop in N_SERVERS fresh serving processes one after
    another, each for an equal share of the window and its own slice of
    the stream, and pool what they report.  One process's speed varies
    by 10-15 % from the next on this kind of host (memory layout, core
    placement), so one process per run would make that the run's noise."""
    parts = []
    chunk = len(stream) // N_SERVERS
    for j in range(N_SERVERS):
        job = {
            "root": ROOT, "kind": kind, "index_dir": out, "k": k, "pool": pool,
            "stream": stream[j * chunk:(j + 1) * chunk], "warmup": warmup,
            "seconds": args.seconds / N_SERVERS, "trace": args.trace,
            "out": os.path.join(work, f"served{j}.json"),
            "spans_out": os.path.join(runs, f"{tag}-spans{j}.jsonl"),
        }
        job_path = os.path.join(work, f"job{j}.json")
        with open(job_path, "w") as f:
            json.dump(job, f)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "worker.py"), job_path],
            check=True, timeout=args.seconds + 120,
        )
        with open(job["out"]) as f:
            parts.append(json.load(f))
    merged = {
        "ops": [o for p in parts for o in p["ops"]],
        "window_s": sum(p["window_s"] for p in parts),
        "open_s": statistics.median(p["open_s"] for p in parts),
        "rss_mb": statistics.median(p["rss_mb"] for p in parts),
        "steal_frac": statistics.mean(p["steal_frac"] for p in parts),
        "n_warmup": sum(p["n_warmup"] for p in parts),
    }
    if args.trace:
        # per-query means and ratios, weighted by each process's traced ops
        w = [sum(1 for o in p["ops"] if o[3]) for p in parts]
        merged["layers"] = {
            n: sum(p["layers"][n] * wi for p, wi in zip(parts, w)) / max(sum(w), 1)
            for n in parts[0]["layers"]
        }
    return merged


UNITS = {
    "parse.us_per_query": "us", "wand.plan_ms": "ms", "wand.kernel_ms": "ms",
    "wand.segments_per_query": "count", "wand.candidates_per_block": "ratio",
    "local.lookup_ms": "ms", "local.fetch_ms": "ms", "local.expand_ms": "ms",
    "local.blocks_per_query": "count", "local.bytes_per_query": "bytes",
    "local.first_touch_frac": "ratio", "scatter.shard_sum_ms": "ms",
    "scatter.shard_max_ms": "ms", "scatter.merge_ms": "ms",
    "scatter.imbalance": "ratio",
}


def spark_layers(args, spark, kind, corpus, corpus_path, out, dirs, cfg,
                 checker, work):
    """Per-layer metrics of the build and the Spark runtime: the build's
    job-group status counts, the block layout of the written index, the
    checkpointed build's stage times from its manifest, and one
    search_many batch over an eval set (its answers oracle-checked).
    Returns (metrics, batch queries attempted, batch queries failed)."""
    from bzzz_spark.build.checkpoint import build_and_write, read_index
    from bzzz_spark.query.batch import search_many

    import workload as wl

    sc = spark.sparkContext
    m = {f"spark.build.{c}": (v, "count")
         for c, v in spark_counts(sc, "build").items()}
    for n, v in index_shape(dirs).items():
        m[n] = (v, "bytes" if n.endswith("bytes") else
                "ratio" if n.endswith("per_block") else "count")
    # stage split of the checkpointed build: the served index on
    # serve_hot, one extra checkpointed build of the same corpus otherwise
    ckpt = out
    if kind == "sharded":
        ckpt = os.path.join(work, "checkpointed")
        sc.setJobGroup("ckpt", "perfbench checkpointed build")
        build_and_write(spark.read.parquet(corpus_path), ckpt, cfg)
    with open(os.path.join(ckpt, "manifest.json")) as f:
        m.update({n: (v, "s") for n, v in stage_seconds(json.load(f)).items()})

    if kind == "sharded":
        evals = wl.TailStream(corpus, args.seed + 1_000_003).take(BATCH_QUERIES)
    else:
        evals = wl.hot_pool(corpus)
    idx = read_index(spark, ckpt)
    sc.setJobGroup("batch", "perfbench search_many")
    t0 = now()
    rows = search_many(idx, {f"q{i:04d}": e["q"] for i, e in enumerate(evals)},
                       size=wl.K).collect()
    batch_s = now() - t0
    counts = spark_counts(sc, "batch")
    m["batch.s"] = (batch_s, "s")
    m["batch.qps"] = (len(evals) / batch_s, "1/s")
    m["batch.jobs"] = (counts["jobs"], "count")
    m["spark.batch.stages"] = (counts["stages"], "count")
    m["spark.batch.tasks"] = (counts["tasks"], "count")
    got: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], -r["score"], r["docid"])):
        got.setdefault(r["query_id"], []).append((int(r["docid"]), float(r["score"])))
    fail = 0
    for i, e in enumerate(evals):
        hits = got.get(f"q{i:04d}", [])
        if not checker.check(("batch", i), e["q"], 0, wl.K,
                             [d for d, _ in hits], [s for _, s in hits]):
            fail += 1
    return m, len(evals), fail


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()

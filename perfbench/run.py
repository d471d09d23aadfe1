"""Facade benchmark: seeded serve and ingest workloads against GrapeVectorDB.

Usage (from the repository root):

    python3 perfbench/run.py --workload facade_serve --seed 1 --seconds 10 --trace 0

One client issues one request at a time (closed loop) on ``local[nproc]``;
the Python process is also the Spark driver. The run generates its inputs
from ``--seed`` (``tools/gen_testdata``, cached by fingerprint), builds the
DB and the workload's indexes, runs the warm pass, then measures whole
request cycles until ``--seconds`` have passed. Every operation's result is
checked against numpy truth; a failed check fails the operation.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` measures the
same window with timing wrappers around the layer modules (spans.py) and
reports the per-layer metrics, plus the tracing overhead: the time the
tracer spent opening and closing spans, over the operations' wall.
Human-readable lines go to
stdout first; the last stdout line is one JSON object. A full report with
every operation (and, traced, every span) is written under
``perfbench/.work/out/``.

``bench.py`` at the repository root stays the separate, frozen registry
total; this benchmark does not replace it.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

PY_STAGE = re.compile(
    r"MapInArrow|MapInPandas|ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas"
)
LAYERS = ["search", "ann", "quantization", "sparse", "fusion", "filters",
          "payload", "tables", "planner"]
STRATEGIES = ["brute_force", "graph_walk", "ivf", "sq_two_stage",
              "binary_two_stage"]
STAGE_FIELDS = {  # StageData accessor -> report key
    "executorCpuTime": "cpu_ns",
    "executorRunTime": "run_ms",
    "jvmGcTime": "gc_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "inputBytes": "input_bytes",
    "memoryBytesSpilled": "mem_spill_bytes",
    "diskBytesSpilled": "disk_spill_bytes",
}
UNATTRIBUTED_FLAG_PCT = 10.0


def _launch_env(run_dir: str) -> None:
    """Worker path, core count and scratch dirs, set before the JVM starts.
    Python workers import the engine, so the repo root goes on PYTHONPATH;
    every scratch dir lives inside the checkout, one set per process."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    )
    tempfile.tempdir = tmp


def _prune_runs() -> None:
    """Remove scratch dirs left by runs that were killed."""
    if not os.path.isdir(WORK):
        return
    for e in os.scandir(WORK):
        if e.name.startswith("run-") and not os.path.exists(f"/proc/{e.name[4:]}"):
            shutil.rmtree(e.path, ignore_errors=True)


def _median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def _tail(xs: list[float]) -> tuple[float, float] | None:
    """Highest percentile with at least ten samples beyond it: (pct, value)."""
    n = len(xs)
    if n < 11:
        return None
    return 100.0 * (n - 10) / n, sorted(xs)[n - 11]


def _rss_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _jvm_counters(spark) -> tuple[float, float]:
    """(cumulative GC ms, peak heap MB since the last reset)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans())
    heap = sum(
        p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
        if p.getType().toString() == "Heap memory"
    )
    return float(gc), heap / 2**20


def _reset_heap_peak(spark) -> None:
    mf = spark._jvm.java.lang.management.ManagementFactory
    for p in mf.getMemoryPoolMXBeans():
        if p.getType().toString() == "Heap memory":
            p.resetPeakUsage()


def measure(wl, runner, seconds: float) -> float:
    """Whole cycles until ``seconds`` have passed; returns the window wall."""
    t0 = time.perf_counter()
    while True:
        wl.cycle(runner)
        elapsed = time.perf_counter() - t0
        if elapsed >= seconds:
            return elapsed


# -- traced-run profiling --------------------------------------------------


class Profiler:
    """Per-op layer record, taken right after each op (outside its wall):
    the facade call's construct time and jobs, the action's Catalyst
    planning time, and the op's stage metrics from the status store."""

    def __init__(self, spark, tracer) -> None:
        self.tracer = tracer
        self.st = spark.sparkContext.statusTracker()
        self.store = spark.sparkContext._jsc.sc().statusStore()

    def __call__(self, rec, df) -> None:
        spans = self.tracer.spans
        root = rec.root
        sub = range(root, len(spans))  # one thread: the op's spans are contiguous
        call = root + 1
        action = next((i for i in sub if spans[i].name == "action"
                       and spans[i].parent == root), None)
        call_end = action if action is not None else len(spans)
        L = rec.layers
        L["wall_ms"] = spans[root].ms
        L["construct_ms"] = spans[call].ms
        L["construct_jobs"] = sum(len(spans[i].jobs) for i in range(call, call_end))
        L["plan_ms"] = L["execute_ms"] = 0.0
        L["python_stages"] = 0
        if action is not None and df is not None:
            qe = df._jdf.queryExecution()
            phases = qe.tracker().phases()
            L["plan_ms"] = float(sum(
                phases.get(p).get().durationMs()
                for p in ("optimization", "planning")
                if phases.contains(p)
            ))
            L["execute_ms"] = spans[action].ms - L["plan_ms"]
            L["python_stages"] = len(PY_STAGE.findall(qe.executedPlan().toString()))
        covered = L["construct_ms"] + (spans[action].ms if action is not None else 0.0)
        L["unattributed_pct"] = 100.0 * abs(L["wall_ms"] - covered) / max(L["wall_ms"], 1e-9)
        jobs = [j for i in sub for j in spans[i].jobs]
        L["jobs"] = len(jobs)
        L.update(self._stages(jobs))

    def _stages(self, jobs: list[int]) -> dict:
        out = {"stages": 0, "tasks": 0, **{k: 0 for k in STAGE_FIELDS.values()}}
        for j in jobs:
            info = self.st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                for acc, key in STAGE_FIELDS.items():
                    out[key] += getattr(sd, acc)()
        return out


def layer_metrics(ops, tracer, extra) -> dict:
    """The per_layer metrics of BENCHMARK.json, for any workload. Per-class
    values are medians over that class's ops; a class the workload does
    not issue reports 0."""
    from workloads import INGEST_CLASSES, SERVE_CLASSES, WRITE_CLASSES

    m: dict[str, tuple[float, str]] = {}
    by_cls: dict[str, list] = {}
    for o in ops:
        by_cls.setdefault(o.cls, []).append(o)
    for c in SERVE_CLASSES + [c for c in INGEST_CLASSES if c not in SERVE_CLASSES]:
        os_ = by_cls.get(c, [])
        for key, name, unit in (
            ("construct_ms", "db.construct_ms", "ms"),
            ("construct_jobs", "db.construct_jobs", "count"),
            ("plan_ms", "spark.plan_ms", "ms"),
            ("execute_ms", "spark.execute_ms", "ms"),
            ("jobs", "spark.jobs", "count"),
            ("stages", "spark.stages", "count"),
        ):
            m[f"{name}.{c}"] = (_median(o.layers.get(key) for o in os_), unit)

    n = max(len(ops), 1)
    tot = {k: sum(o.layers.get(k, 0) for o in ops) for k in (
        "tasks", "cpu_ns", "run_ms", "gc_ms", "shuffle_read_bytes",
        "shuffle_write_bytes", "input_bytes", "mem_spill_bytes",
        "disk_spill_bytes", "python_stages",
    )}
    m["spark.tasks"] = (tot["tasks"] / n, "count/op")
    m["spark.executor_cpu_ms"] = (tot["cpu_ns"] / 1e6 / n, "ms/op")
    m["spark.executor_run_ms"] = (tot["run_ms"] / n, "ms/op")
    m["spark.cpu_per_run"] = (tot["cpu_ns"] / 1e6 / max(tot["run_ms"], 1), "ratio")
    m["spark.gc_ms"] = (tot["gc_ms"] / n, "ms/op")
    m["spark.shuffle_read_bytes"] = (tot["shuffle_read_bytes"] / n, "bytes/op")
    m["spark.shuffle_write_bytes"] = (tot["shuffle_write_bytes"] / n, "bytes/op")
    m["spark.input_bytes"] = (tot["input_bytes"] / n, "bytes/op")
    m["spark.spill_bytes"] = (
        (tot["mem_spill_bytes"] + tot["disk_spill_bytes"]) / n, "bytes/op")
    m["spark.python_stages"] = (tot["python_stages"] / n, "count/op")

    spans = tracer.spans
    kids = tracer.children()
    self_ms = {layer: 0.0 for layer in LAYERS}
    routes = {s: 0 for s in STRATEGIES}
    publish_ms = merge_ms = 0.0
    publish_n = listing_n = 0
    for i, s in enumerate(spans):
        layer = s.name.split(".", 1)[0]
        if layer in self_ms:
            self_ms[layer] += tracer.self_ms(i, kids)
        if s.name == "planner.choose_search_strategy":
            routes[s.attrs["strategy"]] = routes.get(s.attrs["strategy"], 0) + 1
        elif s.name == "tables.publish_table":
            publish_ms += s.ms
            publish_n += 1
        elif s.name.startswith("tables.merge_upsert"):
            merge_ms += s.ms
        elif s.name == "tables.table_versions":
            listing_n += 1
    for layer in LAYERS:
        m[f"{layer}.construct_ms"] = (self_ms[layer] / n, "ms/op")
    for strat in STRATEGIES:
        m[f"planner.route.{strat}"] = (float(routes[strat]), "count")

    writes = [o for o in ops if o.cls in WRITE_CLASSES]
    nw = max(len(writes), 1)
    m["tables.publish_ms"] = (publish_ms / nw if writes else 0.0, "ms/write")
    m["tables.publish_count"] = (publish_n / nw if writes else 0.0, "count/write")
    m["tables.merge_ms"] = (merge_ms / nw if writes else 0.0, "ms/write")
    m["tables.bytes_written"] = (
        sum(o.bytes_written for o in writes) / nw if writes else 0.0, "bytes/write")
    m["tables.listing_calls"] = (listing_n / n, "count/op")

    for route in ("ivf", "graph", "sq", "binary"):
        m[f"ann.recall_at_10.{route}"] = (
            _median(o.recall for o in by_cls.get(f"{route}_search", [])), "ratio")
    m["cache.hit_ratio"] = (extra["cache_hit_ratio"], "ratio")
    m["jvm.gc_ms"] = (extra["jvm_gc_ms"], "ms")
    m["jvm.heap_peak_mb"] = (extra["jvm_heap_peak_mb"], "MB")
    m["host.steal_pct"] = (extra["steal_pct"], "%")
    m["host.steal_pct_max_op"] = (max((o.steal_pct for o in ops), default=0.0), "%")

    m["trace.overhead_pct"] = (
        100.0 * tracer.own_s / max(sum(o.wall_s for o in ops), 1e-9), "%")
    m["trace.unattributed_pct_max"] = (
        max((o.layers.get("unattributed_pct", 0.0) for o in ops), default=0.0), "%")
    m["trace.flagged_ops"] = (float(sum(
        o.layers.get("unattributed_pct", 0.0) > UNATTRIBUTED_FLAG_PCT for o in ops
    )), "count")
    return m


# -- end-to-end metrics ----------------------------------------------------


def end_to_end(ops, setup_s: float) -> dict:
    """The end_to_end metrics of BENCHMARK.json. Latencies are printed
    but left out: across ten seeds on a 4-core VM with bursts of CPU steal,
    their spread (quartile distance over the median) was 0.12-0.25 in quiet
    hours and up to 0.5 in busy ones, against 0.06-0.08 for the CPU time
    per operation in busy hours."""
    return {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_op": (1e3 * sum(o.cpu_s for o in ops) / len(ops), "ms/op"),
    }


def report_lines(name: str, seed: int, ops, window_s, setup_s, rss_mb,
                 gen_s, steal_pct) -> list[str]:
    """Every end-to-end metric of the workload, by name and unit."""
    walls = [o.wall_s * 1e3 for o in ops]

    def p50(cls):
        return _median(o.wall_s * 1e3 for o in ops if o.cls == cls)

    lines = [
        f"workload {name} seed {seed}: {len(ops)} ops in {window_s:.2f} s, "
        f"closed loop, 1 client (data generation {gen_s:.2f} s, "
        f"host steal {steal_pct:.1f}%)",
    ]
    lines += [f"{k} {v:.3f} {u}" for k, (v, u) in end_to_end(ops, setup_s).items()]
    lines += [
        f"ops_per_s {len(ops) / window_s:.4f} ops/s",
        f"op_p50_ms {_median(walls):.1f} ms",
        f"filtered_search_cpu_p50_ms "
        f"{_median(o.cpu_s * 1e3 for o in ops if o.cls == 'filtered_search'):.1f} ms",
    ]
    t = _tail(walls)
    lines.append(
        f"op_tail_ms {t[1]:.1f} ms (p{t[0]:.1f}, n={len(walls)})" if t
        else f"op_tail_ms n/a (n={len(walls)} < 11)")
    failed = sum(not o.ok for o in ops)
    lines.append(f"failed_frac {failed / max(len(ops), 1):.4f} ratio")
    for cls, metric in (
        ("vector_search", "vector_search_p50_ms"),
        ("filtered_search", "filtered_search_p50_ms"),
        ("hybrid_search", "hybrid_search_p50_ms"),
        ("search_batch", "search_batch_p50_ms"),
        ("cached_search", "cached_search_p50_ms"),
        ("upsert", "upsert_p50_ms"),
        ("delete", "delete_p50_ms"),
    ):
        if any(o.cls == cls for o in ops):
            lines.append(f"{metric} {p50(cls):.1f} ms")
    idx = [o for o in ops if o.cls in ("ivf_search", "graph_search",
                                       "sq_search", "binary_search")]
    if idx:
        lines.append(f"indexed_search_p50_ms "
                     f"{_median(o.wall_s * 1e3 for o in idx):.1f} ms")
        lines.append(f"indexed_recall_at_10 "
                     f"{statistics.fmean(o.recall for o in idx if o.recall is not None):.4f} ratio")
    writes = [o for o in ops if o.cls == "upsert"]
    if writes:
        written = sum(o.bytes_written for o in ops if o.cls in ("upsert", "delete"))
        user = sum(o.user_bytes for o in writes)
        lines.append(f"write_bytes_per_user_byte {written / user:.2f} ratio")
    lines.append(f"peak_rss_mb {rss_mb:.1f} MB")
    return lines


# -- main --------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["facade_serve", "facade_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    for need in ("grape_vector_db_spark/db.py", "tools/gen_testdata.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "full checkout", file=sys.stderr)
            return 2

    _prune_runs()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    _launch_env(run_dir)
    sys.path.insert(0, ROOT)
    import workloads as W

    t0 = time.perf_counter()
    sf_dir = W.prepare_data(ROOT, os.path.join(WORK, "data"), args.seed)
    gen_s = time.perf_counter() - t0
    corpus = W.Corpus(sf_dir)
    inputs = W.Inputs(args.seed, corpus)
    steal0 = W.read_steal()

    t_setup = time.perf_counter()
    from grape_vector_db_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    jvm_proc = gateway.proc
    db_dir = os.path.join(run_dir, "db")
    report: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
                    "data_generation_s": gen_s}
    try:
        wl_cls = W.WORKLOADS[args.workload]
        t_build = time.perf_counter()
        db = W.build_db(spark, db_dir, sf_dir, wl_cls.indexes)
        wl = wl_cls(db, corpus, inputs)
        t_warm = time.perf_counter()
        wl.warm()
        setup_s = time.perf_counter() - t_setup
        report["setup_parts_s"] = {"session": t_build - t_setup,
                                   "build": t_warm - t_build,
                                   "warm": t_setup + setup_s - t_warm}

        tracer = profiler = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
            profiler = Profiler(spark, tracer)
            c0 = dict(db.cache_stats)
            gc0, _ = _jvm_counters(spark)
            _reset_heap_peak(spark)
            s0 = W.read_steal()
            report["wrapped_functions"] = tracer.install()
        runner = W.Runner(db, tracer, profiler)
        try:
            window_s = measure(wl, runner, args.seconds)
        finally:
            if tracer is not None:
                tracer.uninstall()
        ops = runner.ops
        if tracer is not None:
            s1 = W.read_steal()
            gc1, heap_mb = _jvm_counters(spark)
            c1 = db.cache_stats
            lookups = (c1["hits"] + c1["misses"]) - (c0["hits"] + c0["misses"])
            extra = {
                "cache_hit_ratio": (c1["hits"] - c0["hits"]) / lookups if lookups else 0.0,
                "jvm_gc_ms": gc1 - gc0,
                "jvm_heap_peak_mb": heap_mb,
                "steal_pct": 100.0 * (s1[0] - s0[0]) / max(s1[1] - s0[1], 1),
            }
            layers = layer_metrics(ops, tracer, extra)
            report["spans"] = [
                {"name": s.name, "parent": s.parent, "start": s.start,
                 "ms": s.ms, "jobs": s.jobs, **s.attrs}
                for s in tracer.spans
            ]
        rss_mb = _rss_hwm_mb(os.getpid()) + _rss_hwm_mb(jvm_proc.pid)
    finally:
        spark.stop()
        gateway.shutdown()
        jvm_proc.stdin.close()
        try:
            jvm_proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm_proc.kill()
            jvm_proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    s1 = W.read_steal()
    steal_pct = 100.0 * (s1[0] - steal0[0]) / max(s1[1] - steal0[1], 1)
    for line in report_lines(args.workload, args.seed, ops, window_s, setup_s,
                             rss_mb, gen_s, steal_pct):
        print(line)

    failed = sum(not o.ok for o in ops)
    if args.trace:
        metrics = layers
        flagged = layers["trace.flagged_ops"][0]
        print(f"traced window: {len(ops)} ops, tracing overhead "
              f"{layers['trace.overhead_pct'][0]:.1f}%, {flagged:.0f} ops whose "
              f"construct + plan + execute misses the wall by > "
              f"{UNATTRIBUTED_FLAG_PCT:.0f}%")
    else:
        metrics = end_to_end(ops, setup_s)
    report.update({
        "setup_s": setup_s, "window_s": window_s, "steal_pct": steal_pct,
        "ops": [vars(o) for o in ops],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(f"report: {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

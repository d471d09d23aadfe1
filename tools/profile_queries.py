"""Per-query profiler for the optimization rounds.

For each named query (default: the top-N of tools/bench_baseline_r11.json):
warm the ingest caches like bench.py does, then run the query 3 times and
record the median wall, the Spark job/stage/task counts the run generated
(statusTracker deltas — a direct read on how many scheduler round-trips a
single logical query costs), and its plan shape as plans.audit counts it
(shuffles, joins, Python stages, sorts, aggregates). Plans go to
plans/r11/<name>_<tag>.txt.

Usage:
  python tools/profile_queries.py [--tag before|after] [--top N] [name ...]

Writes a JSON summary to /tmp/profile_<tag>.json and prints a sorted table.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
from grape_vector_db_spark.plans.audit import audit_plan, plan_nodes  # noqa: E402
from grape_vector_db_spark.session import get_spark  # noqa: E402


def read_steal() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat — the sandbox host
    has bursty noisy-neighbor CPU steal; runs overlapping a burst are
    flagged so a contaminated sample never drives an optimization call."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:]]
    return vals[7], sum(vals)


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def plan_stats(df) -> dict:
    """Plan-shape counts of ``df``, read through the library's one plan
    counter (plans.audit) so the profile and the plan tests agree."""
    a = audit_plan(df)
    nodes = plan_nodes(df)
    return {
        "exchanges": a.shuffles,
        "smj": a.sort_merge_joins,
        "bhj": a.broadcast_hash_joins,
        "bnlj": a.nested_loop_joins,
        "pyeval": a.python_evals,
        "sorts": nodes["Sort"],
        "aggs": nodes["HashAggregate"] + nodes["SortAggregate"]
        + nodes["ObjectHashAggregate"],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tag", default="probe")
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--dump-plans", action="store_true")
    ap.add_argument("--plan-dir", default=os.path.join(ROOT, "plans", "r11"))
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    spark = get_spark(app_name="gvdb-profile")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = args.sf_dir

    qs = entrymod.queries()
    names = list(args.names)
    if args.top:
        baseline = os.path.join(ROOT, "tools", "bench_baseline_r11.json")
        base = json.load(open(baseline))["queries"]
        ranked = sorted(
            (n for n in base if n in qs), key=lambda n: -base[n]
        )
        for n in ranked[: args.top]:
            if n not in names:
                names.append(n)
    if not names:
        names = list(qs)

    # same warmup bench.py does
    for t in ("lineitem", "embeddings", "documents"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    def _noop(batches):
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        yield from batches
    n = spark.sparkContext.defaultParallelism
    spark.range(n, numPartitions=n).mapInPandas(_noop, "id long").count()
    entrymod.warm_ingest_caches(spark, sf_dir)

    st = spark.sparkContext.statusTracker()

    def job_ids():
        return set(st.getJobIdsForGroup() or [])

    results = {}
    os.makedirs(args.plan_dir, exist_ok=True)
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        walls, steals, jobs, stages, tasks = [], [], 0, 0, 0
        try:
            for r in range(args.runs):
                before = job_ids()
                sj0, tj0 = read_steal()
                t0 = time.time()
                nrows = fn(spark, sf_dir).count()
                walls.append(time.time() - t0)
                sj1, tj1 = read_steal()
                steals.append(round(100.0 * (sj1 - sj0) / max(tj1 - tj0, 1), 1))
                if r == 0:
                    new = job_ids() - before
                    jobs = len(new)
                    for j in new:
                        ji = st.getJobInfo(j)
                        if ji:
                            for sid in ji.stageIds:
                                si = st.getStageInfo(sid)
                                if si:
                                    stages += 1
                                    tasks += si.numTasks
            df = fn(spark, sf_dir)
            ps = plan_stats(df)
            if args.dump_plans:
                with open(f"{args.plan_dir}/{name}_{args.tag}.txt", "w") as f:
                    f.write(plan_of(df))
            results[name] = {
                "median_s": round(sorted(walls)[len(walls) // 2], 3),
                "min_s": round(min(walls), 3),
                "steal_pct": steals,
                "runs": [round(w, 3) for w in walls],
                "rows": nrows,
                "jobs": jobs,
                "stages": stages,
                "tasks": tasks,
                **ps,
            }
            r = results[name]
            print(
                f"{name}: {r['median_s']:.3f}s min={r['min_s']:.3f}s "
                f"jobs={jobs} stages={stages} "
                f"tasks={tasks} exch={ps['exchanges']} py={ps['pyeval']} "
                f"smj={ps['smj']} runs={r['runs']} steal%={steals}",
                flush=True,
            )
        except Exception as e:
            results[name] = {"error": str(e)[:300]}
            print(f"{name}: ERROR {e}", flush=True)
        finally:
            spark.sparkContext.setJobDescription(None)

    out = f"/tmp/profile_{args.tag}.json"
    with open(out, "w") as f:
        json.dump(results, f, indent=1, sort_keys=True)
    print(f"\nwrote {out}")
    ok = {k: v for k, v in results.items() if "median_s" in v}
    print(f"total: {sum(v['median_s'] for v in ok.values()):.1f}s over {len(ok)} queries")


if __name__ == "__main__":
    main()

"""Per-operation CPU split of the facade benchmark's workloads.

Usage (from the repository root):

    python3 tools/cpu_split.py --workload facade_serve --seed 1 --cycles 2

Runs the set-up of a ``perfbench`` workload (DB build, index builds, warm
pass) and then ``--cycles`` whole cycles of it, one operation at a time,
through perfbench's own ``workloads`` module; nothing under ``perfbench/``
is changed. For the set-up and for every operation it prints the CPU
seconds of:

- ``client``: this Python process (the client and the py4j caller);
- ``pyworkers``: the JVM's Python worker processes (reaped ones count
  through their parent);
- one column per JVM thread group, by thread name: ``compiler`` (HotSpot
  C1/C2), ``gc``, ``executor`` (task threads), ``py4j`` (the gateway's
  connection threads, where driver-side planning runs) and ``other``;
- ``exited``: the JVM's process total minus its live threads. HotSpot's
  dynamic compiler threads exit when idle, and an exited thread's CPU
  stays only in the process total, so most of this is JIT work;

plus the Janino classes compiled (Spark's ``CodegenMetrics``) and the
py4j round trips the client made. A closing line sums each cycle.

``--codegen-cache N`` sets ``spark.sql.codegen.cache.maxEntries`` for the
run (it replaces ``session.CODEGEN_CACHE_ENTRIES`` before the session
starts); a large value makes the compile count of set-up plus a few
cycles the number of distinct generated classes the workload needs.
Numbers come from ``/proc`` of this process tree, so they include any
other work this process does meanwhile; run nothing else in it.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")
CLK_TCK = os.sysconf("SC_CLK_TCK")
GROUPS = ("compiler", "gc", "executor", "py4j", "other")
COLUMNS = ("client", "pyworkers") + GROUPS + ("exited",)


def _group(comm: str) -> str:
    if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
        return "compiler"
    if comm.startswith(("GC Thread", "G1 ")):
        return "gc"
    if comm.startswith("Executor task"):
        return "executor"
    if comm.startswith("Thread-"):
        return "py4j"
    return "other"


def _stat(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            text = f.read()
    except OSError:  # the thread or process ended during the scan
        return None
    return text[text.rindex(")") + 2:].split()


def _ticks(fields: list[str], children: bool = False) -> int:
    # utime, stime (fields 14-15 of stat), plus cutime, cstime (16-17)
    return sum(int(x) for x in fields[11:15 if children else 13])


class _Py4jCounter:
    """Counts the client's py4j commands (one round trip each)."""

    def __init__(self) -> None:
        self.n = 0
        self._patched = []
        from py4j import clientserver, java_gateway

        for cls in (clientserver.ClientServerConnection,
                    java_gateway.GatewayConnection):
            real = cls.send_command

            def counted(conn, *a, _real=real, **kw):
                self.n += 1
                return _real(conn, *a, **kw)

            cls.send_command = counted
            self._patched.append((cls, real))

    def close(self) -> None:
        for cls, real in self._patched:
            cls.send_command = real


class Probe:
    """Snapshots of the counters one row of the report differences."""

    def __init__(self, spark, jvm_pid: int, py4j: _Py4jCounter) -> None:
        self.jvm_pid, self.py4j = jvm_pid, py4j
        self._codegen = (
            spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME()
        )
        # the round trips a snapshot itself makes: the later of two
        # snapshots counts the earlier one's
        first = self.snap()
        self.own_trips = self.snap()["trips"] - first["trips"]

    def _workers(self) -> int:
        kids: dict[int, list[int]] = {}
        stats: dict[int, list[str]] = {}
        for e in os.scandir("/proc"):
            if e.name.isdigit():
                f = _stat(os.path.join(e.path, "stat"))
                if f is not None:
                    stats[int(e.name)] = f
                    kids.setdefault(int(f[1]), []).append(int(e.name))
        total, todo = 0, list(kids.get(self.jvm_pid, ()))
        while todo:
            pid = todo.pop()
            total += _ticks(stats[pid], children=True)
            todo.extend(kids.get(pid, ()))
        return total

    def snap(self) -> dict:
        out = {"trips": self.py4j.n, "compiles": self._codegen.getCount()}
        out["client"] = _ticks(_stat(f"/proc/{os.getpid()}/stat"))
        out["pyworkers"] = self._workers()
        out["jvm"] = _ticks(_stat(f"/proc/{self.jvm_pid}/stat"))
        threads = out["threads"] = {}  # tid -> (group, ticks)
        task_dir = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(task_dir):
            f = _stat(f"{task_dir}/{tid}/stat")
            try:
                with open(f"{task_dir}/{tid}/comm") as fh:
                    comm = fh.read().strip()
            except OSError:
                continue
            if f is not None:
                threads[tid] = (_group(comm), _ticks(f))
        return out

    def diff(self, a: dict, b: dict) -> dict:
        """Counter deltas from snapshot ``a`` to ``b``, CPU in seconds. A
        thread's share is its growth (all of it for a thread born since
        ``a``); what the JVM total grew beyond the live threads' shares
        belongs to threads that exited since ``a``."""
        d = dict.fromkeys(COLUMNS, 0)
        for k in ("trips", "compiles", "client", "pyworkers"):
            d[k] = b[k] - a[k]
        d["trips"] -= self.own_trips
        for tid, (group, t) in b["threads"].items():
            d[group] += t - a["threads"].get(tid, (group, 0))[1]
        d["exited"] = b["jvm"] - a["jvm"] - sum(d[g] for g in GROUPS)
        for k in COLUMNS:
            d[k] /= CLK_TCK
        return d


def _row(label: str, d: dict, wall: float) -> str:
    cpu = sum(d[k] for k in COLUMNS)
    cols = " ".join(f"{d[k]:8.2f}" for k in COLUMNS)
    return (f"{label:<22} {wall:7.2f} {cpu:7.2f} {cols} "
            f"{d['compiles']:8d} {d['trips']:7d}")


def _header() -> str:
    cols = " ".join(f"{k:>8}" for k in COLUMNS)
    return f"{'op':<22} {'wall_s':>7} {'cpu_s':>7} {cols} {'compiles':>8} {'py4j':>7}"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["facade_serve", "facade_ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cycles", type=int, default=2)
    ap.add_argument("--codegen-cache", type=int, default=None,
                    help="spark.sql.codegen.cache.maxEntries for this run")
    ap.add_argument("--data-dir", default=None,
                    help="where the seeded inputs are generated or reused "
                         "(default: a temporary dir, removed at exit)")
    args = ap.parse_args(argv)

    work = tempfile.mkdtemp(prefix="cpu_split-")
    sys.path[:0] = [ROOT, PERFBENCH]
    from run import _launch_env

    import workloads as W

    _launch_env(os.path.join(work, "run"))
    sf_dir = W.prepare_data(ROOT, args.data_dir or os.path.join(work, "data"),
                            args.seed)
    corpus = W.Corpus(sf_dir)
    inputs = W.Inputs(args.seed, corpus)
    py4j = _Py4jCounter()
    from grape_vector_db_spark import session

    if args.codegen_cache is not None:
        session.CODEGEN_CACHE_ENTRIES = args.codegen_cache
    spark = session.get_spark(app_name="cpu_split")
    spark.sparkContext.setLogLevel("ERROR")
    gateway = spark.sparkContext._gateway
    probe = Probe(spark, gateway.proc.pid, py4j)
    rows: list[tuple[int, str, dict, float]] = []

    class SplitRunner(W.Runner):
        """perfbench's Runner, with each op's counters read around the
        facade call and its action (the numpy check runs after)."""

        cycle = 0

        def op(self, cls, call, check, action=True):
            marks = {}

            def timed_call():
                marks["t0"], marks["start"] = time.perf_counter(), probe.snap()
                return call()

            def timed_check(out):
                marks["t1"], marks["end"] = time.perf_counter(), probe.snap()
                return check(out)

            rec = super().op(cls, timed_call, timed_check, action)
            if "end" not in marks:
                marks["t1"], marks["end"] = time.perf_counter(), probe.snap()
            d = probe.diff(marks["start"], marks["end"])
            rows.append((self.cycle, cls, d, marks["t1"] - marks["t0"]))
            if not rec.ok:
                print(f"{cls} failed: {rec.error}", file=sys.stderr)
            return rec

    try:
        s0, t0 = probe.snap(), time.perf_counter()
        wl_cls = W.WORKLOADS[args.workload]
        db = W.build_db(spark, os.path.join(work, "db"), sf_dir,
                        wl_cls.indexes)
        wl = wl_cls(db, corpus, inputs)
        wl.warm()
        setup = probe.diff(s0, probe.snap())
        setup_wall = time.perf_counter() - t0
        runner = SplitRunner(db)
        for c in range(1, args.cycles + 1):
            runner.cycle = c
            wl.cycle(runner)
    finally:
        py4j.close()
        proc = gateway.proc
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)

    print(f"{args.workload}, seed {args.seed}, codegen cache "
          f"{args.codegen_cache or 'session default'}; CPU in seconds")
    print(_header())
    print(_row("setup", setup, setup_wall))
    for c, cls, d, wall in rows:
        print(_row(f"c{c} {cls}", d, wall))
    for c in range(1, args.cycles + 1):
        mine = [(d, w) for cc, _, d, w in rows if cc == c]
        tot = {k: sum(d[k] for d, _ in mine) for k in mine[0][0]}
        print(_row(f"cycle {c} total", tot, sum(w for _, w in mine)))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Repo benchmark: one workload per invocation, closed loop, one op at a time.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts a fresh Spark session sized to
the machine (``local[<cores>]``, driver heap from ``MemTotal``), builds the
workload's inputs from ``--seed`` in a private work directory, runs the
workload's untimed warm-up ops (counted in ``setup_s``), then times ops for
``--seconds`` seconds (at least one op) and checks every op's output against
the repo's oracles after the timed loop. ``--trace 1`` adds a second loop of traced ops
and prints the per-layer metrics instead of the end-to-end ones. The last
line of stdout is one JSON object; human-readable lines come before it.
The work directory is deleted when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_BASE = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process and all its descendants
    (driver Python, the JVM, Python workers), sampled from /proc. A Python
    process counts its proportional share (Pss) of the pages it shares, so
    forked Python workers do not count their daemon's pages again; other
    processes (the JVM) count their RSS, because reading a large process's
    Pss walks its page tables (about 25 ms for the JVM)."""

    def __init__(self, period_s: float = 0.5):
        super().__init__(daemon=True)
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _mem(self, pid: int, python: bool) -> int:
        try:
            if not python:
                with open(f"/proc/{pid}/statm", "rb") as fh:
                    return int(fh.read().split()[1]) * self._page
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                rollup = fh.read()
        except OSError:
            return 0
        pss = rollup.find(b"\nPss:")
        return int(rollup[pss + 5:].split()[0]) * 1024 if pss >= 0 else 0

    def _tree_rss(self) -> int:
        parent, python = {}, set()
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat", "rb") as fh:
                    stat = fh.read()
            except OSError:
                continue
            # field 4 (ppid) follows the parenthesised command name
            parent[int(pid)] = int(stat[stat.rindex(b")") + 2:].split()[1])
            if stat[stat.index(b"(") + 1:].startswith(b"python"):
                python.add(int(pid))
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        return sum(self._mem(pid, pid in python) for pid in tree)

    def run(self):
        while not self._stop_evt.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop_evt.wait(self.period_s)

    def stop(self):
        if self._stop_evt.is_set():
            return
        self._stop_evt.set()
        self.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())


def machine_sizing() -> dict:
    """Cores this process may use and a driver heap of a quarter of
    MemTotal (1-8 GiB): every executor thread of local[N] lives in the
    driver JVM, and the machine's memory is shared with Python workers."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    heap_mb = min(max(mem_kb // 4 // 1024, 1024), 8192)
    return {"cores": cores, "heap": f"{heap_mb}m", "mem_total_mb": mem_kb // 1024}


def configure_env(sizing: dict, work: str) -> None:
    """Everything the session reads from the environment, set before the
    JVM starts: core count and heap for ``get_spark``, the workers' import
    path, and every scratch directory inside the work directory."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(sizing["cores"])
    os.environ["SPARK_DRIVER_MEM"] = sizing["heap"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # added to the program's own JVM options, which stay as get_spark sets them
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )


def start_session(sizing: dict, work: str, traced: bool):
    from chronographer_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # keep every stage of an op in the status store until it is read
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    return get_spark(
        app_name="perfbench", master=f"local[{sizing['cores']}]", extra_conf=conf
    )


def timed_ops(wl, first_op, seconds, tracer):
    """Closed loop: ops back to back until `seconds` have been spent in
    ops (at least one op). Returns [(op_id, wall_s, output_or_None)]; an op
    that raises has output None and counts as failed."""
    done, spent, i = [], 0.0, first_op
    while spent < seconds or not done:
        tracer.op_id = i
        t0 = time.perf_counter()
        try:
            with tracer.span("op"):
                out = wl.op(i, tracer)
        except Exception:
            traceback.print_exc()
            out = None
        wall = time.perf_counter() - t0
        tracer.op_id = None
        tracer.resolve([s for s in tracer.spans if s["op"] == i and "counters" not in s])
        wl.spark.catalog.clearCache()
        done.append((i, wall, out))
        spent += wall
        i += 1
    return done


def run(args, work: str, sampler: RssSampler) -> tuple[dict, list[str]]:
    from spans import NullTracer, Tracer, per_layer_metrics, unit_of
    from workloads import WORKLOADS

    sizing = machine_sizing()
    configure_env(sizing, work)

    t_setup = time.perf_counter()
    t0 = time.perf_counter()
    spark = start_session(sizing, work, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, sizing["cores"]) if args.trace else None
        wl = WORKLOADS[args.workload](
            spark, work, args.seed, tiny=args.tiny, corrupt=args.corrupt
        )
        if tracer is not None:
            tracer.spans.append({
                "id": 0, "name": "session", "parent": None, "op": None,
                "start": t0, "end": t0 + session_s, "child_s": 0.0, "counters": {},
            })
            with tracer.span("fixture"):
                wl.setup()
            tracer.resolve([s for s in tracer.spans if "counters" not in s])
        else:
            wl.setup()
        warm = []  # untimed warm-up ops: part of set-up
        for i in range(wl.warmup_ops):
            warm.append((i, 0.0, wl.op(i, NullTracer())))
            spark.catalog.clearCache()
        setup_s = time.perf_counter() - t_setup

        ops = timed_ops(wl, wl.warmup_ops, args.seconds, NullTracer())
        sampler.stop()  # peak RSS of set-up and the timed ops; checks excluded
        traced = []
        if tracer is not None:
            with tracer.patched(wl.patches()):
                traced = timed_ops(wl, ops[-1][0] + 1, args.seconds, tracer)

        # checks: after every timed region, never inside one
        cache_dir = os.path.join(OUT_DIR, "oracle-cache")
        failed = 0
        for _, _, out in warm + ops + traced:
            try:
                ok = out is not None and wl.check(out, cache_dir)
            except Exception:
                traceback.print_exc()
                ok = False
            failed += not ok
        attempted = len(warm) + len(ops) + len(traced)

        walls = [w for _, w, _ in ops]
        p50 = statistics.median(walls)
        info = [
            f"workload={args.workload} seed={args.seed} cores={sizing['cores']} "
            f"heap={sizing['heap']} mem_total_mb={sizing['mem_total_mb']} "
            f"spark={spark.version} python={sys.version.split()[0]}",
            f"failed_frac {failed / attempted:.4f} ratio (failed={failed} attempted={attempted})",
            f"setup_s {setup_s:.4f} s (session {session_s:.2f} s; 1 sample)",
            f"job_p50_s {p50:.4f} s (n={len(walls)}; ops {' '.join(f'{w:.2f}' for w in walls)})",
        ]
        items = wl.items()
        if items:
            rates = [items / w for w in walls]
            info.append(
                f"build_turns_per_s {statistics.median(rates):.1f} turns/s "
                f"(n={len(rates)}, {items} distinct turns per op)"
            )
        metrics = {
            "setup_s": (setup_s, "s"),
            "job_p50_s": (p50, "s"),
        }
        if tracer is not None:
            tracer.dump(os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl"))
            layer = per_layer_metrics(tracer, [i for i, _, _ in traced])
            traced_p50 = statistics.median(w for _, w, _ in traced)
            layer["trace.job_p50_s"] = traced_p50
            layer["trace.overhead_s"] = traced_p50 - p50
            info.append(
                f"trace: {len(tracer.spans)} spans, traced job_p50_s {traced_p50:.4f} s "
                f"(n={len(traced)}), overhead {traced_p50 - p50:+.4f} s"
            )
            metrics = {k: (v, unit_of(k)) for k, v in layer.items()}
        return {"failed": failed, "attempted": attempted, "metrics": metrics}, info
    finally:
        stop_session(spark)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit; the JVM quits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["kg_build", "event_search"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: drop one triple from every op's output")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "chronographer_spark")):
        print(f"perfbench: no chronographer_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(OUT_DIR, exist_ok=True)
    work = os.path.join(WORK_BASE, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sampler = RssSampler()
    sampler.start()
    try:
        result, info = run(args, work, sampler)
    finally:
        sampler.stop()
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace:
        result["metrics"]["peak_rss_mb"] = (sampler.peak_bytes / 2**20, "MB")
    for line in info + [f"peak_rss_mb {sampler.peak_bytes / 2**20:.1f} MB"]:
        print(line)
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (a few minutes):

    python3 perfbench/selftest.py

For each workload it runs ``run.py`` twice, both with ``--tiny``:

- traced, clean output: exit 0, ``correct`` true, the per-layer metrics of
  BENCHMARK.json with their units, the human-readable end-to-end lines
  (``failed_frac``, ``setup_s``, ``job_p50_s``, ``peak_rss_mb`` and, for
  ``kg_build``, ``build_turns_per_s``) each with unit and sample count, and
  a spans file whose rows carry name, start, end, parent and op id;
- untraced with ``--corrupt`` (one triple dropped from every op's output):
  the end-to-end metrics of BENCHMARK.json with their units, ``correct``
  false and every op counted as failed.

Finally it runs ``run.py`` in a directory holding only BENCHMARK.json and
the benchmark's files, where it must fail without printing a result.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_bench(cwd, *args):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "7", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines(), proc.stderr


def check_units(result, declared, errors, where):
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    want = {m["name"]: m["unit"] for m in declared}
    if got != want:
        errors.append(f"{where}: metrics/units differ from BENCHMARK.json: "
                      f"missing={sorted(set(want) - set(got))} "
                      f"extra={sorted(set(got) - set(want))} "
                      f"unit_mismatch={sorted(k for k in want if k in got and got[k] != want[k])}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    errors: list[str] = []
    for wl in (w["name"] for w in spec["workloads"]):
        rc, out, err = run_bench(ROOT, "--workload", wl, "--trace", "1", "--tiny")
        if rc != 0:
            errors.append(f"{wl} traced: exit {rc}\n{err[-2000:]}")
            continue
        res = json.loads(out[-1])
        if not res["correct"] or res["failed"] or res["attempted"] < 3:
            errors.append(f"{wl} traced: clean run not correct: {out[-1][:300]}")
        check_units(res, spec["per_layer"], errors, f"{wl} traced")
        text = "\n".join(out[:-1])
        lines = [r"failed_frac \S+ ratio \(failed=\d+ attempted=\d+\)",
                 r"setup_s \S+ s \(", r"job_p50_s \S+ s \(n=\d+", r"peak_rss_mb \S+ MB"]
        if wl == "kg_build":
            lines.append(r"build_turns_per_s \S+ turns/s \(n=\d+")
        errors += [f"{wl}: no line matching {p!r}" for p in lines if not re.search(p, text)]
        spans_path = os.path.join(ROOT, ".perfbench_out", f"spans-{wl}-seed7.jsonl")
        with open(spans_path, encoding="utf-8") as fh:
            spans = [json.loads(line) for line in fh]
        if not spans or not all({"name", "start_s", "end_s", "parent", "op"} <= s.keys() for s in spans):
            errors.append(f"{wl}: spans file lacks name/start/end/parent/op")

        rc, out, err = run_bench(ROOT, "--workload", wl, "--trace", "0", "--tiny", "--corrupt")
        if rc != 0:
            errors.append(f"{wl} corrupt: exit {rc}\n{err[-2000:]}")
            continue
        res = json.loads(out[-1])
        check_units(res, spec["end_to_end"], errors, f"{wl} corrupt")
        if res["correct"] or res["failed"] != res["attempted"]:
            errors.append(f"{wl} corrupt: dropped triple not counted as failed: {out[-1][:300]}")
        if not re.search(r"failed_frac 1\.0000 ratio", "\n".join(out)):
            errors.append(f"{wl} corrupt: failed_frac is not 1")

    bare = os.path.join(ROOT, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, out, _ = run_bench(bare, "--workload", spec["workloads"][0]["name"], "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    if rc == 0 or any(line.startswith("{") for line in out):
        errors.append("bare directory: run.py did not fail without printing a result")

    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())

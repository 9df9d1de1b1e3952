"""Spans around the calls into each layer, with Spark counters per span.

A span records name, start, end, parent and op id. Each span runs under
its own Spark job group, so every job belongs to the innermost open span;
after each op the spans' jobs are resolved to stages through the status
store (works with ``spark.ui.enabled=false``) and summed. Spans stay in
memory and are written out once, when the run ends.

In a traced run each patched layer function forces its output at the span
boundary (``localCheckpoint(eager=True)``) and hands the checkpointed
result downstream, so lazy work lands in the span that owns it. That
changes the plan; the run reports the difference to the untraced ops as
the tracing overhead.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time

from py4j.protocol import Py4JJavaError

# span -> extra counters it reports besides the five common ones
LAYER_SPANS = {
    "extraction": ("rows_out", "python_s"),
    "materialize": ("rows_out", "spill_mb"),
    "catalog.write": ("bytes_written_mb", "files_written"),
    "search.iteration": ("spark_jobs",),
    "search.checkpoint": ("spark_jobs", "events_found"),
    "ranking": ("spark_jobs",),
    "op": (),
}
COMMON = ("wall_s", "task_s", "core_util", "spark_stages", "shuffle_write_mb")
SETUP_SPANS = ("session", "fixture")


def unit_of(name: str) -> str:
    return {
        "wall_s": "s", "task_s": "s", "python_s": "s", "job_p50_s": "s", "overhead_s": "s",
        "core_util": "ratio", "shuffle_write_mb": "MB", "spill_mb": "MB",
        "bytes_written_mb": "MB",
    }.get(name.rsplit(".", 1)[-1], "count")


def force_df(df):
    return df.localCheckpoint(eager=True)


def force_search_state(result):
    state, meta = result
    return {k: v.localCheckpoint(eager=True) for k, v in state.items()}, meta


class NullTracer:
    """Untraced ops: spans and wrappers cost nothing."""

    op_id = None
    spans = ()

    def resolve(self, spans):
        pass

    def span(self, name):
        return contextlib.nullcontext({})

    def wrap(self, name, fn, force=None, count_rows=False):
        return fn


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.cores = cores
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[dict] = []
        self._seen_stages: set[int] = set()

    # -- recording ------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": self.op_id,
            "group": f"perfbench-span-{len(self.spans)}",
            "start": time.perf_counter(),
            "end": None,
            "child_s": 0.0,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent["child_s"] += rec["end"] - rec["start"]
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, name, fn, force=None, count_rows=False):
        """`fn` timed as span `name`; `force` evaluates its output inside
        the span and returns what is passed downstream. `count_rows`
        records the forced DataFrame's row count after the span closes."""

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if force is not None:
                    out = force(out)
            if count_rows:
                rec["extra"] = {"rows_out": out.count()}
            return out

        return traced

    @contextlib.contextmanager
    def patched(self, patches):
        """Temporarily replace module attributes ``(module, attr, span,
        force, count_rows)`` with traced wrappers."""
        saved = []
        try:
            for module, attr, name, force, count_rows in patches:
                orig = getattr(module, attr)
                saved.append((module, attr, orig))
                setattr(module, attr, self.wrap(name, orig, force, count_rows))
            yield
        finally:
            for module, attr, orig in reversed(saved):
                setattr(module, attr, orig)

    # -- counters ---------------------------------------------------------------

    def resolve(self, spans) -> None:
        """Attach Spark counters to finished spans (self counters: a job
        belongs to the innermost span that was open when it ran)."""
        tracker = self.sc.statusTracker()
        for rec in spans:
            c = dict.fromkeys(
                ("spark_jobs", "spark_stages", "task_s", "cpu_s",
                 "shuffle_write_mb", "spill_mb", "bytes_written_mb",
                 "rows_written"), 0.0)
            jobs = tracker.getJobIdsForGroup(rec["group"])
            c["spark_jobs"] = len(jobs)
            for job in jobs:
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    if sid in self._seen_stages:
                        continue
                    try:
                        st = self.store.lastStageAttempt(sid)
                    except Py4JJavaError:  # skipped stage: never attempted
                        continue
                    if st.status().toString() != "COMPLETE":
                        continue
                    self._seen_stages.add(sid)
                    c["spark_stages"] += 1
                    c["task_s"] += st.executorRunTime() / 1e3
                    c["cpu_s"] += st.executorCpuTime() / 1e9
                    c["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                    c["spill_mb"] += st.diskBytesSpilled() / 1e6
                    c["bytes_written_mb"] += st.outputBytes() / 1e6
                    c["rows_written"] += st.outputRecords()
            rec["counters"] = c
            rec.pop("group", None)

    # -- reporting ----------------------------------------------------------------

    def op_totals(self, op_id: int) -> dict:
        """Per span name: self counters summed over the op's spans."""
        out: dict[str, dict] = {}
        for rec in self.spans:
            if rec["op"] != op_id or "counters" not in rec:
                continue
            acc = out.setdefault(rec["name"], {"wall_s": 0.0})
            acc["wall_s"] += (rec["end"] - rec["start"]) - rec["child_s"]
            for k, v in {**rec["counters"], **rec.get("extra", {})}.items():
                acc[k] = acc.get(k, 0.0) + v
        for acc in out.values():
            acc["core_util"] = acc["task_s"] / (acc["wall_s"] * self.cores) if acc["wall_s"] > 0 else 0.0
            acc["python_s"] = max(acc["task_s"] - acc["cpu_s"], 0.0)
        return out

    def setup_wall(self, name: str) -> float:
        recs = [r for r in self.spans if r["name"] == name and r["op"] is None]
        return sum(r["end"] - r["start"] for r in recs)

    def dump(self, path) -> None:
        t0 = min((r["start"] for r in self.spans), default=0.0)
        with open(path, "w", encoding="utf-8") as fh:
            for r in self.spans:
                row = {k: r[k] for k in ("id", "name", "parent", "op")}
                row["start_s"] = round(r["start"] - t0, 6)
                row["end_s"] = round(r["end"] - t0, 6) if r["end"] else None
                row.update(r.get("counters", {}))
                row.update(r.get("extra", {}))
                fh.write(json.dumps(row) + "\n")


def per_layer_metrics(tracer: Tracer, traced_ops: list[int]) -> dict[str, float]:
    """Median over the traced ops of each span's per-op totals; a span the
    workload never enters reads 0."""
    totals = [tracer.op_totals(op) for op in traced_ops]
    out = {f"{s}.wall_s": tracer.setup_wall(s) for s in SETUP_SPANS}
    for span, extra in LAYER_SPANS.items():
        for counter in COMMON + extra:
            vals = [t.get(span, {}).get(counter, 0.0) for t in totals]
            out[f"{span}.{counter}"] = statistics.median(vals) if vals else 0.0
    return out

"""Spans recorded from outside the program, and Spark event-log attribution.

A span is (name, start, end, parent, rep). Spans live in memory and are
written out once, when the run ends. In a traced run every span also tags
the Spark jobs submitted while it is open: entering a span sets the
thread's ``spark.jobGroup.id`` to a unique id, leaving it restores the
previous group. The event log written by Spark itself then says which span
submitted each job and what its tasks cost on the executors.

``install_wrappers`` replaces the module-level names that ``run_pipeline``
and ``incremental_kg_ingest`` look up with wrappers that open a span and
delegate unchanged; ``remove_wrappers`` puts the originals back. Nothing
inside ``kbgen_spark`` is modified and no action is added, so the plans a
traced run executes are the plans an untraced run executes.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"


class Tracer:
    """Collects spans. With ``jobs=True`` each span also sets a job group."""

    def __init__(self, sc=None, jobs: bool = False):
        self.sc = sc
        self.jobs = jobs
        self.spans: list[dict] = []
        self.rep = None
        self._local = threading.local()
        self._main_stack: list[dict] = []
        self._main = threading.get_ident()
        self._lock = threading.Lock()

    def _stack(self) -> list[dict]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        # A span opened on a callback thread (foreachBatch runs on the
        # streaming thread) hangs under the span open on the main thread.
        parent_stack = stack or self._main_stack
        parent = parent_stack[-1]["id"] if parent_stack else None
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name, "parent": parent, "rep": self.rep,
                   "start": time.time(), "end": None}
            self.spans.append(rec)
        prev = None
        if self.jobs:
            prev = self.sc.getLocalProperty(JOB_GROUP)
            self.sc.setLocalProperty(JOB_GROUP, f"span:{sid}")
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            if self.jobs:
                self.sc.setLocalProperty(JOB_GROUP, prev)
            rec["end"] = time.time()

    def dur(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def find(self, name: str, rep=None) -> list[dict]:
        return [s for s in self.spans
                if s["name"] == name and (rep is None or s["rep"] == rep)]

    def descendants(self, rec: dict) -> list[dict]:
        out, frontier = [], {rec["id"]}
        for s in self.spans[rec["id"] + 1:]:
            if s["parent"] in frontier:
                out.append(s)
                frontier.add(s["id"])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# (module, attribute, span name) wrapped in a traced run. The pipeline's
# names are the ones run_pipeline resolves from its own module globals;
# the operator names are the ones incremental_kg_ingest imports per call.
WRAPPED = [
    ("kbgen_spark.pipeline", "extract_mentions", "pipeline.extract.plan"),
    ("kbgen_spark.pipeline", "build_canon_map", "pipeline.canon.plan"),
    ("kbgen_spark.pipeline", "link_and_canonicalize", "pipeline.link.plan"),
    ("kbgen_spark.pipeline", "assemble_triples", "pipeline.materialize.plan"),
    ("kbgen_spark.operators.link", "link_mentions", "ingest.plan.link"),
    ("kbgen_spark.operators.materialize", "apply_canon_map", "ingest.plan.canon"),
    ("kbgen_spark.operators.materialize", "assemble_triples", "ingest.plan.materialize"),
]


def _wrap(tracer: Tracer, fn, name: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


def install_wrappers(tracer: Tracer, captured: dict) -> list:
    """Patch the names in WRAPPED plus run_stage, make_extract_fn and
    ngram_prefix_candidates; return what ``remove_wrappers`` needs."""
    import importlib

    saved = []

    def patch(modname: str, attr: str, new) -> None:
        mod = importlib.import_module(modname)
        saved.append((mod, attr, getattr(mod, attr)))
        setattr(mod, attr, new)

    for modname, attr, name in WRAPPED:
        fn = getattr(importlib.import_module(modname), attr)
        patch(modname, attr, _wrap(tracer, fn, name))

    pipeline = importlib.import_module("kbgen_spark.pipeline")
    run_stage = pipeline.run_stage

    @functools.wraps(run_stage)
    def run_stage_traced(spark, store, stage, *args, **kwargs):
        with tracer.span(f"pipeline.{stage}"):
            return run_stage(spark, store, stage, *args, **kwargs)

    patch("kbgen_spark.pipeline", "run_stage", run_stage_traced)

    extract = importlib.import_module("kbgen_spark.operators.extract")
    make_extract_fn = extract.make_extract_fn

    @functools.wraps(make_extract_fn)
    def make_extract_fn_traced(gazetteer):
        with tracer.span("ingest.plan.extract_setup"):
            fn = make_extract_fn(gazetteer)
        return _wrap(tracer, fn, "ingest.plan.extract")

    patch("kbgen_spark.operators.extract", "make_extract_fn", make_extract_fn_traced)

    dedup = importlib.import_module("kbgen_spark.operators.dedup")
    candidates = dedup.ngram_prefix_candidates

    @functools.wraps(candidates)
    def candidates_traced(*args, **kwargs):
        df = candidates(*args, **kwargs)
        captured["ngram_prefix_candidates"] = df
        return df

    patch("kbgen_spark.operators.dedup", "ngram_prefix_candidates", candidates_traced)
    return saved


def remove_wrappers(saved: list) -> None:
    for mod, attr, fn in reversed(saved):
        setattr(mod, attr, fn)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

EXEC_KEYS = ("executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
             "shuffle_write_bytes", "spill_bytes", "tasks")


def read_event_log(log_dir: str) -> dict:
    """Fold one application's event log into per-job records.

    Returns {"jobs": {job_id: {...}}, "sql_rows": {exec_id: {node: rows}}}
    where each job carries its group, submission/completion times (epoch
    seconds), SQL execution id and summed task metrics."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    jobs: dict = {}
    stage_group: dict = {}
    stage_job: dict = {}
    plans: dict = {}
    accum: dict = {}
    with open(os.path.join(log_dir, files[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get(JOB_GROUP),
                    "sql": props.get("spark.sql.execution.id"),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    **{k: 0 for k in EXEC_KEYS},
                }
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                stage_group[sid] = (ev.get("Properties") or {}).get(JOB_GROUP)
            elif kind == "SparkListenerTaskEnd":
                _fold_task(ev, jobs, stage_job, accum)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                plans[ev["executionId"]] = ev["sparkPlanInfo"]
    sql_rows = {
        int(eid): _join_rows(plan, accum) for eid, plan in plans.items()
    }
    return {"jobs": jobs, "sql_rows": sql_rows}


def _fold_task(ev: dict, jobs: dict, stage_job: dict, accum: dict) -> None:
    jid = stage_job.get(ev["Stage ID"])
    m = ev.get("Task Metrics") or {}
    if jid is not None and m:
        j = jobs[jid]
        j["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        j["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        sr = m.get("Shuffle Read Metrics") or {}
        j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        sw = m.get("Shuffle Write Metrics") or {}
        j["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        j["tasks"] += 1
    if ev.get("Task End Reason", {}).get("Reason") != "Success":
        return
    for a in (ev.get("Task Info") or {}).get("Accumulables", []):
        upd = a.get("Update")
        if isinstance(upd, (int, float)) or (isinstance(upd, str) and upd.isdigit()):
            accum[a["ID"]] = accum.get(a["ID"], 0) + int(upd)


def _join_rows(plan: dict, accum: dict) -> dict:
    """Output rows of every shuffled join node in a SQL plan (the per-doc
    pair joins of triple assembly are hinted SHUFFLE_HASH)."""
    out: dict = {}

    def walk(node):
        name = node.get("nodeName", "")
        if name in ("ShuffledHashJoin", "SortMergeJoin"):
            for m in node.get("metrics", []):
                if m["name"] == "number of output rows":
                    out[name] = out.get(name, 0) + accum.get(m["accumulatorId"], 0)
        for c in node.get("children", []):
            walk(c)

    walk(plan)
    return out


def span_of_job(job: dict) -> int | None:
    g = job["group"]
    if g and g.startswith("span:"):
        return int(g[5:])
    return None


def busy_intervals(jobs: list[dict]) -> list[tuple[float, float]]:
    """Union of [submit, end] over jobs."""
    iv = sorted((j["submit"], j["end"] or j["submit"]) for j in jobs)
    out: list[list[float]] = []
    for s, e in iv:
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(x) for x in out]


def idle_time(start: float, end: float, jobs: list[dict]) -> float:
    """Seconds of [start, end] during which no job was running."""
    busy = 0.0
    for s, e in busy_intervals(jobs):
        s, e = max(s, start), min(e, end)
        if e > s:
            busy += e - s
    return (end - start) - busy

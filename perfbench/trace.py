"""Tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's own files, around calls into
the engine's public functions: the wrappers below replace module
attributes at run time and nothing inside ``tiki_data_pipeline_spark``
changes. A span carries its name, start, end, parent span and the
operation (query / pipeline run / epoch / serve call) it belongs to.
Spans stay in memory and are written out when the run ends.

Spark-side work comes from the Spark event log, which only the traced
run turns on; jobs are attributed to operations by submission time
(one client, so operation windows never overlap).
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# (module, attribute, span name): the public engine functions whose
# calls become spans. Every module-level alias of each function is
# replaced, so callers that imported it by name are traced too.
WRAPPED = [
    ("tiki_data_pipeline_spark.session", "get_spark", "session.start"),
    ("tiki_data_pipeline_spark.io", "load_table", "io.load_table"),
    ("tiki_data_pipeline_spark.shipping", "ensure_shipped", "shipping.ensure_shipped"),
    ("tiki_data_pipeline_spark.operators.dedup", "incremental_dedup_status",
     "operators.dedup.incremental_dedup_status"),
    ("tiki_data_pipeline_spark.operators.dedup", "append_minhash_index",
     "operators.dedup.append_minhash_index"),
    ("tiki_data_pipeline_spark.operators.dedup", "write_minhash_index",
     "operators.dedup.write_minhash_index"),
    ("tiki_data_pipeline_spark.operators.similarity", "lsh_index_topk",
     "operators.similarity.lsh_index_topk"),
    ("tiki_data_pipeline_spark.operators.similarity", "write_lsh_index",
     "operators.similarity.write_lsh_index"),
    ("tiki_data_pipeline_spark.sources.files", "delete_from_store",
     "sources.files.delete_from_store"),
    ("tiki_data_pipeline_spark.sources.files", "fold_tombstones",
     "sources.files.fold_tombstones"),
    ("tiki_data_pipeline_spark.sources.files", "compact_store",
     "sources.files.compact_store"),
    ("tiki_data_pipeline_spark.sources.files", "write_training_shards",
     "sources.files.write_training_shards"),
]

# pyspark calls that run a Spark job; the outermost one on a thread is
# one ``spark.action`` span (time the driver waits on execution).
ACTIONS = {
    "pyspark.sql.classic.dataframe.DataFrame": [
        "collect", "count", "toPandas", "take", "first", "head",
        "localCheckpoint", "checkpoint", "toLocalIterator", "toArrow",
    ],
    "pyspark.sql.readwriter.DataFrameWriter": [
        "save", "parquet", "json", "csv", "text", "orc", "saveAsTable",
        "insertInto",
    ],
}

class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    @contextmanager
    def span(self, name: str, op: bool = False):
        yield

    def install(self) -> None:
        pass


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.wrapper_s = 0.0  # time spent in the tracer's own bookkeeping
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: dict | None = None

    def _stack(self) -> list[dict]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str, op: bool = False):
        b0 = time.perf_counter()
        stack = self._stack()
        # a span opened on a callback thread (foreachBatch) hangs off
        # the operation the main thread is waiting in
        parent = stack[-1] if stack else self._op
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": None,
            "op_kind": None,
        }
        if op:
            rec["op"], rec["op_kind"] = rec["id"], name
            prev_op, self._op = self._op, rec
        elif parent is not None:
            rec["op"], rec["op_kind"] = parent["op"], parent["op_kind"]
        stack.append(rec)
        rec["wall0"] = time.time()
        rec["t0"] = time.perf_counter()
        self.wrapper_s += rec["t0"] - b0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["t1"] = t1
            rec["wall1"] = time.time()
            stack.pop()
            if op:
                self._op = prev_op
            self.spans.append(rec)
            self.wrapper_s += time.perf_counter() - t1

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def _wrap_action(self, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            depth = getattr(tracer._local, "action_depth", 0)
            if depth:
                return fn(*args, **kwargs)
            tracer._local.action_depth = 1
            try:
                with tracer.span("spark.action"):
                    return fn(*args, **kwargs)
            finally:
                tracer._local.action_depth = 0

        return traced

    def install(self) -> None:
        """Import the engine modules and swap every alias of each
        wrapped function for a tracing wrapper; wrap pyspark actions."""
        import importlib

        for modname, attr, name in WRAPPED:
            mod = importlib.import_module(modname)
            orig = getattr(mod, attr)
            traced = self._wrap(orig, name)
            for m in list(sys.modules.values()):
                mname = getattr(m, "__name__", "") or ""
                if not mname.startswith(("tiki_data_pipeline_spark", "perfbench")):
                    continue
                for key, val in list(vars(m).items()):
                    if val is orig:
                        setattr(m, key, traced)
        for path, methods in ACTIONS.items():
            modname, clsname = path.rsplit(".", 1)
            cls = getattr(importlib.import_module(modname), clsname)
            for meth in methods:
                if meth in vars(cls):
                    setattr(cls, meth, self._wrap_action(vars(cls)[meth]))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["t1"] - s["t0"]
    return {s["id"]: (s["t1"] - s["t0"]) - child[s["id"]] for s in spans}


# ---------------------------------------------------------------- event log

# the formatted plan's detail block for the write:
# "InsertIntoHadoopFsRelationCommand\nInput: [...]\nArguments: file:/out/quality, false, ..."
_WRITE_PATH = re.compile(
    r"InsertIntoHadoopFsRelationCommand\s*\n(?:Input[^\n]*\n)?Arguments: (?:file:)?([^,\s]+),"
)


class EventLog:
    """The parsed Spark event logs of a run (one file per context)."""

    def __init__(self, log_dir: str) -> None:
        self.jobs: list[dict] = []  # submit_ms, stages, execution, metrics
        self.executions: dict[tuple, dict] = {}
        # one entry per application: a plain file, or an
        # ``eventlog_v2_<app>`` directory of ``events_<n>_<app>`` parts
        for app in sorted(os.listdir(log_dir)):
            path = os.path.join(log_dir, app)
            if os.path.isdir(path):
                parts = sorted(
                    (p for p in os.listdir(path) if p.startswith("events_")),
                    key=lambda p: int(p.split("_")[1]),
                )
                self._parse([os.path.join(path, p) for p in parts], app)
            else:
                self._parse([path], app)

    def _lines(self, paths: list[str]):
        for path in paths:
            with open(path) as f:
                yield from f

    def _parse(self, paths: list[str], app: str) -> None:
        jobs: dict[int, dict] = {}
        stage_job: dict[int, dict] = {}
        for line in self._lines(paths):
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                exec_id = props.get("spark.sql.execution.id")
                job = {
                    "submit_ms": ev["Submission Time"],
                    "stages": set(),
                    "tasks": 0,
                    "execution": (app, int(exec_id)) if exec_id else None,
                    "m": defaultdict(float),
                }
                jobs[ev["Job ID"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, job)
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                tm = ev.get("Task Metrics")
                if job is None or not tm:
                    continue
                job["stages"].add(ev["Stage ID"])
                job["tasks"] += 1
                m = job["m"]
                m["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                m["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                sr = tm.get("Shuffle Read Metrics") or {}
                m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = tm.get("Shuffle Write Metrics") or {}
                m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                inp = tm.get("Input Metrics") or {}
                m["input_bytes"] += inp.get("Bytes Read", 0)
                out = tm.get("Output Metrics") or {}
                m["output_bytes"] += out.get("Bytes Written", 0)
                m["records_written"] += out.get("Records Written", 0)
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                match = _WRITE_PATH.search(ev.get("physicalPlanDescription", ""))
                self.executions[(app, ev["executionId"])] = {
                    "start_ms": ev["time"],
                    "end_ms": None,
                    "write_path": match.group(1) if match else None,
                }
            elif kind.endswith("SparkListenerSQLExecutionEnd"):
                ex = self.executions.get((app, ev["executionId"]))
                if ex is not None:
                    ex["end_ms"] = ev["time"]
        self.jobs.extend(jobs.values())

    def jobs_in(self, wall0: float, wall1: float) -> list[dict]:
        lo, hi = wall0 * 1e3, wall1 * 1e3
        return [j for j in self.jobs if lo <= j["submit_ms"] <= hi]

    def totals(self, jobs: list[dict]) -> dict[str, float]:
        out = defaultdict(float)
        for j in jobs:
            out["jobs"] += 1
            out["stages"] += len(j["stages"])
            out["tasks"] += j["tasks"]
            for k, v in j["m"].items():
                out[k] += v
        return out

    def writes_in(self, wall0: float, wall1: float) -> list[dict]:
        """SQL executions inside the window that wrote a path, in end
        order, each with the records its jobs wrote."""
        lo, hi = wall0 * 1e3, wall1 * 1e3
        records = defaultdict(float)
        for j in self.jobs:
            if j["execution"] is not None:
                records[j["execution"]] += j["m"]["records_written"]
        out = []
        for key, ex in self.executions.items():
            if ex["write_path"] and ex["end_ms"] and lo <= ex["start_ms"] <= hi:
                out.append({**ex, "records": records[key]})
        return sorted(out, key=lambda e: e["end_ms"])

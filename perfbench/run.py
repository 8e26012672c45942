"""The repo benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Run from the repository root. The run

1. sets up ``SETUP_REPS`` times (Spark session start, seeded inputs,
   the workload's prepare step), then builds what the workload builds
   once (``store``: its two stores); ``setup_s`` is the median set-up
   plus the build;
2. warms up (untimed; for ``batch`` this is also the query oracle check);
3. measures a closed loop, one client, for ``--seconds`` seconds, then
   the workload's one-off job (``batch``: the corpus pipeline run;
   ``store``: the maintenance window);
4. checks the outputs (untimed) and prints, as the last stdout line,
   ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones of
``BENCHMARK.json``; with ``--trace 1`` the run is traced (spans around
engine calls, Spark event log on) and the metrics are the per-layer
ones. A traced run also leaves its spans and its own end-to-end
numbers under ``.perfbench/traces/``; ``compare.py`` against untraced
runs turns those into the tracing overhead. Parallelism is pinned
here: ``nproc`` task threads and as many shuffle partitions, whatever
the environment says. Everything the run writes stays under
``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path.cwd()
SETUP_REPS = 3
DRIVER_MEMORY = "2g"

# workload -> its parts, run in order inside one Spark application.
# ``batch`` holds the two nightly-batch regimes, short analytic queries
# and one long corpus-curation job: a run pays ~10 s of JVM start and
# ~15 s of JIT warm-up before its first warm number, and 22 runs of
# each workload must fit in under an hour, which three such workloads
# do not. The query pass runs first, so the corpus job cannot move the
# query metrics.
WORKLOADS = {
    "batch": [("perfbench.analytics", "Analytics"), ("perfbench.corpus", "Corpus")],
    "store": [("perfbench.store", "Store")],
}

# span name -> layer, for self-time accounting; unlisted spans are the
# benchmark's own loop ("harness")
LAYER_OF = {
    "session.start": "session",
    "io.load_table": "io",
    "shipping.ensure_shipped": "shipping",
    "plans.build": "plans",
    "spark.action": "spark",
    "corpus.run": "corpus_pipeline",
    "store.epoch": "streaming",
    "store.maintenance": "streaming",
}
LAYERS = [
    "harness", "session", "io", "shipping", "plans", "spark", "corpus_pipeline",
    "operators.dedup", "operators.similarity", "streaming", "sources.files",
]


def layer_of(name: str) -> str:
    if name in LAYER_OF:
        return LAYER_OF[name]
    for prefix in ("operators.dedup", "operators.similarity", "sources.files"):
        if name.startswith(prefix):
            return prefix
    return "harness"


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def pin_environment(work: Path) -> int:
    """Keep every file the run writes inside ``work`` and fix the
    parallelism to the machine's cores."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # a small, fixed driver heap keeps the run's footprint and its GC
    # behaviour the same on every machine
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    return cpus


def per_layer(wl, tracer, evlog, extra: dict, warmup_s: float) -> dict:
    from perfbench.harness import median
    from perfbench.trace import WRAPPED, self_times

    spans = tracer.spans
    ops = [s for s in spans if s["name"] == wl.op_kind]
    n_ops = max(1, len(ops))
    by_op: dict[int, list[dict]] = {}
    for s in spans:
        if s["op"] is not None and s["id"] != s["op"]:
            by_op.setdefault(s["op"], []).append(s)

    def per_op(name: str) -> tuple[float, int]:
        total = calls = 0
        for op in ops:
            for s in by_op.get(op["id"], []):
                if s["name"] == name:
                    total += s["t1"] - s["t0"]
                    calls += 1
        return total / n_ops, calls / n_ops

    by_id = {s["id"]: s for s in spans}
    wrapped = {name for _mod, _attr, name in WRAPPED}

    def mean_call(name: str) -> float:
        """Mean time of the outermost calls: the fold that
        ``compact_store`` runs itself is part of the compaction."""
        d = [
            s["t1"] - s["t0"]
            for s in spans
            if s["name"] == name
            and s["op"] is not None
            and by_id.get(s["parent"], {}).get("name") not in wrapped
        ]
        return sum(d) / len(d) if d else 0.0

    out: dict[str, float] = {}
    starts = [s["t1"] - s["t0"] for s in spans if s["name"] == "session.start"]
    out["session.start_s"] = median(starts)
    out["session.warmup_s"] = warmup_s
    out["io.load_table.s"], out["io.load_table.calls"] = per_op("io.load_table")
    out["shipping.ensure_shipped.s"], _ = per_op("shipping.ensure_shipped")
    exec_s, _ = per_op("spark.action")
    out["plans.exec_s"] = exec_s
    out["plans.build_s"] = sum(o["t1"] - o["t0"] for o in ops) / n_ops - exec_s

    tot = evlog.totals([j for o in ops for j in evlog.jobs_in(o["wall0"], o["wall1"])])
    for key, name in [
        ("jobs", "spark.jobs_per_op"), ("stages", "spark.stages_per_op"),
        ("tasks", "spark.tasks_per_op"), ("shuffle_write_bytes", "spark.shuffle_write_bytes"),
        ("shuffle_read_bytes", "spark.shuffle_read_bytes"), ("spill_bytes", "spark.spill_bytes"),
        ("input_bytes", "spark.input_bytes"), ("output_bytes", "spark.output_bytes"),
        ("executor_run_s", "spark.executor_run_s"), ("executor_cpu_s", "spark.executor_cpu_s"),
        ("gc_s", "spark.gc_s"),
    ]:
        out[name] = tot.get(key, 0.0) / n_ops

    for name in [
        "operators.dedup.incremental_dedup_status", "operators.dedup.append_minhash_index",
        "operators.similarity.lsh_index_topk", "sources.files.fold_tombstones",
        "sources.files.compact_store",
    ]:
        out[f"{name}.s"] = mean_call(name)

    # self time per layer over the measured part (window + maintenance)
    measure = next(s for s in spans if s["name"] == "measure")
    inside = {measure["id"]}
    selfs = self_times(spans)
    layer_s = dict.fromkeys(LAYERS, 0.0)
    for s in sorted(spans, key=lambda r: r["id"]):
        if s["id"] in inside or s["parent"] in inside:
            inside.add(s["id"])
            layer_s[layer_of(s["name"])] += selfs[s["id"]]
    wall = measure["t1"] - measure["t0"]
    for layer, v in layer_s.items():
        out[f"self_s.{layer}"] = v
    out["trace.accounted_share"] = 1.0 - layer_s["harness"] / wall
    out["trace.spans"] = len(spans)
    out["trace.wrapper_s"] = tracer.wrapper_s
    out.update(extra)
    return out


class Workload:
    """A workload's parts driven as one: each hook runs on every part
    in order and the results are merged."""

    def __init__(self, name: str, seed: int, tracer) -> None:
        import importlib

        self.parts = [
            getattr(importlib.import_module(mod), cls)(seed, tracer) for mod, cls in WORKLOADS[name]
        ]
        # the first part's operation is the one per-op layer metrics divide by
        self.op_kind = self.parts[0].op_kind

    def prepare(self, spark, rep_dir: str) -> dict:
        return {p.name: p.prepare(spark, rep_dir) for p in self.parts}

    def build(self) -> None:
        for p in self.parts:
            p.build()

    def warmup(self) -> None:
        for p in self.parts:
            p.warmup()

    def step(self) -> bool:
        return all([p.step() for p in self.parts])

    def after_window(self) -> None:
        for p in self.parts:
            p.after_window()

    def check(self) -> tuple[int, int]:
        return tuple(map(sum, zip(*(p.check() for p in self.parts))))

    def ops(self) -> tuple[int, int]:
        return tuple(map(sum, zip(*(p.ops() for p in self.parts))))

    def end_to_end(self) -> dict:
        return {k: v for p in self.parts for k, v in p.end_to_end().items()}

    def layer_extra(self, evlog, spans) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_extra(evlog, spans).items()}


def main() -> int:
    args = parse_args()
    if not (ROOT / "tiki_data_pipeline_spark" / "__init__.py").is_file():
        print(f"perfbench: no tiki_data_pipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {
        m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]
    }
    base = ROOT / ".perfbench"
    work = base / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    cpus = pin_environment(work)
    sys.path.insert(0, str(ROOT))

    from perfbench.harness import (
        Session, closed_loop, cpu_steal, median, tree_cpu_s, tree_peak_rss_bytes,
    )
    from perfbench.trace import EventLog, NullTracer, Tracer

    tracer = Tracer() if args.trace else NullTracer()
    extra_conf = None
    if args.trace:
        (work / "eventlog").mkdir()
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
        }
    session = Session(cpus, extra_conf)
    steal0 = cpu_steal()
    try:
        tracer.install()
        wl = Workload(args.workload, args.seed, tracer)
        setup = []
        for rep in range(SETUP_REPS):
            rep_dir = work / f"setup-{rep}"
            t0 = time.perf_counter()
            with tracer.span("setup", op=True):
                spark = session.start()
                from tiki_data_pipeline_spark import shipping

                shipping.ensure_shipped(spark)
                inputs = wl.prepare(spark, str(rep_dir))
            setup.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(work / f"setup-{rep - 1}")
        t0 = time.perf_counter()
        with tracer.span("setup", op=True):
            wl.build()
        build_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.span("warmup", op=True):
            wl.warmup()
        warmup_s = time.perf_counter() - t0
        cpu0 = tree_cpu_s(os.getpid())
        with tracer.span("measure"):
            with tracer.span("window"):
                window_s = closed_loop(args.seconds, wl.step)
            cpu1 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            wl.after_window()
            tail_s = time.perf_counter() - t0
        cpu2 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        checks, check_failed = wl.check()
        e2e = wl.end_to_end()
        peak_rss = tree_peak_rss_bytes(os.getpid())
        session.close()
        check_s = time.perf_counter() - t0
        e2e["setup_s"] = median(setup) + build_s
        ops, op_failed = wl.ops()
        attempted, failed = ops + checks, op_failed + check_failed
        if args.trace:
            evlog = EventLog(str(work / "eventlog"))
            # a layer the workload never calls reads 0
            metrics = dict.fromkeys(units, 0.0)
            metrics.update(
                per_layer(wl, tracer, evlog, wl.layer_extra(evlog, tracer.spans), warmup_s)
            )
            metrics["process.peak_rss_mb"] = peak_rss / 2**20
            traces = base / "traces" / f"{args.workload}-{args.seed}"
            traces.mkdir(parents=True, exist_ok=True)
            tracer.dump(str(traces / "spans.jsonl"))
            (traces / "summary.json").write_text(
                json.dumps({"workload": args.workload, "seed": args.seed,
                            "end_to_end": e2e, "per_layer": metrics, "inputs": inputs,
                            "cpus": cpus, "shuffle_partitions": cpus}, indent=1)
            )
        else:
            metrics = e2e
        missing = set(units) - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        steal, total = cpu_steal()
        print(
            f"# {args.workload} seed={args.seed} cpus={cpus} shuffle_partitions={cpus} "
            f"inputs={inputs} window_s={window_s:.2f} warmup_s={warmup_s:.2f} "
            f"setup={[round(s, 3) for s in setup]} build_s={build_s:.2f} check_s={check_s:.2f} "
            f"peak_rss_mb={peak_rss / 2**20:.0f} window_cpu_s={cpu1 - cpu0:.2f} "
            f"tail_s={tail_s:.2f} tail_cpu_s={cpu2 - cpu1:.2f} "
            f"cpu_steal_share={(steal - steal0[0]) / (total - steal0[1]):.3f}",
            file=sys.stderr,
        )
    except Exception:
        traceback.print_exc()
        session.close()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": float(metrics[n]), "unit": u} for n, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

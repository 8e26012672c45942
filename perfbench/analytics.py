"""The query part of the ``batch`` workload: replay registry queries,
the many-short-jobs regime.

Why: many short jobs whose cost is planning and py4j calls (``plans``,
``io``, ``shipping``, ``session``, ``functions``, ``transform`` and the
relational operators). It touches no store and no LLM operator, so a
dedup or store change should show no effect on its metrics.

Inputs: the ten fixture-shaped tables at scale factor ``SF``, generated
from the seed. The query set is the 85 queries of the modules below,
minus the z-order box scan, which needs a layout build first. A warm
full pass over the 85 takes ~30 s on a 4-core box, more than a run can
spend, and timing a seed-chosen part of it made the median swing ~18 %
between seeds. So every run measures the same quarter of them, the
panel (a stable hash of the name picks it; its warm median, 0.28 s,
matches the full set's), in a seed-shuffled order: one untimed pass,
then timed passes, each query to the noop sink, one client, back to
back.

Output check: the untimed pass collects every panel query and compares
it, value for value, with its registry DuckDB oracle over the same
parquet files; that pass is also the JVM warm-up.
"""

from __future__ import annotations

import datetime as _dt
import math
import os
import random
import sys
import time
import zlib

from perfbench import datagen

SF = 0.01
MODULES = {
    "relational", "transform_queries", "hierarchy_queries", "cdc_queries",
    "streaming_queries", "warehouse_queries", "analytics_queries",
    "repair_queries", "extras_queries",
}
EXCLUDED = {"lineitem_zorder_box_scan"}
PANEL_SHARE = 4


def query_names() -> list[str]:
    from tiki_data_pipeline_spark.plans.queries import QUERIES

    return sorted(
        n
        for n, fn in QUERIES.items()
        if fn.__module__.rsplit(".", 1)[-1] in MODULES and n not in EXCLUDED
    )


def panel() -> list[str]:
    return [n for n in query_names() if zlib.crc32(n.encode()) % PANEL_SHARE == 2]


def _cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v + 0.0)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def _canonical(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, rows sorted by value: the registry's
    order-insensitive comparison contract."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = [tuple(_cell(r[i]) for i in order) for r in rows]
    norm.sort(key=lambda r: tuple((v is None, str(v)) for v in r))
    return [cols[i] for i in order], norm


class Analytics:
    name = "analytics"
    op_kind = "analytics.query"

    def __init__(self, seed: int, tracer) -> None:
        self.seed = seed
        self.tracer = tracer
        self.samples: list[float] = []
        self.passes: list[float] = []
        self.failed_ops = 0

    def prepare(self, spark, rep_dir: str) -> dict:
        from tiki_data_pipeline_spark import io

        self.spark = spark
        self.sf_dir = os.path.join(rep_dir, "tables")
        stats = datagen.write_star_schema(self.sf_dir, self.seed, SF)
        io.load_tables(spark, self.sf_dir)
        self.order = panel()
        random.Random(self.seed).shuffle(self.order)
        return {"input_rows": sum(stats["rows"].values()), "input_bytes": stats["bytes"]}

    def build(self) -> None:
        pass

    def warmup(self) -> None:
        """Collect every panel query and compare it with its oracle."""
        import duckdb

        from tiki_data_pipeline_spark.io import TABLES
        from tiki_data_pipeline_spark.plans.queries import ORACLES, QUERIES

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        self.checked = self.check_failed = 0
        for name in self.order:
            self.checked += 1
            try:
                df = QUERIES[name](self.spark, self.sf_dir)
                got = _canonical(df.columns, [tuple(r) for r in df.collect()])
                oracle = ORACLES[name]
                if callable(oracle):
                    oracle = oracle(self.sf_dir)
                cur = con.execute(oracle)
                ok = _canonical([d[0] for d in cur.description], cur.fetchall()) == got
            except Exception as exc:  # a failing query is a failed check
                print(f"# check {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
                ok = False
            if not ok:
                self.check_failed += 1
                print(f"# check {name}: MISMATCH", file=sys.stderr)
        con.close()

    def step(self) -> bool:
        """One timed pass over the panel."""
        from tiki_data_pipeline_spark.plans.queries import QUERIES

        t_pass = time.perf_counter()
        for name in self.order:
            t0 = time.perf_counter()
            try:
                with self.tracer.span(self.op_kind, op=True):
                    with self.tracer.span("plans.build"):
                        df = QUERIES[name](self.spark, self.sf_dir)
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                self.failed_ops += 1
                print(f"# query {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
                continue
            self.samples.append(time.perf_counter() - t0)
        self.passes.append(time.perf_counter() - t_pass)
        return True

    def after_window(self) -> None:
        pass

    def check(self) -> tuple[int, int]:
        return self.checked, self.check_failed

    def ops(self) -> tuple[int, int]:
        return len(self.samples) + self.failed_ops, self.failed_ops

    def end_to_end(self) -> dict:
        from perfbench.harness import median

        return {
            "op_p50_s": median(self.samples),
            "work_per_s": len(self.samples) / sum(self.passes),
        }

    def layer_extra(self, evlog, spans) -> dict:
        return {}

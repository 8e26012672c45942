"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py BASE CHANGE

``BASE`` and ``CHANGE`` are directories (or single files) of run
outputs: the standard output of ``perfbench/run.py`` (its last line is
the result) or a traced run's ``summary.json``, whose untraced-style
``end_to_end`` numbers are used. A file belongs to the workload whose
name appears in its path as a token (``batch_3.txt``,
``traces/store-7/summary.json``).

For each (workload, end-to-end metric) pair it prints each side's
median and quartiles, the change's win share over all (base, change)
run pairs (ties count for neither side) and a verdict under the bounds
in ``BENCHMARK.json``:

- ``improved``: the change wins at least 90 % of the pairs and the
  medians differ by more than the base's quartile spread;
- ``worse``: the change's median is worse than the base's by more than
  the bound;
- ``unresolved``: the base's own quartile spread is wider than the
  bound (unless every change run beats every base run);
- ``unchanged``: none of these.

Comparing untraced runs (``BASE``) with traced summaries of the same
code (``CHANGE``) gives the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import sys
from pathlib import Path

WIN_SHARE = 0.9


def load_result(path: Path) -> dict[str, float] | None:
    text = path.read_text().strip()
    if not text:
        return None
    if path.name == "summary.json":
        return dict(json.loads(text)["end_to_end"])
    try:
        last = json.loads(text.splitlines()[-1])
    except json.JSONDecodeError:
        return None
    if not isinstance(last, dict) or "metrics" not in last:
        return None
    return {k: v["value"] for k, v in last["metrics"].items()}


def collect(root: Path, workloads: list[str]) -> dict[str, list[dict[str, float]]]:
    files = [root] if root.is_file() else sorted(p for p in root.rglob("*") if p.is_file())
    runs: dict[str, list[dict[str, float]]] = {w: [] for w in workloads}
    for path in files:
        tokens = set(re.split(r"[_\-./]", str(path.relative_to(root.parent))))
        names = [w for w in workloads if w in tokens]
        if len(names) != 1:
            continue
        result = load_result(path)
        if result is not None:
            runs[names[0]].append(result)
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def side(values: list[float]) -> str:
    q1, q2, q3 = quartiles(values)
    return f"{q2:.4g} [{q1:.4g}, {q3:.4g}] n={len(values)}"


def verdict(base: list[float], change: list[float], higher: bool, bound: float) -> tuple[float, str]:
    """(win share of the change, verdict)."""
    sign = 1.0 if higher else -1.0
    wins = sum(sign * (c - b) > 0 for b in base for c in change)
    share = wins / (len(base) * len(change))
    q1, med_b, q3 = quartiles(base)
    gain = sign * (statistics.median(change) - med_b)
    # every change run better than every base run wins even over a wide spread
    if share == 1.0 or (share >= WIN_SHARE and gain > q3 - q1):
        return share, "improved"
    if -gain > bound * abs(med_b):
        return share, "worse"
    if q3 - q1 > bound * abs(med_b):
        return share, "unresolved"
    return share, "unchanged"


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("base", type=Path)
    p.add_argument("change", type=Path)
    p.add_argument("--bench", type=Path, default=Path("BENCHMARK.json"))
    args = p.parse_args()
    spec = json.loads(args.bench.read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    base = collect(args.base, workloads)
    change = collect(args.change, workloads)
    header = (
        f"{'workload':10} {'metric':14} {'base median [q1, q3]':>34} "
        f"{'change median [q1, q3]':>34} {'win':>5}  verdict"
    )
    print(header)
    for w in workloads:
        for m in spec["end_to_end"]:
            name = m["name"]
            b = [r[name] for r in base[w] if name in r]
            c = [r[name] for r in change[w] if name in r]
            if not b or not c:
                print(f"{w:10} {name:14} (runs: base {len(b)}, change {len(c)})")
                continue
            share, v = verdict(b, c, m["better"] == "higher", m["bound"])
            delta = statistics.median(c) / statistics.median(b) - 1.0
            print(
                f"{w:10} {name:14} {side(b):>34} {side(c):>34} {share:5.2f}  "
                f"{v} ({delta:+.1%}, bound {m['bound']:.0%})"
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())

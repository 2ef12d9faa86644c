"""Summarize the runs recorded in ``perfbench/results/``.

    python3 perfbench/summarize.py

Per workload and metric: the number of runs, median, first and third
quartiles (``statistics.quantiles(n=4)``) and the quartile spread as a
share of the median, for untraced runs (end-to-end metrics, the
workload's own latencies, wall, CPU time, load average) and traced runs
(per-layer metrics and the workload's own layer probes). The tracing
overhead is the median traced round time minus the median untraced one.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

RESULTS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "results")


def _row(name: str, vals: list[float]) -> str:
    med = statistics.median(vals)
    if len(vals) < 2:
        return f"| {name} | {len(vals)} | {med:.4g} | | | |"
    q1, _, q3 = statistics.quantiles(vals, n=4)
    spread = (q3 - q1) / med if med else float("nan")
    return f"| {name} | {len(vals)} | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f} |"


def main() -> None:
    runs: dict[tuple[str, int], list[dict]] = defaultdict(list)
    for path in glob.glob(os.path.join(RESULTS_DIR, "*-trace[01]-*[0-9].json")):
        with open(path) as f:
            r = json.load(f)
        runs[(r["workload"], r["trace"])].append(r)
    for wl in sorted({w for w, _ in runs}):
        plain, traced = runs.get((wl, 0), []), runs.get((wl, 1), [])
        print(f"\n### {wl}\n\n| metric | runs | median | Q1 | Q3 | (Q3-Q1)/median |")
        print("|---|---|---|---|---|---|")
        for m in sorted({m for r in plain for m in r["end_to_end"]}):
            print(_row(m, [r["end_to_end"][m] for r in plain if m in r["end_to_end"]]))
        for m in sorted({m for r in plain for m in r.get("detail", {})}):
            print(_row(f"(detail) {m}", [r["detail"][m] for r in plain if m in r["detail"]]))
        for key in ("run_s", "window_s", "jvm_cpu_s", "py_cpu_s"):
            print(_row(key, [r[key] for r in plain if key in r]))
        if plain:
            print(_row("loadavg_1m", [sum(r["loadavg_1m"]) / 2 for r in plain]))
        for m in sorted({m for r in traced for m in r["metrics"]}):
            print(_row(f"(traced) {m}", [r["metrics"][m] for r in traced if m in r["metrics"]]))
        for m in sorted({m for r in traced for m in r.get("detail", {})} - {m for r in plain for m in r.get("detail", {})}):
            print(_row(f"(traced detail) {m}", [r["detail"][m] for r in traced if m in r["detail"]]))
        if plain and traced:
            over = statistics.median(r["round_s"] for r in traced) - statistics.median(
                r["round_s"] for r in plain
            )
            print(f"\ntracing overhead: {over:+.3f} s per round (traced minus untraced median)")


if __name__ == "__main__":
    main()

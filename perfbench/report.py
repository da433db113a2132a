"""Summarise the runs recorded under ``.perfbench_runs``.

    python3 perfbench/report.py

For each workload: the number of untraced and traced runs, the median
and quartile spread (Q3 - Q1 over the median) across the untraced runs
of each end-to-end metric and of the op's wall time ``op_s``, and the
tracing overhead: the median traced op wall minus the median untraced
op wall.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench.run import E2E  # noqa: E402


def e2e_values(record: dict) -> dict[str, float]:
    return {"setup_s": record["setup_s"], **record["figures"]}


def spread(values: list[float]) -> float:
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def main() -> int:
    records = []
    for path in glob.glob(os.path.join(os.getcwd(), ".perfbench_runs", "*", "record.json")):
        with open(path) as f:
            r = json.load(f)
        if "figures" in r:
            records.append(r)
    for wl in sorted({r["workload"] for r in records}):
        plain = [e2e_values(r) for r in records if r["workload"] == wl and not r["trace"]]
        traced = [e2e_values(r) for r in records if r["workload"] == wl and r["trace"]]
        print(f"{wl}: {len(plain)} untraced, {len(traced)} traced runs")
        for name in [*E2E, "op_s"]:
            vals = [v[name] for v in plain if name in v]  # older records lack newer figures
            if len(vals) >= 2:
                print(f"  {name}: median {statistics.median(vals):.6g}, spread {spread(vals):.2%}")
        if plain and traced:
            over = statistics.median(v["op_s"] for v in traced) - statistics.median(
                v["op_s"] for v in plain)
            print(f"  tracing overhead per op: {over:+.4f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Time every registered query over the benchmark's fixtures.

    python3 perfbench/sweep_all.py --seed 1 --sweeps 3 > perfbench/query_costs.json

Run from the repository root. Writes the fixtures of ``--seed`` (the
ones ``corpus_queries`` uses), then runs ``--sweeps`` sweeps of all
queries of ``__spark_entry__.queries()`` into the no-op sink, one query
at a time on ``local[nproc]``, and prints per query the wall time of each
sweep and the jobs, stages that ran and tasks of the last one. The first
sweep is cold. ``corpus_queries`` samples its query set from the
stages and warm times. Scratch files go under
``.perfbench_runs/sweep_all-s<seed>`` and are deleted at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import fixtures  # noqa: E402
from perfbench.run import make_session, stop_session  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sweeps", type=int, default=3)
    args = ap.parse_args(argv)
    out_dir = os.path.join(os.getcwd(), ".perfbench_runs", f"sweep_all-s{args.seed}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    os.environ["TMPDIR"] = out_dir
    cores = os.cpu_count() or 1
    spark = make_session(cores, out_dir)
    try:
        import __spark_entry__ as entry

        entry._ensure_workers_have_package(spark)
        sf_dir = os.path.join(out_dir, "fixtures")
        fixtures.write_tables(args.seed, sf_dir)
        queries = entry.queries()
        tracer = Tracer(spark)
        costs = {name: {"wall_s": []} for name in queries}
        for _ in range(args.sweeps):
            for name, query in queries.items():
                t0 = time.perf_counter()
                with tracer.span(name) as span:
                    query(spark, sf_dir).write.format("noop").mode("overwrite").save()
                costs[name]["wall_s"].append(time.perf_counter() - t0)
                costs[name].update({k: span[k] for k in ("jobs", "stages", "tasks")})
    finally:
        stop_session(spark)
        shutil.rmtree(out_dir, ignore_errors=True)
    json.dump({"seed": args.seed, "local_n": cores, "queries": costs}, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main())

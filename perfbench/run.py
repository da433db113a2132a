"""Crawl-pipeline benchmark: one command, two workloads.

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 5 --trace 0

Run from the repository root. The run makes its inputs from ``--seed``,
measures for ``--seconds``, checks the outputs, and prints one JSON object
as the last line of stdout::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json,
with ``--trace 1`` the per-layer ones. Everything a run writes goes under
``.perfbench_runs/<workload>-s<seed>-t<trace>/`` in the working directory:
``record.json`` (environment, figures, checks, per-layer spans),
``spark.log`` (the JVM's and Python workers' stderr) and a scratch ``tmp``
directory that is deleted when the run ends. ``perfbench/report.py``
summarises those records: spreads across seeds and the tracing overhead
(traced minus untraced op time). Exit code 2 means the program under test
could not be imported or the arguments are invalid; 3 means the run itself
failed.
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

from perfbench import env, layers, stats  # noqa: E402
from perfbench.workloads import WORKLOADS, Run  # noqa: E402

# op_cpu_s, not the op's wall time op_s: on a shared 4-core host, ten
# corpus_queries runs at 1-24% CPU steal read op_s 11.6-19.7 s (quartile
# spread 26%) and op_cpu_s 35-42 s (11.5%). op_s is printed and recorded,
# and is op.wall_s in a traced run.
E2E = {
    "setup_s": "s",
    "op_cpu_s": "s",
}
# per-layer metrics of every workload; a workload's own ones follow
COMMON_LAYER = {
    "functions.extract_frame.pages_per_s": "1/s",
    "functions.normalize_url_series.urls_per_s": "1/s",
    "functions.url_parts_frame.urls_per_s": "1/s",
    "functions.robots.path_allowed_per_s": "1/s",
    "functions.c_kernel": "count",
    "transport.scan_noop_s": "s",
    "transport.arrow_passthrough_s": "s",
    "op.wall_s": "s",
    "memory.jvm_peak_pss_mb": "MB",
    "memory.python_peak_pss_mb": "MB",
    "spark.failed_tasks": "count",
    "trace.spans_per_op": "count",
}
PER_LAYER = dict(COMMON_LAYER)
for _wl in WORKLOADS.values():
    PER_LAYER.update(_wl.LAYER_METRICS)


# JVMs write /tmp/hsperfdata_<user> unless told not to
NO_PERF_DATA = "-XX:-UsePerfData"
# the heap the program's test session gives the driver
DRIVER_HEAP = "4g"


def make_session(cores: int, tmp_dir: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", DRIVER_HEAP)
        .config("spark.local.dir", tmp_dir)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp_dir} {NO_PERF_DATA}",
        )
        .getOrCreate()
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = env.descendants(os.getpid())
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    env.wait_gone(started, timeout_s=30)


def layer_metrics(run: Run, wl, st: dict, samples: list[dict], memory: dict) -> dict:
    """The per-layer metrics of a traced run: the common ones, the
    workload's own, and 0 for those of the other workloads."""
    tr = run.tracer
    traced = [s for s in samples if "span" in s]
    op_spans = [tr.spans[s["span"]] for s in traced]
    m = {k: 0.0 for k in PER_LAYER}
    m.update({
        "op.wall_s": stats.median([s["wall_s"] for s in traced]),
        "memory.jvm_peak_pss_mb": memory["jvm"],
        "memory.python_peak_pss_mb": memory["python"],
        "spark.failed_tasks": sum(s["failed_tasks"] for s in tr.spans),
        "trace.spans_per_op": stats.median([len(tr.subtree(sp)) for sp in op_spans]),
    })
    m.update(wl.layer_metrics(run, st, samples))
    m.update(layers.functions_layer(run.seed))
    pages = st.get("pages")
    if pages is None:  # corpus_queries has no pages: a small synthetic set
        from mycelium_spark.sources import synth

        pages = synth.pages_df(run.spark, 8000, run.cores * 2, extra_paras=8).cache()
        pages.count()
    m.update(layers.transport_layer(pages))
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    cores = os.cpu_count() or 1  # local[nproc]: one process runs every task

    try:
        import pyspark  # noqa: F401

        import __spark_entry__  # noqa: F401
        import mycelium_spark.plans.crawl  # noqa: F401
    except ImportError as e:
        print(f"perfbench: program under test not importable from {os.getcwd()}: {e}",
              file=sys.stderr)
        return 2

    t_proc = time.perf_counter()
    out_dir = os.path.join(os.getcwd(), ".perfbench_runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}")
    tmp_dir = os.path.join(out_dir, "tmp")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(tmp_dir)
    # every temp file of this process, the JVMs and the Python workers
    # (the C lexer build too) stays inside the run directory
    os.environ["TMPDIR"] = tmp_dir
    os.environ["SPARK_LAUNCHER_OPTS"] = NO_PERF_DATA  # the spark-submit launcher JVM
    import tempfile

    tempfile.tempdir = None
    log_path = os.path.join(out_dir, "spark.log")
    saved_stderr = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    record: dict = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                    "trace": args.trace}
    cpu0 = env.cpu_stat()
    spark = None
    rc = 0
    try:
        with env.PeakPss() as mem:
            spark = make_session(cores, tmp_dir)
            import __spark_entry__ as entry

            entry._ensure_workers_have_package(spark)
            session_s = time.perf_counter() - t_proc
            tracer = None
            if args.trace:
                from perfbench.trace import Tracer

                tracer = Tracer(spark)
            run = Run(spark, args.seed, args.seconds, tmp_dir, tracer)
            wl = WORKLOADS[args.workload]()
            t0 = time.perf_counter()
            if tracer is not None:
                tracer.install()
            try:
                st = wl.setup(run)
                setup_s = session_s + time.perf_counter() - t0
                cpu1 = env.cpu_stat()
                samples = wl.measure(run, st)
                cpu2 = env.cpu_stat()
            finally:
                if tracer is not None:
                    tracer.uninstall()
            with run.phase("verify"):
                wl.verify(run, st, samples)
            memory = mem.peaks()  # before the traced run's layer controls
            figures = wl.figures(samples)
            if tracer is not None:
                per_layer = layer_metrics(run, wl, st, samples, memory)
                record["layers"] = tracer.layers()
                record["spans"] = tracer.spans
            record["env"] = env.record(spark, cores)
        record["env"]["steal_share_setup"] = env.steal_share(cpu0, cpu1)
        record["env"]["steal_share_measure"] = env.steal_share(cpu1, cpu2)
        record.update({
            "setup_s": setup_s, "session_s": session_s, "peak_pss_mb": memory,
            "figures": figures, "checks": run.checks, "phases": run.phases,
            "samples": [{k: v for k, v in s.items() if k != "span"} for s in samples],
            "attempted": run.attempted, "failed": run.failed,
            "failed_share": run.failed / run.attempted,
        })
        if args.trace:
            metrics = {k: (float(per_layer[k]), u) for k, u in PER_LAYER.items()}
        else:
            all_e2e = {"setup_s": setup_s, **figures}
            metrics = {k: (float(all_e2e[k]), u) for k, u in E2E.items()}
        line = stats.result_line(run.failed == 0, run.attempted, run.failed, metrics)
    except Exception as e:
        import traceback

        traceback.print_exc()  # into spark.log
        record["error"] = f"{type(e).__name__}: {e}"
        line = None
        rc = 3
    finally:
        if spark is not None:
            stop_session(spark)
        os.dup2(saved_stderr, 2)
        os.close(saved_stderr)
        shutil.rmtree(tmp_dir, ignore_errors=True)
        with open(os.path.join(out_dir, "record.json"), "w") as f:
            json.dump(record, f, indent=1, default=str)

    if line is None:
        print(f"perfbench: run failed: {record['error']} (see {log_path})", file=sys.stderr)
        return rc
    _print_summary(record)
    print(json.dumps(line))
    return 0


def _print_summary(record: dict) -> None:
    """Human-readable lines before the result line."""
    e = record["env"]
    print(f"perfbench {record['workload']} seed={record['seed']} trace={record['trace']}: "
          f"local[{e['local_n']}] on nproc={e['nproc']}, pyspark {e['pyspark']}, "
          f"python {e['python']}, {e['java']}, lexer kernel={e['lexer_kernel']}, "
          f"steal setup={e['steal_share_setup']:.1%} measure={e['steal_share_measure']:.1%}")
    if e["lexer_kernel"] != "c":
        print("WARNING: the C lexer kernel did not load; extract ran on the Python fallback")
    phases = " ".join(f"{k} {v:.3f}" for k, v in record["phases"].items())
    print(f"  setup_s={record['setup_s']:.3f} (session {record['session_s']:.3f} {phases}) "
          f"peak_pss_mb={record['peak_pss_mb']['total']:.1f} (JVM {record['peak_pss_mb']['jvm']:.1f}, "
          f"Python {record['peak_pss_mb']['python']:.1f}) "
          f"failed_share={record['failed_share']:.4f} ({record['failed']}/{record['attempted']})")
    for k, v in record["figures"].items():
        print(f"  {k} = {v:.6g}" if isinstance(v, float) else f"  {k} = {v}")
    for c in record["checks"]:
        if not c["ok"]:
            print(f"  CHECK FAILED {c['check']}: {c['detail']}")
    for name, row in sorted(record.get("layers", {}).items()):
        print(f"  layer {name}: calls={row['calls']} wall_s={row['wall_s']:.3f} "
              f"self_s={row['self_s']:.3f}")


if __name__ == "__main__":
    sys.exit(main())

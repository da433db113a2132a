"""In-memory span tracer wrapped around the program's public entry points.

A span records name, start, end, parent and the Spark work (jobs, stages
that ran, tasks, failed tasks) done while it was the innermost open span.
Spark work is attributed with ``setJobGroup(<span id>)`` and read back from
``sparkContext.statusTracker()``, which needs no UI or event log.

Each wrapped name is patched where its caller looks it up: ``run_round``
calls ``mycelium_spark.plans.crawl.new_urls``, so that attribute is
wrapped, not only ``operators.seen.new_urls``. ``Tracer.uninstall`` puts
every original back. The tracer is only installed in ``--trace 1`` runs.
"""

from __future__ import annotations

import contextlib
import functools
import time

from . import stats

# (module, attribute or Class.method, span name). Module-level functions are
# listed once per module that looks them up.
TARGETS = (
    ("mycelium_spark.plans.crawl", "CrawlEngine.run_round", "crawl.round"),
    ("mycelium_spark.plans.crawl", "politeness_schedule", "frontier.politeness_schedule"),
    ("mycelium_spark.plans.crawl", "new_urls", "seen.new_urls"),
    ("mycelium_spark.plans.crawl", "resolve_redirect_chains", "redirects.resolve"),
    ("mycelium_spark.plans.crawl", "assign_seq", "frontier.assign_seq"),
    ("mycelium_spark.operators.frontier", "politeness_schedule", "frontier.politeness_schedule"),
    ("mycelium_spark.operators.frontier", "assign_seq", "frontier.assign_seq"),
    ("mycelium_spark.operators.seen", "new_urls", "seen.new_urls"),
    ("mycelium_spark.operators.seen", "BloomSeen.add_df", "seen.bloom_add"),
    ("mycelium_spark.operators.redirects", "resolve_redirect_chains", "redirects.resolve"),
    ("mycelium_spark.sources.catalog", "Catalog.commit", "catalog.commit"),
    ("mycelium_spark.sources.catalog", "Catalog.read", "catalog.read"),
    ("pyspark.sql.classic.dataframe", "DataFrame.count", "action.count"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect", "action.collect"),
    ("pyspark.sql.classic.dataframe", "DataFrame.toPandas", "action.toPandas"),
    ("pyspark.sql.classic.dataframe", "DataFrame.take", "action.take"),
    ("pyspark.sql.classic.dataframe", "DataFrame.localCheckpoint", "action.localCheckpoint"),
    ("pyspark.sql.classic.dataframe", "DataFrame.checkpoint", "action.checkpoint"),
    ("pyspark.sql.readwriter", "DataFrameWriter.save", "action.save"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "action.save"),
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object]] = []

    # --- spans ---
    def _open(self, name: str) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
        }
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setJobGroup(f"perfbench-{span['id']}", name)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._count_work(span)
        self._stack.pop()
        if self._stack:
            parent = self._stack[-1]
            self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def _count_work(self, span: dict) -> None:
        tracker = self.sc.statusTracker()
        for job_id in tracker.getJobIdsForGroup(f"perfbench-{span['id']}"):
            job = tracker.getJobInfo(job_id)
            if job is None:
                continue
            span["jobs"] += 1
            for stage_id in job.stageIds:
                st = tracker.getStageInfo(stage_id)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue  # skipped: its output was reused
                span["stages"] += 1
                span["tasks"] += st.numTasks
                span["failed_tasks"] += st.numFailedTasks

    @contextlib.contextmanager
    def span(self, name: str):
        s = self._open(name)
        try:
            yield s
        finally:
            self._close(s)

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    # --- patching ---
    def install(self) -> None:
        import importlib

        for mod_name, attr, name in TARGETS:
            owner = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, attr = attr.split(".")
                owner = getattr(owner, cls_name)
            # an inherited method is shadowed on the class and deleted again
            # on uninstall, so the base class is never modified
            own = attr in vars(owner)
            original = getattr(owner, attr)
            self._patched.append((owner, attr, original if own else None))
            setattr(owner, attr, self.wrap(original, name))

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            if original is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, original)
        self._patched.clear()

    # --- roll-ups ---
    def children(self, span_id: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span_id]

    def self_s(self, span: dict) -> float:
        kids = [(c["start"], c["end"]) for c in self.children(span["id"])]
        return stats.self_time(span["start"], span["end"], kids)

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s["id"]))
        return out

    def work(self, span: dict) -> dict:
        """Spark work of a span including every span under it."""
        tot = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
        for s in self.subtree(span):
            for k in tot:
                tot[k] += s[k]
        return tot

    def time_in(self, span: dict, prefix: str) -> float:
        """Wall time of the outermost spans named ``prefix*`` under ``span``."""
        total, todo = 0.0, list(self.children(span["id"]))
        while todo:
            s = todo.pop()
            if s["name"].startswith(prefix):
                total += s["end"] - s["start"]
            else:
                todo.extend(self.children(s["id"]))
        return total

    def layers(self) -> dict[str, dict]:
        """Per span name: calls, total wall and total self time."""
        out: dict[str, dict] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            row = out.setdefault(s["name"], {"calls": 0, "wall_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["wall_s"] += s["end"] - s["start"]
            row["self_s"] += self.self_s(s)
        return out

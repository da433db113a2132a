"""The benchmark's workloads. Each is a closed loop with one client: the Spark driver
process issues one operation at a time and the next only after the previous one
returned.

Every workload has the same three phases, timed by ``run.py``:

* ``setup`` makes the inputs from the seed and warms the code paths;
* ``measure`` repeats the workload's unit operation until ``--seconds``
  have passed (at least ``min_ops`` times) and returns one sample per op;
* ``verify`` checks the outputs; each check counts as one attempted
  operation and a wrong output as one failed operation.

The unit operation, whose wall time is ``op_s`` and whose CPU seconds,
those of the driver process, the JVM and the Python workers, are the
end-to-end ``op_cpu_s``:

* ``crawl_rounds``: the first ``CrawlEngine.run_round()`` after seeding;
* ``corpus_queries``: one sweep of the query set into the no-op sink,
  one ``op`` sample per query.

Each workload also declares ``LAYER_METRICS``, the per-layer metrics it
reports in a traced run; a traced run of the other workload reports them
as 0.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import time

from . import env, fixtures, stats

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


class Run:
    """State shared by the phases of one benchmark run."""

    def __init__(self, spark, seed: int, seconds: float, work_dir: str, tracer=None):
        self.spark = spark
        self.cores = int(spark.sparkContext.defaultParallelism)
        self.seed = seed
        self.seconds = seconds
        self.work_dir = work_dir
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Record the wall time of a step of set-up or verification."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0

    def check(self, name: str, ok: bool, detail=None) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})

    def ops(self, op, n_min: int, n_max: int) -> list[dict]:
        """Run ``op(i)`` until ``seconds`` have passed, between ``n_min`` and
        ``n_max`` times. ``op`` returns a dict of figures; the sample adds
        its wall time and, in a traced run, the id of its ``op`` span."""
        samples = []
        t_start = time.perf_counter()
        i = 0
        while i < n_min or (i < n_max and time.perf_counter() - t_start < self.seconds):
            self.attempted += 1
            cpu0 = env.tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                if self.tracer is None:
                    figures = op(i)
                else:
                    with self.tracer.span("op") as span:
                        figures = op(i)
                    figures["span"] = span["id"]
            except Exception as e:  # one failed op must not end the run
                self.failed += 1
                figures = {"error": f"{type(e).__name__}: {e}"}
            figures["wall_s"] = time.perf_counter() - t0
            figures["cpu_s"] = env.tree_cpu_s(os.getpid()) - cpu0
            samples.append(figures)
            i += 1
        return samples


def _ok(samples: list[dict]) -> list[dict]:
    return [s for s in samples if "error" not in s]


def _load_pins(workload: str) -> dict:
    with open(PINS_PATH) as f:
        return json.load(f)[workload]


# --------------------------------------------------------------------------
# crawl_rounds
# --------------------------------------------------------------------------


class CrawlRounds:
    """Small crawl rounds over a synthetic corpus: the fixed per-round cost of
    ``plans.crawl``, ``sources.catalog``, ``operators.seen`` and
    ``operators.redirects`` dominates, the lexer does almost none of the
    work. The seed picks one of ``VARIANTS`` seed-URL sets, whose per-round
    counts are pinned in ``pins.json``.

    Set-up builds the corpus, seeds the engine (the first pandas UDFs start
    the Python workers) and parses and caches the robots rules, the one
    piece of per-engine state a round would build lazily. The measured op
    is the engine's first round: exactly one, whatever ``--seconds`` says,
    because a round takes 15-30 s on four cores. An untimed warm-up round
    before it would add as much again to every run: 88-90 s per run
    instead of 52-60 s, more than a check of the benchmark (48 runs) can
    spend in an hour. Round time does not
    depend on the corpus size here: rounds took 17-23 s over 10k pages and
    12-22 s over 20k pages, so the corpus has 10k pages, which keeps
    set-up shorter."""

    N_PAGES = 10_000
    N_SEED_URLS = 100
    VARIANTS = 16
    TIMED_ROUNDS = 1  # pins.json pins the counts of each
    LAYER_METRICS = {
        "crawl.round.self_s": "s",
        "crawl.round.actions_s": "s",
        "crawl.jobs_per_round": "count",
        "crawl.stages_per_round": "count",
        "crawl.tasks_per_round": "count",
        "frontier.politeness_schedule_s": "s",
        "frontier.assign_seq_s": "s",
        "seen.new_urls_s": "s",
        "seen.bloom_add_s": "s",
        "redirects.resolve_s": "s",
        "catalog.commit_s": "s",
        "catalog.read_s": "s",
        "catalog.commits": "count",
        "catalog.files_written": "count",
        "catalog.bytes_written": "bytes",
        "seen.confirm_share": "ratio",
        "seen.bloom_fp_rate": "ratio",
    }
    # per-round self time of these spans, as "<span name>_s"
    SELF_TIMED = (
        "frontier.politeness_schedule", "frontier.assign_seq", "seen.new_urls",
        "seen.bloom_add", "redirects.resolve", "catalog.commit", "catalog.read",
    )

    def seed_rows(self, variant: int) -> list[tuple[int, str]]:
        from mycelium_spark.sources import synth

        rng = random.Random(variant)
        pids = rng.sample(range(self.N_PAGES), self.N_SEED_URLS)
        rows = [(k, synth.url_of(pid)) for k, pid in enumerate(pids)]
        # the malformed / non-http tail of synth.seeds: the ingest filter drops it
        junk = synth.seeds(self.N_PAGES, n_seeds=0)
        return rows + [(len(rows) + k, raw) for k, (_, raw) in enumerate(junk)]

    def setup(self, run: Run) -> dict:
        from mycelium_spark.plans.crawl import CrawlEngine
        from mycelium_spark.sources import synth

        spark = run.spark
        variant = run.seed % self.VARIANTS
        with run.phase("pages"):
            pages = synth.pages_df(
                spark, self.N_PAGES, run.cores * 2, extra_paras=4, with_redirects=True
            ).cache()
            pages.count()
            robots = spark.createDataFrame(
                synth.robots_fixtures(self.N_PAGES), "host string, status int, robots_txt string"
            )
        with run.phase("seed"):
            engine = CrawlEngine(
                spark, os.path.join(run.work_dir, "crawl"), pages,
                robots_fixtures=robots, per_host_budget=64, exact_robots=False,
            )
            seeded = engine.seed(self.seed_rows(variant))
        with run.phase("robots"):
            engine.robots_rules.count()
        return {"engine": engine, "pages": pages, "variant": variant, "seeded": seeded}

    def measure(self, run: Run, st: dict) -> list[dict]:
        engine = st["engine"]
        catalog_dir = engine.cat.root

        def op(i):
            if run.tracer is None:  # keep the directory walks out of timed rounds
                return engine.run_round()
            before = _dir_usage(catalog_dir)
            s = engine.run_round()
            after = _dir_usage(catalog_dir)
            s["files_written"] = after[0] - before[0]
            s["bytes_written"] = after[1] - before[1]
            return s

        return run.ops(op, self.TIMED_ROUNDS, self.TIMED_ROUNDS)

    def verify(self, run: Run, st: dict, samples: list[dict]) -> None:
        from pyspark.sql import functions as F

        engine, pages = st["engine"], st["pages"]
        pins = _load_pins("crawl_rounds").get(str(st["variant"]))
        run.check("seed_count", pins is not None and st["seeded"] == pins["seeded"],
                  {"got": st["seeded"], "pinned": pins and pins["seeded"]})
        keys = ("scheduled", "disallowed", "docs", "links", "next_frontier")
        for i, s in enumerate(samples):
            if "error" in s:
                continue
            got = [s[k] for k in keys]
            want = pins["rounds"][i] if pins and i < len(pins["rounds"]) else None
            run.check(f"round{i}_counts", got == want, {"got": got, "pinned": want})
        docs = engine.cat.read("docs")
        content = docs.filter((F.col("http_code") == 200) & (F.col("curl_code") == 0))
        joined = content.join(
            pages.select(F.col("url").alias("_p"), F.col("text").alias("_want")),
            F.coalesce(F.col("eff_url"), F.col("url")) == F.col("_p"),
            "left",
        )
        row = joined.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("_want").isNull(), 1).otherwise(0)).alias("unmatched"),
            F.sum(F.when(F.col("text").eqNullSafe(F.col("_want")), 0).otherwise(1)).alias("diff"),
        ).collect()[0]
        run.check("doc_text_identical", row["n"] > 0 and row["unmatched"] == 0 and row["diff"] == 0,
                  row.asDict())
        seen = engine.cat.read("seen")
        n_seen = seen.count()
        n_distinct = seen.select("url").distinct().count()
        run.check("seen_no_duplicates", n_seen == n_distinct, {"rows": n_seen, "distinct": n_distinct})
        if run.tracer is not None:
            st.update(self._bloom_ratios(engine, seen))

    @staticmethod
    def _bloom_ratios(engine, seen) -> dict:
        """Over the distinct linked URLs: the share the Bloom prefilter sends
        to the exact confirm join, and its false-positive rate."""
        from pyspark.sql import functions as F

        cand = engine.cat.read("links").select("url").distinct()
        row = engine.bloom.prefilter(cand, "url").join(
            seen.select("url").withColumn("_seen", F.lit(True)), "url", "left"
        ).agg(
            F.count(F.lit(1)).alias("cand"),
            F.sum(F.col("maybe_seen").cast("long")).alias("maybe"),
            F.sum(F.col("_seen").isNotNull().cast("long")).alias("truly"),
        ).collect()[0]
        return {
            "confirm_share": row["maybe"] / row["cand"],
            "bloom_fp_rate": (row["maybe"] - row["truly"]) / max(1, row["cand"] - row["truly"]),
        }

    def figures(self, samples: list[dict]) -> dict:
        ok = _ok(samples)
        walls = [s["wall_s"] for s in ok]
        return {
            "op_s": stats.median(walls),
            "op_cpu_s": stats.median([s["cpu_s"] for s in ok]),
            "crawl.rounds_timed": len(ok),
            "crawl.round_s": stats.median(walls),
            "crawl.docs_per_s": sum(s["docs"] for s in ok) / sum(walls),
        }

    def layer_metrics(self, run: Run, st: dict, samples: list[dict]) -> dict:
        """Per-layer figures of the timed rounds, each the median over rounds."""
        tr = run.tracer
        traced = [s for s in samples if "span" in s]
        rounds = [next(c for c in tr.children(s["span"]) if c["name"] == "crawl.round")
                  for s in traced]
        work = [tr.work(r) for r in rounds]
        m = {
            "crawl.round.self_s": stats.median([tr.self_s(r) for r in rounds]),
            "crawl.round.actions_s": stats.median([tr.time_in(r, "action.") for r in rounds]),
            "crawl.jobs_per_round": stats.median([w["jobs"] for w in work]),
            "crawl.stages_per_round": stats.median([w["stages"] for w in work]),
            "crawl.tasks_per_round": stats.median([w["tasks"] for w in work]),
            "catalog.commits": stats.median(
                [sum(1 for x in tr.subtree(r) if x["name"] == "catalog.commit") for r in rounds]),
            "catalog.files_written": stats.median([s["files_written"] for s in traced]),
            "catalog.bytes_written": stats.median([s["bytes_written"] for s in traced]),
            "seen.confirm_share": st["confirm_share"],
            "seen.bloom_fp_rate": st["bloom_fp_rate"],
        }
        for name in self.SELF_TIMED:
            m[f"{name}_s"] = stats.median([
                sum(tr.self_s(x) for x in tr.subtree(r) if x["name"] == name) for r in rounds
            ])
        return m


def _dir_usage(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    n = size = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            n += 1
            try:
                size += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return n, size


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# --------------------------------------------------------------------------
# corpus_queries
# --------------------------------------------------------------------------


class CorpusQueries:
    """Registered queries from ``__spark_entry__.queries()`` into the no-op sink
    over seeded fixtures: the read side, where per-stage fixed overhead in
    ``plans.entries`` and ``operators.*`` sets the time and no crawl state
    is written.

    A warm sweep of all 87 queries takes 82-93 s on four cores, more than
    one run may spend, so the benchmark sweeps ``QUERIES``, a sample
    stratified by cost: ``sweep_all.py`` recorded each query's stages
    and wall times over three sweeps in ``query_costs.json``; with the
    queries ranked by (stages that ran, median warm time), the sample is
    the query from the middle of each group of ten in that ranking
    (``stats.stratified_sample``). It holds 7% of the warm sweep's time
    and 9% of its stages. A change that moves one query outside the
    sample does not show here; ``sweep_all.py`` times all of them.

    Set-up is the oracle check: every query is collected once and its
    fingerprint compared with the DuckDB oracle, except ``phrase_match``,
    whose oracle is wrong on back-to-back repeats of the phrase and which
    is compared with ``fixtures.phrase_matches``. The JVM is still warming
    up after it: in a run of eight sweeps (seed 1011) the first took
    10.1 s and the other seven 6.9-8.4 s. An untimed sweep before the
    timed one would add 10-15 s to every run, which the time limit of a
    check of the benchmark (48 runs) cannot spare. In a traced run each
    timed query is one ``op`` span."""

    QUERIES = (
        "trustrank_hosts", "incremental_index", "host_report", "repeated_spans",
        "approx_distinct_urls", "sessionize_events", "html_block_extract",
        "phrase_match", "token_count",
    )
    PHRASE = "hash join"  # the phrase entries.py registers phrase_match with
    min_sweeps = 1
    LAYER_METRICS = {
        "queries.jobs": "count",
        "queries.stages": "count",
        "queries.tasks": "count",
        **{f"query.{name}_s": "s" for name in QUERIES},
    }

    def setup(self, run: Run) -> dict:
        import duckdb

        import __spark_entry__ as entry
        from mycelium_spark.plans.entries import ORACLES

        sf_dir = os.path.join(run.work_dir, "fixtures")
        with run.phase("fixtures"):
            rows = fixtures.write_tables(run.seed, sf_dir)
        queries = entry.queries()
        oracle_checks = []
        spark_s = oracle_s = 0.0
        con = duckdb.connect()
        for t in fixtures.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        for name in self.QUERIES:
            t0 = time.perf_counter()
            sdf = queries[name](run.spark, sf_dir)
            cols = list(sdf.columns)
            got = fixtures.fingerprint(cols, sdf.collect())
            t1 = time.perf_counter()
            if name == "phrase_match":  # its oracle undercounts back-to-back repeats
                docs = con.sql("SELECT doc_id, text FROM documents").fetchall()
                want = fixtures.fingerprint(
                    ["doc_id", "n_matches"],
                    fixtures.phrase_matches(*zip(*docs), self.PHRASE),
                )
            else:
                # only this query's oracle: a lazy one is computed over sf_dir
                oracle = ORACLES[name]
                rel = con.sql(oracle(sf_dir) if callable(oracle) else oracle)
                want = fixtures.fingerprint(list(rel.columns), rel.fetchall())
            spark_s, oracle_s = spark_s + t1 - t0, oracle_s + time.perf_counter() - t1
            oracle_checks.append(
                (name, got == want, {"columns": sorted(cols), "spark": got[:16], "oracle": want[:16]})
            )
        con.close()
        run.phases.update({"oracle_check_spark": spark_s, "oracle_check_duckdb": oracle_s})
        return {"sf_dir": sf_dir, "rows": rows, "queries": queries, "oracle": oracle_checks}

    def measure(self, run: Run, st: dict) -> list[dict]:
        names = self.QUERIES

        def op(i):
            name = names[i]
            _noop(st["queries"][name](run.spark, st["sf_dir"]))
            return {"query": name}

        # whole sweeps until --seconds have passed
        samples, t0 = [], time.perf_counter()
        while len(samples) < len(names) * self.min_sweeps or time.perf_counter() - t0 < run.seconds:
            samples.extend(run.ops(op, len(names), len(names)))
        return samples

    def verify(self, run: Run, st: dict, samples: list[dict]) -> None:
        for name, ok, detail in st["oracle"]:
            run.check(f"oracle:{name}", ok, detail)

    def _sweeps(self, samples: list[dict]) -> list[list[dict]]:
        """The samples of each sweep in which every query succeeded."""
        n_q = len(self.QUERIES)
        chunks = [samples[i:i + n_q] for i in range(0, len(samples), n_q)]
        return [c for c in chunks if not any("error" in s for s in c)]

    def figures(self, samples: list[dict]) -> dict:
        """The unit op of the end-to-end figures is one sweep: a single query
        is too short (0.1-3 s) for its median to be steady across runs.
        Per-query times and their percentiles go to the record."""
        sweeps = [sum(s["wall_s"] for s in c) for c in self._sweeps(samples)]
        walls = [s["wall_s"] for s in _ok(samples)]
        out = {
            "op_s": stats.median(sweeps),
            "op_cpu_s": stats.median([sum(s["cpu_s"] for s in c) for c in self._sweeps(samples)]),
            "queries.sweeps": len(sweeps),
            "queries.total_s": stats.median(sweeps),
            "queries.p50_s": stats.median(walls),
        }
        tail = stats.tail_percentile(len(walls))
        if tail is not None and tail > 50:
            out[f"queries.p{tail}_s"] = stats.percentile(walls, tail)
        return out

    def layer_metrics(self, run: Run, st: dict, samples: list[dict]) -> dict:
        """Per sweep: Spark work, median over sweeps; per query: traced wall,
        median over sweeps."""
        tr = run.tracer
        work = [[tr.work(tr.spans[s["span"]]) for s in c] for c in self._sweeps(samples)]
        m = {
            f"queries.{k}": stats.median([sum(w[k] for w in sweep) for sweep in work])
            for k in ("jobs", "stages", "tasks")
        }
        for name in self.QUERIES:
            m[f"query.{name}_s"] = stats.median(
                [s["wall_s"] for s in _ok(samples) if s["query"] == name])
        return m


WORKLOADS = {
    "crawl_rounds": CrawlRounds,
    "corpus_queries": CorpusQueries,
}

"""Per-layer controls that do not depend on the workload's own operations.

``functions_layer`` times the kernels in this process on one core with no
Spark. ``transport_layer`` times the two floors under an extract leg on a
pages DataFrame: a scan into the no-op sink, and the same scan through an
identity ``mapInPandas`` (the Arrow round trip without the kernel).
"""

from __future__ import annotations

import time

from . import stats

_REPS = 3


def _rate(fn, n_items: int) -> float:
    """Items per second of ``fn()``, the median of a few repetitions."""
    rates = []
    for _ in range(_REPS):
        t0 = time.perf_counter()
        fn()
        rates.append(n_items / (time.perf_counter() - t0))
    return stats.median(rates)


def functions_layer(seed: int) -> dict[str, float]:
    import random

    import pandas as pd

    from mycelium_spark.functions import clexer
    from mycelium_spark.functions.robots import robots_state_for
    from mycelium_spark.functions.udfs import extract_frame, normalize_url_series, url_parts_frame
    from mycelium_spark.sources import synth

    rng = random.Random(seed)
    n_corpus = 20_000
    ids = [rng.randrange(n_corpus) for _ in range(400)]
    htmls = pd.Series([synth.page_html(i, n_corpus, extra_paras=4) for i in ids])
    page_urls = pd.Series([synth.url_of(i) for i in ids])
    raw = pd.Series([u for _, u in synth.seeds(n_corpus, n_seeds=2000)])
    paths = [f"/d{i % 7}/p{i}.html" for i in ids] * 10
    robots = []
    for _, status, txt in synth.robots_fixtures(n_corpus):
        _, r = robots_state_for(status, txt.encode() if txt else None, False)
        if r is not None:
            robots.append(r)
    ua = "mycelium web crawler"

    def allowed():
        for r in robots:
            for p in paths:
                r.path_allowed(ua, p)

    return {
        "functions.extract_frame.pages_per_s": _rate(lambda: extract_frame(htmls, page_urls), len(htmls)),
        "functions.normalize_url_series.urls_per_s": _rate(lambda: normalize_url_series(raw), len(raw)),
        "functions.url_parts_frame.urls_per_s": _rate(lambda: url_parts_frame(raw), len(raw)),
        "functions.robots.path_allowed_per_s": _rate(allowed, len(robots) * len(paths)),
        "functions.c_kernel": 1 if clexer.get() is not None else 0,
    }


def transport_layer(pages) -> dict[str, float]:
    """Median seconds of a no-op scan and of an identity ``mapInPandas`` over
    the ``html`` and ``url`` columns of ``pages`` (cached by the caller)."""
    cols = pages.select("html", "url")

    def identity(batches):
        yield from batches

    def timed(df):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    passthrough = cols.mapInPandas(identity, cols.schema)
    timed(passthrough)  # start the Python workers outside the samples
    return {
        "transport.scan_noop_s": stats.median([timed(cols) for _ in range(_REPS)]),
        "transport.arrow_passthrough_s": stats.median([timed(passthrough) for _ in range(_REPS)]),
    }

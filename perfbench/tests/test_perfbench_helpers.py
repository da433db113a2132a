"""Unit tests for the benchmark's pure helpers (no Spark session)."""

import datetime
import decimal
import math
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import fixtures, run, stats, workloads  # noqa: E402


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50), (39, 50), (40, 75), (66, 75), (67, 85),
     (87, 85), (100, 90), (199, 90), (200, 95), (1000, 99)],
)
def test_tail_percentile_keeps_ten_beyond(n, want):
    p = stats.tail_percentile(n)
    assert p == want
    if p is not None:
        assert n * (100 - p) / 100 >= 10


def test_percentile_interpolates_and_rejects_empty():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile([7.0], 85) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_self_time_subtracts_children_once():
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (5.0, 6.0)]) == 7.0
    # overlapping children are counted once
    assert stats.self_time(0.0, 10.0, [(1.0, 4.0), (2.0, 5.0)]) == 6.0
    # children are clipped to the parent
    assert stats.self_time(2.0, 4.0, [(0.0, 3.0), (3.5, 9.0)]) == pytest.approx(0.5)
    assert stats.self_time(0.0, 1.0, [(0.0, 1.0)]) == 0.0


@pytest.mark.parametrize(
    "name, ok",
    [("setup_s", True), ("query.q1_lineitem_agg_s", True), ("functions.c_kernel", True),
     ("1x", True), ("a-b.c_d", True), ("", False), ("_lead", False), (".lead", False),
     ("has space", False), ("slash/no", False), ("a" * 64, True), ("a" * 65, False),
     (None, False)],
)
def test_metric_name_validation(name, ok):
    assert stats.valid_metric_name(name) is ok


def test_result_line_shape_and_validation():
    line = stats.result_line(True, 3, 0, {"setup_s": (1.5, "s")})
    assert line == {"correct": True, "attempted": 3, "failed": 0,
                    "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}
    with pytest.raises(ValueError):
        stats.result_line(True, 3, 0, {"bad name": (1.0, "s")})
    with pytest.raises(ValueError):
        stats.result_line(True, 3, 0, {"x": (math.nan, "s")})
    with pytest.raises(ValueError):
        stats.result_line(True, 0, 0, {"x": (1.0, "s")})


def test_stratified_sample_picks_the_middle_of_each_group():
    costs = {f"q{i}": float(i) for i in range(10)}  # q9 costliest
    assert stats.stratified_sample(costs, 4) == ["q7", "q3"]
    assert stats.stratified_sample(costs, 1) == [f"q{i}" for i in range(9, -1, -1)]
    # ties rank by name; tuples order element by element
    assert stats.stratified_sample({"b": 1.0, "a": 1.0, "c": 1.0}, 2) == ["b"]
    assert stats.stratified_sample({"a": (2, 0.1), "b": (1, 9.0), "c": (2, 0.2)}, 2) == ["a"]


def test_query_set_is_the_sample_of_the_recorded_costs():
    import json

    with open(os.path.join(ROOT, "perfbench", "query_costs.json")) as f:
        costs = json.load(f)["queries"]
    cost = {name: (q["stages"], stats.median(q["wall_s"][1:])) for name, q in costs.items()}
    assert list(workloads.CorpusQueries.QUERIES) == stats.stratified_sample(cost, 10)


def test_canon_value_matches_entries_test_rules():
    assert fixtures.canon_value(1.23456789) == 1.234568
    assert fixtures.canon_value(float("nan")) == "nan"
    # equal under == in the oracle test, so equal in the fingerprint too
    assert fixtures.canon_value(2.0) == 2 and isinstance(fixtures.canon_value(2.0), int)
    assert fixtures.canon_value(decimal.Decimal("3.50")) == 3.5
    assert fixtures.canon_value([1.0000001, 2.5]) == (1, 2.5)
    assert fixtures.canon_value("x") == "x" and fixtures.canon_value(None) is None
    d = datetime.date(2024, 1, 1)
    assert fixtures.canon_value(d) == d


def test_fingerprint_is_order_insensitive():
    cols = ["b", "a"]
    rows = [(1, "x"), (2.0, None), (3.1234567, "z")]
    fp = fixtures.fingerprint(cols, rows)
    # row order, column order and integral float vs int do not matter
    assert fixtures.fingerprint(cols, list(reversed(rows))) == fp
    swapped = [(r[1], r[0]) for r in rows]
    assert fixtures.fingerprint(["a", "b"], swapped) == fp
    assert fixtures.fingerprint(cols, [(1.0, "x"), (2, None), (3.12345671, "z")]) == fp
    # multiplicity and values do
    assert fixtures.fingerprint(cols, rows + [rows[0]]) != fp
    assert fixtures.fingerprint(cols, [(1, "x"), (2, None), (3.1235, "z")]) != fp


def test_fixture_tables_are_a_function_of_the_seed():
    a, b, c = fixtures.make_tables(5), fixtures.make_tables(5), fixtures.make_tables(6)
    assert list(a) == list(fixtures.TABLES)
    for t in fixtures.TABLES:
        assert a[t].equals(b[t]), t
        assert len(a[t]) == len(c[t]), t
    assert not a["lineitem"].equals(c["lineitem"])


def test_printed_metrics_match_benchmark_json():
    import json

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert run.E2E == e2e
    assert run.PER_LAYER == per_layer
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert all(stats.valid_metric_name(n) for n in [*e2e, *per_layer])


def test_phrase_matches_counts_every_start_offset():
    import duckdb

    from mycelium_spark.operators import retrieval

    ids = [0, 1, 2, 3, 4]
    texts = ["a hash join b", "hash join hash join", "hash b join", "join hash join x hash join",
             "hash"]
    got = fixtures.phrase_matches(ids, texts, "hash join")
    assert got == [(0, 1), (1, 2), (3, 2)]
    assert fixtures.phrase_matches([0], ["a a a"], "a a") == [(0, 2)]
    # the registered oracle agrees except on the back-to-back repeat
    con = duckdb.connect()
    con.sql("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(zip(ids, texts)))
    oracle = sorted(con.sql(retrieval.phrase_match_sql("hash join")).fetchall())
    con.close()
    assert oracle == [(0, 1), (1, 1), (3, 2)]

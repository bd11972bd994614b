"""Unit tests for the benchmark's own logic (no Spark session).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import compare, inputs, stats
from perfbench.run import task_slots
from perfbench.tracer import parse_metric
from perfbench.workload import END_TO_END, per_layer_names

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        # two children on different threads overlap on [3, 4]
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),
        # a grandchild does not count against the root
        _span(4, 2, 1.5, 2.0),
        # a child that outlives its parent counts only inside it
        _span(5, 1, 9.0, 12.0),
    ]
    got = stats.self_times(spans)
    assert got[1] == pytest.approx(10.0 - (5.0 + 1.0))
    assert got[2] == pytest.approx(3.0 - 0.5)
    assert got[3] == pytest.approx(3.0)
    assert got[4] == pytest.approx(0.5)


def test_covered_merges_and_clips():
    assert stats.covered([], 0, 1) == 0
    assert stats.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert stats.covered([(-5, 5)], 0, 1) == pytest.approx(1)


def test_delta_split_is_a_function_of_seed_and_keys():
    urls = [f"https://h{i % 7}.example.com/p{i}" for i in range(1000)]
    d1 = inputs.delta_keys(urls, seed=5)
    assert len(d1) == 10
    assert d1 <= set(urls)
    assert inputs.delta_keys(list(reversed(urls)), seed=5) == d1
    assert inputs.delta_keys(urls, seed=6) != d1
    assert len(inputs.delta_keys(urls[:30], seed=5)) == 1


def test_inputs_repeat_for_a_seed():
    assert inputs.sf_documents(50, 3).equals(inputs.sf_documents(50, 3))
    assert not inputs.sf_documents(50, 3).equals(inputs.sf_documents(50, 4))
    assert inputs.dup_pages(8, 3).equals(inputs.dup_pages(8, 3))


def test_sf_urls_match_the_pages_adapter():
    """sf_urls must name the rows the way load_pages does, or the delta
    would hold urls the program never sees; the adapter's SQL twin is
    the reference."""
    duckdb = pytest.importorskip("duckdb")
    from src_to_kb_spark.sources.pages import ORACLE_PAGES_CTE

    docs = inputs.sf_documents(40, 9)
    con = duckdb.connect()
    con.register("documents", docs)
    want = [r[0] for r in con.execute(
        ORACLE_PAGES_CTE + " SELECT url FROM pages ORDER BY doc_id").fetchall()]
    assert inputs.sf_urls(docs) == want


@pytest.mark.parametrize(
    "text,value",
    [
        ("total (min, med, max (stageId: taskId))\n10.4 s (2.6 s, 2.6 s, 2.6 s "
         "(stage 0.0: task 0))", 10.4),
        ("total (min, med, max (stageId: taskId))\n254.0 KiB (48.1 KiB, ...)",
         254.0 * 1024),
        ("total (min, med, max)\n850 ms (1 ms, 2 ms, 3 ms)", 0.85),
        ("1,234", 1234),
        (None, 0.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def _result(cpus=4, seed=1, value=10.0):
    return {
        "stamp": {"workload": "sf_build", "trace": 0, "seed": seed, "cpus": cpus},
        "metrics": {"build_s": {"value": value, "unit": "s"}},
    }


def test_task_slots_are_half_the_cores():
    assert [task_slots(n) for n in (1, 2, 3, 4, 8)] == [1, 1, 1, 2, 4]


def test_compare_refuses_cpus_or_seed_mismatch():
    assert compare.incomparable(_result(), _result()) is None
    assert "cpus" in compare.incomparable(_result(cpus=32), _result())
    assert "seed" in compare.incomparable(_result(seed=2), _result())


def test_compare_refuses_the_unstamped_32_core_baselines():
    path = os.path.join(ROOT, "BENCH_r05.json")
    if not os.path.exists(path):
        pytest.skip("no BENCH_r05.json in this checkout")
    with open(path) as f:
        old = json.load(f)
    assert compare.incomparable(old, _result()) is not None


def test_compare_flags_regressions_beyond_the_bound():
    bench = {"end_to_end": [{"name": "build_s", "unit": "s", "better": "lower",
                             "bound": 0.1}], "per_layer": []}
    ok = compare.compare(_result(value=10.0), _result(value=10.5), bench)
    bad = compare.compare(_result(value=10.0), _result(value=11.5), bench)
    assert not ok[0]["regressed"] and bad[0]["regressed"]


def test_benchmark_json_lists_what_the_benchmark_reports():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == per_layer_names()
    from perfbench.workload import WORKLOADS

    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)

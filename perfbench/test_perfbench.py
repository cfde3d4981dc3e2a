"""Tests of the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import itertools
import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import run  # noqa: E402
from tracing import Span, Tracer, self_by_name, self_times  # noqa: E402
from sparkstats import stream_totals  # noqa: E402
from workloads import (  # noqa: E402
    LLM_INDEX_QUERIES,
    OLAP_QUERIES,
    OPERATOR_MODULES,
    WORKLOADS,
    operator_of,
    pass_orders,
)


def _spec():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_printed_metric_names_and_units_match_the_spec():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)

    e2e = run.e2e_metrics(3.0, 9.0, [4.0, 5.0], [0.5, 1.5, 1.0])
    assert {k: v["unit"] for k, v in e2e.items()} == run.E2E_UNITS
    assert e2e["setup_s"]["value"] == 3.0
    assert e2e["pass_s"]["value"] == 4.5
    assert e2e["query_p50_s"]["value"] == 1.0
    layers = run.layer_metrics({k: 1.0 for k in run.LAYER_UNITS})
    assert {k: v["unit"] for k, v in layers.items()} == run.LAYER_UNITS


def test_seed_fixes_the_query_order_of_every_pass():
    def first(seed, n=4):
        return list(itertools.islice(pass_orders(OLAP_QUERIES, seed), n))

    assert first(7) == first(7)
    assert first(7) != first(8)
    for order in first(7):
        assert sorted(order) == sorted(OLAP_QUERIES)
    # passes of one run differ from each other
    assert len({tuple(o) for o in first(7)}) > 1


def test_workload_lists_and_operator_map():
    from chinook_music_database_analysis_spark.plans import QUERIES

    olap_all = {q for q in QUERIES if q[0] in "qs" and q[1].isdigit()} - {"s14_brand_pagerank"}
    assert len(olap_all) == 42 and set(OLAP_QUERIES) <= olap_all
    with open(os.path.join(os.path.dirname(HERE), "BENCH_DETAIL.json")) as fh:
        store_read = json.load(fh)["store_read_queries"]
    assert len(store_read) == 43 and set(LLM_INDEX_QUERIES) <= set(store_read)
    # one query per operator module, every module covered
    assert sorted(operator_of(q) for q in LLM_INDEX_QUERIES) == list(OPERATOR_MODULES)
    assert OPERATOR_MODULES == (
        "curation", "dedup", "graph", "layout", "multimodal", "similarity", "text",
    )
    assert operator_of("pipe_layout_rebuild") == "layout"
    assert operator_of("pipe_contrastive_negatives") == "curation"
    assert operator_of("q02_top_parts_nation0") is None


def test_injected_wrong_result_counts_as_failed():
    from chinook_music_database_analysis_spark.testing import frames_mismatch

    good = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    results = {
        "same": good,
        "reordered": good.iloc[::-1],
        "wrong_value": good.assign(v=["a", "b", "x"]),
        "missing_row": good.iloc[:2],
    }

    def run_query(name):
        if name == "raises":
            raise RuntimeError("boom")
        return results[name]

    tally = run.Tally()
    run.check_outputs(
        ["same", "reordered", "wrong_value", "missing_row", "raises"],
        run_query, lambda name: good, frames_mismatch, tally,
    )
    assert (tally.attempted, tally.failed) == (5, 3)


def test_pass_counters_sum_but_keep_the_peak_memory_a_peak():
    from collections import Counter

    recs = [
        {"counters": Counter(tasks=4, scan_rows=10, peak_memory_bytes=300)},
        {"counters": Counter(tasks=2, peak_memory_bytes=500)},
        {"counters": Counter(tasks=1, peak_memory_bytes=100)},
        {},  # a failed query has no counters
    ]
    out = run.pass_counters(recs)
    assert (out["tasks"], out["scan_rows"], out["peak_memory_bytes"]) == (7, 10, 500)


def test_stream_totals_from_progress_reports():
    def batch(rows, trigger, add, ops):
        return {
            "numInputRows": rows,
            "durationMs": {"triggerExecution": trigger, "addBatch": add},
            "stateOperators": [
                {"numRowsTotal": n, "memoryUsedBytes": m, "commitTimeMs": c} for n, m, c in ops
            ],
        }

    progress = [
        batch(100, 50, 40, [(10, 1000, 5), (20, 2000, 7)]),
        batch(0, 20, 10, [(25, 2500, 3)]),
    ]
    assert stream_totals(progress) == {
        "input_rows": 100, "batches": 2, "trigger_ms": 70, "add_batch_ms": 50,
        "commit_ms": 15, "state_rows": 30, "state_mem_bytes": 3000,
    }
    # a stateless source has no state operators
    no_state = stream_totals([{"numInputRows": 5, "durationMs": {}}])
    assert (no_state["input_rows"], no_state["state_rows"], no_state["commit_ms"]) == (5, 0, 0)


def test_oracle_results_are_cached_until_sql_or_data_change(tmp_path):
    import types

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(pa.table({"a": [1, 2, 3]}), sf / "t.parquet")
    program = types.SimpleNamespace(
        duckdb_module=duckdb, TABLES=("t",), ORACLES={"q": "SELECT sum(a) AS s FROM t"},
    )
    cache = str(tmp_path / "cache")

    def result():
        oracles = run.OracleResults(program, str(sf), cache)
        try:
            return int(oracles.get("q")["s"][0]), oracles.con is None
        finally:
            oracles.close()

    assert result() == (6, False)          # computed by DuckDB
    assert result() == (6, True)           # read back, DuckDB not opened
    program.ORACLES["q"] = "SELECT max(a) AS s FROM t"
    assert result() == (3, False)          # new SQL, new key
    pq.write_table(pa.table({"a": [10, 20]}), sf / "t.parquet")
    assert result() == (20, False)         # new data, new key


def _span(i, name, start, end, parent):
    return Span(i, name, start, end, parent, "r")


def test_self_time_arithmetic_on_a_synthetic_tree():
    spans = [
        _span(1, "pass", 0.0, 10.0, None),
        _span(2, "query", 1.0, 6.0, 1),
        _span(3, "build", 1.0, 2.0, 2),
        _span(4, "action", 2.5, 5.5, 2),
        _span(5, "query", 6.0, 9.0, 1),
        _span(6, "build", 6.0, 6.5, 5),
        # overlapping children are counted once
        _span(7, "action", 6.5, 8.0, 5),
        _span(8, "action", 7.0, 8.5, 5),
    ]
    selfs = self_times(spans)
    assert selfs[1] == pytest.approx(2.0)   # 10 - (5 + 3)
    assert selfs[2] == pytest.approx(1.0)   # 5 - (1 + 3)
    assert selfs[5] == pytest.approx(0.5)   # 3 - (0.5 + 2.0 union)
    by_name = self_by_name(spans, spans[0])
    assert by_name["action"] == pytest.approx(3.0 + 1.5 + 1.5)
    # self times of a tree with disjoint siblings add up to the root's wall
    disjoint = [s for s in spans if s.span_id != 8]
    assert sum(self_by_name(disjoint, disjoint[0]).values()) == pytest.approx(10.0)


def test_tracer_nests_spans_and_can_be_off():
    tr = Tracer("r", enabled=True)
    with tr.span("outer"):
        with tr.span("inner", k=1):
            pass
    inner, outer = tr.spans
    assert inner.parent == outer.span_id and outer.parent is None
    assert inner.attrs == {"k": 1} and outer.start <= inner.start <= inner.end <= outer.end

    with tr.span("stream") as stream:
        tr.record("stream.batch", stream.start, stream.start)
    batch = tr.spans[2]
    assert batch.name == "stream.batch" and batch.parent == stream.span_id

    off = Tracer("r", enabled=False)
    with off.span("x") as s:
        assert s is None
    off.record("y", 0.0, 1.0)
    assert off.spans == []


def test_split_copy_is_row_identical_and_rebuilt_only_on_source_change(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from splitcopy import ensure_split_copy

    src = tmp_path / "sf"
    src.mkdir()
    pq.write_table(pa.table({"a": list(range(1000)), "b": [str(i % 7) for i in range(1000)]}),
                   src / "t.parquet")
    out = ensure_split_copy(str(src), str(tmp_path / "copy"), ("t",), 128)
    assert out["regenerated"] and out["row_groups"] == {"t": 8}
    copied = pq.read_table(os.path.join(out["dir"], "t.parquet"))
    assert copied.equals(pq.read_table(src / "t.parquet"))
    assert not ensure_split_copy(str(src), str(tmp_path / "copy"), ("t",), 128)["regenerated"]
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), src / "t.parquet")
    again = ensure_split_copy(str(src), str(tmp_path / "copy"), ("t",), 128)
    assert again["regenerated"] and again["row_groups"] == {"t": 1}

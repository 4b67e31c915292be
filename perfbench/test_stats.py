"""Tests of the benchmark's own arithmetic and bookkeeping.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import data  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


# --- percentiles and the ten-beyond rule --------------------------------

def test_p50_p90_are_the_inclusive_deciles():
    xs = [0.3, 1.7, 0.2, 0.9, 2.5, 1.1, 0.4]
    assert stats.p50_p90(xs) == (pytest.approx(0.9), pytest.approx(2.02))
    assert stats.p50_p90(list(range(1, 102))) == (51, 91)


def test_ten_beyond_p90_needs_92_distinct_samples():
    assert stats.beyond_p90(list(range(1, 93))) == 10    # p90 = 82.9
    assert stats.beyond_p90(list(range(1, 92))) == 9     # p90 = 82.0
    assert stats.beyond_p90([5.0] * 20) == 0


# --- span self time -----------------------------------------------------

def _span(sid, parent, name, start, end):
    return {"id": sid, "parent": parent, "name": name,
            "start": start, "end": end}


def test_self_time_subtracts_covered_children_once():
    spans = [
        _span(1, 0, "query", 0.0, 10.0),
        _span(2, 1, "build", 0.0, 2.0),
        _span(3, 1, "action", 2.0, 9.0),
        # two overlapping jobs under the action: 3..6 and 5..8 cover 5 s
        _span(4, 3, "job", 3.0, 6.0),
        _span(5, 3, "job", 5.0, 8.0),
    ]
    st = stats.self_times(spans)
    assert st["query"] == pytest.approx(1.0)
    assert st["build"] == pytest.approx(2.0)
    assert st["action"] == pytest.approx(2.0)
    assert st["job"] == pytest.approx(6.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(1, 0, "action", 0.0, 4.0),
             _span(2, 1, "job", 3.0, 7.0),
             _span(3, 1, "job", 9.0, 10.0)]
    assert stats.self_times(spans)["action"] == pytest.approx(3.0)


def test_self_times_sum_to_the_root_span():
    spans = [_span(1, 0, "run", 0.0, 20.0),
             _span(2, 1, "pass", 1.0, 11.0),
             _span(3, 2, "query", 1.0, 6.0),
             _span(4, 3, "build", 1.0, 2.0),
             _span(5, 3, "action", 2.0, 6.0),
             _span(6, 5, "job", 2.5, 5.5)]
    assert sum(stats.self_times(spans).values()) == pytest.approx(20.0)


def test_tracer_records_nesting_and_stays_silent_when_disabled():
    tr = tracing.Tracer("t")
    with tr.span("pass"):
        pass
    assert tr.spans == []
    tr.enabled = True
    with tr.span("pass") as p:
        with tr.span("query") as q:
            tr.add("x", 2)
    assert q["parent"] == p["id"] and p["parent"] == 0
    assert tr.counters == {"x": 2}
    assert {s["run"] for s in tr.spans} == {"t"}


# --- per-family grouping ------------------------------------------------

def test_family_from_builder_module():
    assert stats.family("tile_etl_spark.operators.joins") == "operators"
    assert stats.family("tile_etl_spark.llm.dedup") == "llm"
    assert stats.family("tile_etl_spark.functions.udfs") == "functions"
    assert stats.family("tile_etl_spark.tiles.http_store") == "tiles"
    assert stats.family("tile_etl_spark.streaming.queries") == "other"
    assert stats.family("bench") == "other"


def test_family_sums_cover_every_family():
    got = stats.family_sums([
        ("tile_etl_spark.operators.joins", 1.0),
        ("tile_etl_spark.operators.aggregates", 0.5),
        ("tile_etl_spark.llm.dedup", 2.0),
        ("tile_etl_spark.streaming.queries", 9.0),
    ])
    assert got == {"operators": 1.5, "llm": 2.0, "functions": 0.0,
                   "tiles": 0.0}


def test_every_benchmarked_qid_has_a_family_and_an_oracle():
    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    from tile_etl_spark import registry

    import run

    registry.load_all()
    fams = set()
    for qid in run.QIDS:
        assert qid in registry.ORACLES, qid
        fams.add(stats.family(registry.QUERIES[qid].__module__))
    assert fams == set(stats.FAMILIES)
    assert run.SINK_QID in run.QIDS  # tiles_per_s source


# --- error accounting ---------------------------------------------------

def test_error_rate_accounting():
    out = stats.Outcomes()
    assert out.error_rate == 0.0
    out.ok(8)
    out.fail("q: mismatch")
    out.fail("k: stored 2x")
    assert (out.attempted, out.failed) == (10, 2)
    assert out.error_rate == pytest.approx(0.2)
    assert out.reasons == ["q: mismatch", "k: stored 2x"]


# --- wrapping at every binding -------------------------------------------

def test_rebind_replaces_from_import_bindings():
    def load():
        return "orig"

    defining = types.ModuleType("tile_etl_spark._pb_fake_io")
    user = types.ModuleType("tile_etl_spark._pb_fake_user")
    outside = types.ModuleType("_pb_not_the_package")
    defining.load = load
    user.load = load          # what `from ... import load` leaves behind
    user.alias = load
    outside.load = load
    mods = {m.__name__: m for m in (defining, user, outside)}
    sys.modules.update(mods)
    try:
        n = tracing.rebind(load, lambda: "wrapped")
        assert n == 3
        assert defining.load() == user.load() == user.alias() == "wrapped"
        assert outside.load is load
    finally:
        for name in mods:
            sys.modules.pop(name, None)


# --- workloads and metrics recorded in BENCHMARK.json --------------------

def test_benchmark_json_names_the_workloads_and_metrics():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert tuple(w["name"] for w in spec["workloads"]) == run.WORKLOADS
    assert all(w["why"] for w in spec["workloads"])
    assert tuple(m["name"] for m in spec["end_to_end"]) == run.END_TO_END
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])
    assert any(m["name"] == "error_rate" for m in spec["per_layer"])


# --- seeded tile inputs -----------------------------------------------------

def _inventory(n=400):
    return [(5, r, c, f"L05/R{r:08x}/C{c:08x}.jpg")
            for r in range(20) for c in range(n // 20)]


def test_tile_plan_is_a_function_of_the_seed():
    inv = _inventory()
    a, b, c = (data.tile_plan(inv, s) for s in (1, 1, 2))
    assert a == b
    assert a["present"] != c["present"]
    missing = 1 - len(a["present"]) / len(inv)
    assert 0.1 < missing < 0.3
    keys = {k for _p, k, _n in a["present"]}
    assert set(a["faults"]) <= keys
    assert a["permanent"] == {k for k, v in a["faults"].items() if v == [403]}


def test_tile_bytes_are_deterministic_and_sized():
    body = data.tile_bytes("L05/R00000004/C0000000a.jpg", 1000)
    assert len(body) == 1000
    assert body == data.tile_bytes("L05/R00000004/C0000000a.jpg", 1000)
    assert body != data.tile_bytes("L05/R00000004/C0000000b.jpg", 1000)


# --- per-layer figures per traced pass ------------------------------------

def test_layer_metrics_are_per_traced_pass_with_build_once_layers_apart():
    import argparse

    import run

    args = argparse.Namespace(workload="tile_upload", seed=1, seconds=1,
                              trace=1)
    tr = tracing.Tracer("t")
    bench = run.Bench(args, HERE, 2, tr)
    tr.enabled = True
    tr.add("io.relayout_builds", 3)      # set-up and cold pass
    tr.add("io.load_calls", 100)
    bench.end_cold()
    for _ in range(2):                   # two traced warm passes
        tr.enabled = True
        tr.add("io.load_calls", 6)
        tr.add("io.load_memo_hits", 3)
        tr.add("tiles.put_requests", 10)
        tr.add("tiles.put_stored", 8)
        bench.family_build.append(("tile_etl_spark.llm.dedup", 0.5))
        bench.traced_passes += 1
    out = bench.layer_metrics()
    assert out["io.relayout_builds"] == 3
    assert out["io.load_calls"] == 6
    assert out["io.load_memo_hit_ratio"] == pytest.approx(0.5)
    assert out["tiles.put_requests"] == 10
    assert out["tiles.put_success_ratio"] == pytest.approx(0.8)
    assert out["llm.build_s"] == pytest.approx(0.5)
    assert out["operators.build_s"] == 0.0

"""Rules of the benchmark's summary. Run: ``python3 -m pytest loopbench -q``."""

from __future__ import annotations

import json
import os
import random
import re

import pytest

from loopbench import datagen, run, stats, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 31)]
    random.Random(0).shuffle(xs)
    s = stats.latency_summary(xs)
    assert s["tail"] == 20.0  # 21..30 lie beyond it
    assert s["tail_beyond"] == 10 and s["n"] == 30
    assert s["tail_pct"] == pytest.approx(100 * 20 / 30)
    assert sum(1 for x in xs if x > s["tail"]) == 10


def test_tail_falls_back_to_maximum_below_the_median_rule():
    # With 20 samples the 10th-from-top sample sits below the median.
    s = stats.latency_summary([float(i) for i in range(20)])
    assert (s["tail"], s["tail_pct"], s["tail_beyond"]) == (19.0, 100.0, 0)
    assert stats.latency_summary([3.0])["tail"] == 3.0


@pytest.mark.parametrize("n", [1, 2, 5, 11, 20, 21, 22, 37, 64, 200])
def test_tail_never_below_median(n):
    rng = random.Random(n)
    for _ in range(50):
        xs = [rng.lognormvariate(0, 1) for _ in range(n)]
        s = stats.latency_summary(xs)
        assert s["tail"] >= s["p50"]


def test_latency_needs_samples():
    with pytest.raises(ValueError):
        stats.latency_summary([])


def test_typical_pass_sums_per_key_medians_times_count():
    passes = [
        [("a", 1.0), ("a", 3.0), ("b", 10.0)],
        [("a", 2.0), ("a", 2.0), ("b", 30.0)],
        [("a", 1.0), ("a", 5.0), ("b", 20.0)],
    ]
    # a: median of 1,3,2,2,1,5 = 2, twice per pass; b: median 20, once.
    assert stats.typical_pass(passes) == pytest.approx(2 * 2.0 + 20.0)


def test_typical_pass_ignores_one_slow_pass_beyond_the_medians():
    base = [[("a", 1.0), ("b", 2.0)] for _ in range(4)]
    slow = base + [[("a", 100.0), ("b", 200.0)]]
    assert stats.typical_pass(slow) == stats.typical_pass(base) == 3.0
    assert stats.typical_pass([[("a", 1.0), ("b", 2.0)]]) == 3.0


def test_result_line_shape():
    line = stats.result_line(
        True, 3, 0, {"wall_s": stats.metric(1.5, "s"), "peak_rss_mb": stats.metric(10.0, "MB")}
    )
    obj = json.loads(line)
    assert list(obj) == ["correct", "attempted", "failed", "metrics"]
    assert obj["metrics"]["wall_s"] == {"value": 1.5, "unit": "s"}
    assert "\n" not in line


@pytest.mark.parametrize("name", ["", "_x", "a b", "x" * 65, "lat/ms", "é"])
def test_result_line_rejects_bad_names(name):
    with pytest.raises(ValueError):
        stats.result_line(True, 1, 0, {name: stats.metric(1.0, "s")})


def test_result_line_rejects_bad_counts_and_values():
    with pytest.raises(ValueError):
        stats.result_line(True, 0, 0, {})
    with pytest.raises(ValueError):
        stats.metric(float("nan"), "s")
    with pytest.raises(ValueError):
        stats.metric(1.0, "seconds-per-request")


def _raw(traced: bool) -> dict:
    calls = []
    for i in range(25):
        call = {"key": f"k{i % 3}", "call": i, "latency_s": 0.1 + i / 100, "ok": True}
        calls.append(dict(call, rows=2, bytes=100, lake_bytes=0, lake_files=0))
    passes = [
        {"traced": traced and j % 2 == 1, "wall_s": 1.0, "calls": calls[j::2]} for j in range(2)
    ]
    spans = [
        {"id": i, "name": "api.request", "call": i, "parent": None, "self_s": 0.01, "counts": {}}
        for i in range(25)
    ]
    setup = {f"{s}_s": 1.0 for s in run.SETUP_SPANS}
    setup["ready_monotonic"] = 12.0
    return {"passes": passes, "spans": spans, "setup": setup}


def test_benchmark_json_lists_exactly_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e, _ = run.end_to_end(_raw(False), "sql_requests", 2.0)
    assert [m["name"] for m in bench["end_to_end"]] == list(e2e)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        k: v["unit"] for k, v in e2e.items()
    }
    layers, _ = run.per_layer(_raw(True), 900.0)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [
        (k, v["unit"]) for k, v in layers.items()
    ]
    assert [w["name"] for w in bench["workloads"]] == sorted(workloads.SCALE, reverse=True)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert stats.NAME_RE.match(m["name"]) and stats.UNIT_RE.match(m["unit"])
    assert e2e["latency_tail_s"]["value"] >= e2e["latency_p50_s"]["value"]
    assert e2e["setup_s"]["value"] == 10.0


def test_workload_passes_follow_the_seed():
    sizes = datagen.sizes(0.1)
    one = workloads.sql_pass(random.Random(7), sizes)
    assert one == workloads.sql_pass(random.Random(7), sizes)
    assert one != workloads.sql_pass(random.Random(8), sizes)
    assert len({r.key for r in one}) == len(one) == len(workloads.SQL_PASS)
    for seed in range(20):
        ops = workloads.build_pass(random.Random(seed))
        assert sorted(ops) == sorted(workloads.BUILD_OPS)
        i = ops.index("dedup_cluster_components")
        assert ops[i + 1] == "split_cluster_safe"


def test_generated_tables_are_fixed_and_fixture_shaped():
    a, b = datagen.tables(0.001), datagen.tables(0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert sorted(a) == sorted(
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    )
    n = datagen.sizes(0.001)
    assert a["lineitem"].num_rows == n["lineitem"] == 6000
    assert str(a["customer"].schema.field("c_nationkey").type) == "int32"
    # The fixture files store all three timestamps in microseconds (parquet
    # TIMESTAMP(MICROS)), although FIXTURES.md lists ms and ns.
    for t, c in (("orders", "o_orderdate"), ("lineitem", "l_shipdate"), ("events", "ts")):
        assert str(a[t].schema.field(c).type) == "timestamp[us]"
    assert all(re.fullmatch(r'\{"k": \d+\}', p) for p in a["events"]["props"].to_pylist())


def test_measured_pass_count_depends_on_seconds_not_on_speed():
    assert workloads.measured_passes("sql_requests", 10) == 10
    assert workloads.measured_passes("sql_requests", 1) == 1
    assert workloads.measured_passes("op_build", 10) == 1
    assert workloads.measured_passes("op_build", 60) == 5


def test_checker_fails_wrong_results(tmp_path):
    import pandas as pd

    from desdb_spark.registry import Operator
    from loopbench.check import Checker

    data = datagen.write(0.001, str(tmp_path))
    ops = {"rows_only": Operator("rows_only", fn=None)}
    checker = Checker(data, ops)
    sql = "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer WHERE c_nationkey = 3"
    rows = checker.con.execute(sql).fetchall()
    names = ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]
    good = [dict(zip(names, r)) for r in rows]
    text = "\n".join([",".join(names)] + [",".join(map(str, r)) for r in rows]) + "\n"

    def call(method, result, key="customers"):
        c = {"key": key, "result": result, "request": {"method": method, "sql": sql}}
        checker.check("sql_requests" if key == "customers" else "op_build", c)
        return c

    assert call("quick", good)["ok"] and call("quickWrite", (len(rows), text))["ok"]
    bad = [dict(good[0], c_acctbal=good[0]["c_acctbal"] + 0.01)] + good[1:]
    assert not call("quick", bad)["ok"]
    assert not call("quick", good[1:])["ok"]
    assert not call("quickWrite", (len(rows), text.replace(",", ";", 3)))["ok"]
    frame = pd.DataFrame({"x": [1, 2]})
    assert call("", frame, key="rows_only")["ok"]
    assert not call("", pd.DataFrame({"x": [1, 3]}), key="rows_only")["ok"]
    failed = {"key": "customers", "error": "boom", "request": {"method": "quick", "sql": sql}}
    checker.check("sql_requests", failed)
    assert failed["ok"] is False

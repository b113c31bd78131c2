import json
import os

from perfbench import run
from perfbench.workloads import WORKLOADS, pass_orders

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def test_every_workload_query_is_in_the_catalog():
    from dask_ml_spark.plans.queries import build_catalog

    queries, _ = build_catalog()
    for w in WORKLOADS.values():
        assert w.queries and len(set(w.queries)) == len(w.queries)
        assert set(w.queries) <= set(queries), w.name


def test_workload_names_carry_their_scale():
    assert all(w.name.endswith("_" + w.scale) for w in WORKLOADS.values())


def test_seed_permutes_each_pass_and_nothing_else():
    w = WORKLOADS["driver_loops_sf0.1"]
    a, b = pass_orders(w, 7), pass_orders(w, 7)
    first = [next(a) for _ in range(10)]
    assert first == [next(b) for _ in range(10)]
    assert all(sorted(order) == sorted(w.queries) for order in first)
    assert len({tuple(order) for order in first}) > 1


def test_benchmark_json_matches_the_metrics_printed():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])

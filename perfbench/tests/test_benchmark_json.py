import json
from pathlib import Path

import run

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_metrics_and_workloads_match_the_runner():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


def test_every_workload_query_has_an_oracle_and_a_layer():
    import sys

    sys.path.insert(0, str(run.ROOT))
    from crossfire_spark.registry import all_oracle_sql, all_queries

    queries, oracles = all_queries(), all_oracle_sql()
    for workload in run.WORKLOADS.values():
        for name in workload.queries:
            assert name in oracles, name
            assert run.layer_of(queries[name]) in run.QUERY_LAYERS

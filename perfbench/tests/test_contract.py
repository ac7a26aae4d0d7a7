"""BENCHMARK.json names exactly what run.py prints."""

import json
import os
import subprocess
import sys

from perfbench import layers, run, workloads

SPEC = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))


def test_metric_lists_match_the_harness():
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == layers.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS) == list(workloads.WORKLOADS)


def test_refuses_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the run fails without a result."""
    os.symlink(run.HERE, tmp_path / "perfbench")
    proc = subprocess.run([sys.executable, str(tmp_path / "perfbench" / "run.py"), "--workload",
                           "audit_interactive", "--seed", "1", "--seconds", "1"],
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0 and proc.stdout == ""


def test_analytics_sample_is_headline_queries_with_oracles():
    import bench
    from rdbms_metadata_manager_spark.registry import all_oracles, all_queries

    queries, oracles = all_queries(), all_oracles()
    for pkg, names in workloads.ANALYTICS_SAMPLE.items():
        for name in names:
            assert name in bench.HEADLINE and name in oracles
            assert queries[name].__module__.split(".")[1] == pkg

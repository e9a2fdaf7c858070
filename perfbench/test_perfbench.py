"""The benchmark's own tests: frozen membership, seeded generators,
metric helpers and the failure exit outside a full checkout.

Run: python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]

import datagen  # noqa: E402
import flowgen  # noqa: E402
import membership  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


def test_query_membership_splits_the_composite():
    from dbt_fal_spark.bench_set import composite_names
    from dbt_fal_spark.registry import all_queries

    sql, udf = set(membership.SQL_QUERIES), set(membership.UDF_QUERIES)
    assert (len(sql), len(udf)) == (62, 21)
    assert not sql & udf
    assert sql | udf == set(composite_names(all_queries()))


def test_stream_membership_is_every_streaming_entry():
    from dbt_fal_spark.registry import all_queries

    assert set(membership.STREAM_QUERIES) == {n for n in all_queries() if n.startswith("st_")}


def _tree(path: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(r, f), path) for r, _, fs in os.walk(path) for f in fs)


def test_flowgen_same_seed_same_files(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    flowgen.generate(7, a, "/data")
    flowgen.generate(7, b, "/data")
    flowgen.generate(8, c, "/data")
    files = _tree(a)
    assert files == _tree(b)
    match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert differ, "another seed should change the project"


def test_flowgen_covers_every_kind(tmp_path):
    import yaml

    desc = flowgen.generate(3, str(tmp_path), "/data")
    kinds = {m["kind"] for m in desc["models"].values()}
    assert kinds == {"view", "table", "incremental", "python", "pandas", "stream"}
    assert len(desc["models"]) == flowgen.N_MODELS
    assert desc["after_scripts"]
    for name in desc["models"]:
        assert (tmp_path / "expected" / f"{name}.sql").is_file()
    schema = yaml.safe_load((tmp_path / "models" / "schema.yml").read_text())
    tests = [next(iter(t)) if isinstance(t, dict) else t
             for m in schema["models"] for c in m.get("columns", []) for t in c["tests"]]
    assert set(tests) == {"unique", "not_null", "accepted_values", "relationships"}
    assert len(tests) == desc["n_tests"]
    incremental = (tmp_path / "models" / "inc_customer_orders.sql").read_text()
    assert "unique_key='customer_id'" in incremental and "is_incremental()" in incremental
    interop = [m for m in schema["models"] if m.get("meta", {}).get("fal", {}).get("interop") == "pandas"]
    assert {m["name"] for m in interop} == {n for n, m in desc["models"].items() if m["kind"] == "pandas"}


def test_flowgen_project_loads(tmp_path):
    from dbt_fal_spark.plans.node_graph import NodeGraph
    from dbt_fal_spark.project.loader import load_project

    desc = flowgen.generate(5, str(tmp_path), "/data")
    manifest = load_project(tmp_path)
    assert {m.name for m in manifest.models.values()} == set(desc["models"])
    assert len(manifest.tests) == desc["n_tests"]
    NodeGraph.from_manifest(manifest)


def test_datagen_is_seeded():
    a, b = datagen.tables(1), datagen.tables(1)
    assert all(a[t].equals(b[t]) for t in a)
    assert not datagen.tables(2)["orders"].equals(a["orders"])
    assert {t: a[t].num_rows for t in datagen.ROWS} == datagen.ROWS
    from dbt_fal_spark.sources.readers import TESTDATA_TABLES

    assert set(a) == set(TESTDATA_TABLES)


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.tail_percentile(62) == 83
    assert run.tail_percentile(80) == 87
    assert run.tail_percentile(21) == 52
    assert run.tail_percentile(10) == 50
    for n in (20, 21, 62, 80, 200):
        p = run.tail_percentile(n)
        assert n * (100 - p) / 100 >= 10


def test_self_time_subtracts_covered_children():
    spans = [
        {"name": "a", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "b", "start": 1.0, "end": 4.0, "parent": 0},
        {"name": "b", "start": 3.0, "end": 6.0, "parent": 0},
        {"name": "b", "start": 3.5, "end": 3.8, "parent": 2},
    ]
    assert tracing.self_times(spans)[0] == pytest.approx(5.0)
    totals = tracing.layer_totals(spans)
    assert totals["b"]["calls"] == 2  # the nested b is not counted twice
    assert totals["b"]["wall_s"] == pytest.approx(6.0)


def test_critical_path_is_the_longest_chain():
    groups = [
        {"id": "a", "wall": 2.0, "deps": []},
        {"id": "b", "wall": 1.0, "deps": ["a"]},
        {"id": "c", "wall": 5.0, "deps": []},
        {"id": "d", "wall": 1.0, "deps": ["b", "c"]},
    ]
    assert tracing.critical_path(groups) == pytest.approx(6.0)


def test_event_windows_attribute_by_time():
    w = tracing.Windows([(1.0, 2.0, "x"), (3.0, 4.0, "y")])
    assert (w.find(1500), w.find(3999), w.find(2500), w.find(None)) == ("x", "y", None, None)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "udf_queries", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_benchmark_json_names_the_runner_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_METRICS
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)

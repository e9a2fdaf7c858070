"""Model writes size their files and count their own rows.

- A small output is one task and one file: the write is the model's
  only Spark job, and its live directory holds one parquet file.
- ``rows_affected`` (``run_results.json`` ``adapter_response``) is the
  row count the write observed, for every kind of model write.
- The one-file rule leaves bucket_by layouts and compact()'s explicit
  target alone.
"""

from __future__ import annotations

import json
import os
import re

from dbt_fal_spark.api import FalSpark
from dbt_fal_spark.materialize import live_version_dir
from dbt_fal_spark.plans import executor


def _project(root, name: str, models: dict[str, str], schema_yml: str = "", fal_yml: str = ""):
    proj = root / name
    (proj / "models").mkdir(parents=True)
    (proj / "dbt_project.yml").write_text(f"name: {name}\n")
    if fal_yml:
        (proj / "fal_project.yml").write_text(fal_yml)
    if schema_yml:
        (proj / "models" / "schema.yml").write_text(schema_yml)
    for fname, body in models.items():
        (proj / "models" / fname).write_text(body)
    return proj


def _parquet_files(path: str) -> list[str]:
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith(("_", ".")))


def _rows_affected(fal: FalSpark) -> dict[str, int]:
    results = json.loads((fal.target_dir / "run_results.json").read_text())["results"]
    return {r["unique_id"].split(".")[-1]: r["adapter_response"].get("rows_affected") for r in results}


def test_small_table_model_is_one_job_and_one_file(spark, tmp_path, monkeypatch):
    """An aggregate of 10 rows is written by one job (no count job after
    it) into one file (not one per shuffle partition)."""
    proj = _project(tmp_path, "one_table", {
        "agg.sql": "SELECT id % 10 AS g, count(*) AS n FROM range(1000) GROUP BY 1",
    })
    spark.sql("DROP DATABASE IF EXISTS one_table CASCADE")
    sc = spark.sparkContext
    group = "one_table_run"
    run_group = executor._run_group

    def tagged(g, context):  # model tasks run on pool threads
        sc.setJobGroup(group, "one-table project run")
        try:
            return run_group(g, context)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(executor, "_run_group", tagged)
    fal = FalSpark(proj, spark=spark)
    assert fal.run(threads=1) == {"model.one_table.agg": "success"}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert len(_parquet_files(live_version_dir(spark, "one_table.agg"))) == 1
    assert _rows_affected(fal) == {"agg": 10}
    spark.sql("DROP DATABASE IF EXISTS one_table CASCADE")


def test_rows_affected_is_the_written_row_count(spark, tmp_path):
    proj = _project(
        tmp_path,
        "rows_proj",
        {
            "tbl.sql": "SELECT id, id % 3 AS g FROM range(50)",
            "inc.sql": (
                "{{ config(materialized='incremental', unique_key='k') }}\n"
                "SELECT id AS k FROM range(20)\n"
                "{% if is_incremental() %} WHERE id >= 15 {% endif %}\n"
            ),
            "py_dbt.py": "def model(dbt, session):\n    return dbt.ref('tbl').filter('g = 0')\n",
            "py_fal.py": "write_to_model(ref('tbl').filter('g = 1'))\n",
            "py_iso.py": "write_to_model(ref('tbl').head(7))\n",
        },
        schema_yml=(
            "models:\n"
            "  - name: tbl\n"
            "    columns:\n"
            "      - name: g\n"
            "        tests:\n"
            "          - accepted_values:\n"
            "              values: [0, 1]\n"
            "              config: {severity: warn, store_failures: true}\n"
            "  - name: py_iso\n"
            "    meta: {fal: {environment: clean}}\n"
        ),
        fal_yml="environments:\n  - name: clean\n    type: venv\n",
    )
    for db in ("rows_proj", "rows_proj_dbt_test__audit"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run(threads=2)
    assert set(statuses.values()) == {"success"}, statuses
    got = _rows_affected(fal)
    want = {m: spark.table(f"rows_proj.{m}").count() for m in ("tbl", "inc", "py_dbt", "py_fal", "py_iso")}
    assert got == want
    assert want == {"tbl": 50, "inc": 20, "py_dbt": 17, "py_fal": 17, "py_iso": 7}

    # incremental rerun: the batch's rows, not the table total
    fal.run(select="inc")
    assert _rows_affected(fal) == {"inc": spark.table("rows_proj.inc").filter("k >= 15").count()} == {"inc": 5}
    assert spark.table("rows_proj.inc").count() == 20

    # store_failures: the violation count is the audit table's row count
    (res,) = fal.test()
    audit = spark.table(f"rows_proj_dbt_test__audit.{res['test']}")
    assert res["violations"] == audit.count() == 16
    for db in ("rows_proj", "rows_proj_dbt_test__audit"):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_one_file_rule_leaves_buckets_and_compact_target(spark, tmp_path):
    """A bucketed model keeps its write parallelism: each bucket's file
    comes from its own task (part-0000i ... _0000i), so there is one file
    per bucket. compact(target_partitions=3) still writes 3 files."""
    proj = _project(tmp_path, "excl_proj", {
        "bkt.sql": (
            "{{ config(materialized='table', bucket_by={'cols': 'k', 'n': 4}) }}\n"
            "SELECT /*+ REPARTITION(4, k) */ id % 100 AS k, id AS v FROM range(1000)"
        ),
        "plain.sql": "SELECT id, id % 3 AS g FROM range(50)",
    })
    spark.sql("DROP DATABASE IF EXISTS excl_proj CASCADE")
    fal = FalSpark(proj, spark=spark)
    statuses = fal.run(threads=2)
    assert set(statuses.values()) == {"success"}, statuses

    files = _parquet_files(live_version_dir(spark, "excl_proj.bkt"))
    task_bucket = [
        tuple(int(x) for x in re.match(r"part-(\d+)-.*_(\d+)\.c000", f).groups()) for f in files
    ]
    assert sorted(task_bucket) == [(0, 0), (1, 1), (2, 2), (3, 3)]

    assert len(_parquet_files(live_version_dir(spark, "excl_proj.plain"))) == 1
    assert fal.compact("plain", target_partitions=3) == 3
    assert len(_parquet_files(live_version_dir(spark, "excl_proj.plain"))) == 3
    assert spark.table("excl_proj.plain").count() == 50
    spark.sql("DROP DATABASE IF EXISTS excl_proj CASCADE")

"""Seeded generator for the ``flow_run`` benchmark project.

``generate(seed, project_dir, data_dir)`` writes a dbt-style project of
``N_MODELS`` models over the benchmark's parquet tables. Every model kind
the flow surface supports appears in it:

- staging views over the sources
- table models (filtered aggregates and joins)
- incremental models with a ``unique_key`` whose incremental branch
  re-merges a seeded slice of keys
- Spark Python models (``def model(dbt, session)``), one of which
  drains a watermarked stream through ``dbt_fal_spark.streaming`` (its
  expected rows are the registry oracle of ``st_hourly_stream``)
- pandas-interop fal models (``meta: {fal: {interop: pandas}}`` and
  ``write_to_model``)
- after-scripts that record the row count of their model
- generic tests (``unique``, ``not_null``, ``accepted_values``,
  ``relationships``)

Beside the models, ``expected/<model>.sql`` holds a DuckDB query giving
the model's expected rows, written against views named after the
models and ``src_<table>`` views over the parquet files. The seed picks
the filters, grouping keys and dependencies; the model count and kinds
are fixed, so every seed builds a project of the same shape. The same
seed writes byte-identical files.
"""

from __future__ import annotations

import json
import os
import random
from collections.abc import Callable
from dataclasses import dataclass, field

PROJECT_NAME = "perfbench_flow"
SOURCE = "raw"
N_MODELS = 40
MARKER_ENV = "PERFBENCH_MARKER_DIR"

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
RETURN_FLAGS = ["A", "N", "R"]

# Staging views: model name -> (source table, select list). Column
# types are kept so the same SQL text runs on Spark and DuckDB.
STAGING = {
    "stg_orders": ("orders", [
        "o_orderkey as order_id", "o_custkey as customer_id",
        "o_orderstatus as status", "cast(o_orderdate as date) as order_date",
        "o_orderpriority as priority",
        "cast(o_totalprice as decimal(18,2)) as order_total",
    ]),
    "stg_customers": ("customer", [
        "c_custkey as customer_id", "c_nationkey as nation_id",
        "c_mktsegment as segment", "cast(c_acctbal as decimal(18,2)) as balance",
    ]),
    "stg_lineitem": ("lineitem", [
        "l_orderkey as order_id", "l_partkey as part_id", "l_suppkey as supplier_id",
        "l_returnflag as return_flag", "l_linestatus as line_status",
        "cast(l_shipdate as date) as ship_date",
        "cast(l_quantity as decimal(18,2)) as quantity",
        "cast(l_extendedprice as decimal(18,2)) * (1 - cast(l_discount as decimal(18,2))) as net_price",
    ]),
    "stg_parts": ("part", [
        "p_partkey as part_id", "p_brand as brand", "p_type as part_type",
        "p_size as size", "cast(p_retailprice as decimal(18,2)) as retail_price",
    ]),
    "stg_suppliers": ("supplier", [
        "s_suppkey as supplier_id", "s_nationkey as nation_id",
        "cast(s_acctbal as decimal(18,2)) as balance",
    ]),
    "stg_nations": ("nation", ["n_nationkey as nation_id", "n_name as nation_name", "n_regionkey as region_id"]),
    "stg_regions": ("region", ["r_regionkey as region_id", "r_name as region_name"]),
}


SOURCE_TABLES = sorted({t for t, _ in STAGING.values()} | {"events"})
STREAM_MODEL = '''from dbt_fal_spark.streaming.windows import (
    hourly_windowed_agg,
    read_events_stream,
    run_stream_to_completion,
)


def model(dbt, session):
    events = read_events_stream(session, DATA_DIR)
    return run_stream_to_completion(hourly_windowed_agg(events))
'''
# the registry entry whose DuckDB oracle gives the stream model's rows
STREAM_ORACLE = "st_hourly_stream"


@dataclass
class Model:
    name: str
    kind: str  # view | table | incremental | python | pandas | stream
    deps: list[str]
    key: str | None = None  # unique, non-null output column (tested)
    render: Callable | None = None  # (ref, source) -> SQL select text
    expected: str = ""  # DuckDB select giving the expected rows
    body: str = ""  # file text for python / pandas models
    tests: list = field(default_factory=list)  # (column, test) pairs
    after_script: bool = False
    inc_filter: str = ""  # incremental-branch predicate


def _money(col: str) -> str:
    return f"cast(sum({col}) as double)"


def _build(rng: random.Random) -> list[Model]:
    models: list[Model] = []
    for name, (table, cols) in STAGING.items():
        select = ",\n    ".join(cols)
        models.append(Model(
            name, "view", [],
            render=lambda ref, src, t=table, s=select: f"select\n    {s}\nfrom {src(t)}",
        ))

    # int_*: aggregate and join tables over staging views
    def agg(name, dep, key, measures, where=None, join=None, key_expr=None):
        key_expr = key_expr or key

        def render(ref, src):
            frm = ref(dep)
            if join:
                other, on = join
                frm = f"{ref(dep)} a join {ref(other)} b on {on}"
            w = f"\nwhere {where}" if where else ""
            ms = ",\n    ".join(measures)
            return f"select\n    {key_expr} as {key},\n    {ms}\nfrom {frm}{w}\ngroup by {key_expr}"

        deps = [dep] + ([join[0]] if join else [])
        return Model(name, "table", deps, key=key, render=render)

    year_lo = rng.randint(1995, 1998)
    models.append(agg(
        "int_orders_by_date", "stg_orders", "order_date",
        ["count(*) as n_orders", _money("order_total") + " as revenue",
         "count(distinct customer_id) as n_customers"],
        where=f"extract(year from order_date) >= {year_lo}",
    ))
    prios = sorted(rng.sample(PRIORITIES, 3))
    models.append(agg(
        "int_orders_by_customer", "stg_orders", "customer_id",
        ["count(*) as n_orders", _money("order_total") + " as revenue",
         "min(order_date) as first_order", "max(order_date) as last_order"],
        where="priority in (" + ", ".join(f"'{p}'" for p in prios) + ")",
    ))
    models.append(agg(
        "int_orders_by_status", "stg_orders", "status",
        ["count(*) as n_orders", _money("order_total") + " as revenue"],
    ))
    models.append(agg(
        "int_orders_by_priority", "stg_orders", "priority",
        ["count(*) as n_orders", "cast(max(order_total) as double) as max_total"],
    ))
    ship_lo = rng.randint(1996, 1999)
    models.append(agg(
        "int_lines_by_order", "stg_lineitem", "order_id",
        ["count(*) as n_lines", _money("net_price") + " as net_revenue",
         _money("quantity") + " as quantity"],
        where=f"extract(year from ship_date) = {ship_lo}",
    ))
    models.append(agg(
        "int_lines_by_part", "stg_lineitem", "part_id",
        ["count(*) as n_lines", _money("net_price") + " as net_revenue"],
        where="return_flag = '" + rng.choice(RETURN_FLAGS) + "'",
    ))
    models.append(agg(
        "int_lines_by_supplier", "stg_lineitem", "supplier_id",
        ["count(*) as n_lines", _money("net_price") + " as net_revenue",
         "count(distinct part_id) as n_parts"],
    ))
    models.append(agg(
        "int_lines_by_month", "stg_lineitem", "ship_month",
        ["count(*) as n_lines", _money("net_price") + " as net_revenue"],
        key_expr="extract(year from ship_date) * 100 + extract(month from ship_date)",
    ))
    models.append(agg(
        "int_lines_by_flag", "stg_lineitem", "return_flag",
        ["count(*) as n_lines", _money("quantity") + " as quantity"],
        where="line_status = '" + rng.choice(["F", "O"]) + "'",
    ))
    models.append(agg(
        "int_customers_by_segment", "stg_customers", "segment",
        ["count(*) as n_customers", _money("balance") + " as balance"],
    ))
    models.append(agg(
        "int_customers_by_nation", "stg_customers", "nation_id",
        ["count(*) as n_customers", _money("balance") + " as balance"],
        where=f"balance > {rng.randint(0, 3000)}",
    ))
    models.append(agg(
        "int_parts_by_brand", "stg_parts", "brand",
        ["count(*) as n_parts", "cast(max(retail_price) as double) as max_price"],
        where=f"size <= {rng.randint(20, 45)}",
    ))
    models.append(agg(
        "int_parts_by_type", "stg_parts", "part_type",
        ["count(*) as n_parts", "cast(min(retail_price) as double) as min_price"],
    ))
    models.append(agg(
        "int_suppliers_by_nation", "stg_suppliers", "nation_id",
        ["count(*) as n_suppliers", _money("balance") + " as balance"],
    ))
    models.append(agg(
        "int_nations_by_region", "stg_nations", "region_id",
        ["count(*) as n_nations"],
    ))
    models.append(agg(
        "int_segment_orders", "stg_orders", "segment",
        ["count(*) as n_orders", _money("a.order_total") + " as revenue"],
        join=("stg_customers", "a.customer_id = b.customer_id"),
        where="a.status = '" + rng.choice(STATUSES) + "'",
        key_expr="b.segment",
    ))
    models.append(agg(
        "int_brand_revenue", "stg_lineitem", "brand",
        ["count(*) as n_lines", _money("a.net_price") + " as net_revenue"],
        join=("stg_parts", "a.part_id = b.part_id"),
        where="b.part_type = '" + rng.choice(PART_TYPES) + "'",
        key_expr="b.brand",
    ))
    # a Spark Python model that drains a watermarked stream through the
    # package's streaming module (micro-batches, state store) into its table
    models.append(Model("py_events_hourly", "stream", [], body=STREAM_MODEL))

    # incremental: per-key aggregates whose incremental branch re-merges
    # the keys in one seeded residue class (an idempotent upsert)
    inc_specs = [
        ("inc_customer_orders", "stg_orders", "customer_id",
         ["count(*) as n_orders", _money("order_total") + " as revenue"]),
        ("inc_part_lines", "stg_lineitem", "part_id",
         ["count(*) as n_lines", _money("net_price") + " as net_revenue"]),
        ("inc_supplier_lines", "stg_lineitem", "supplier_id",
         ["count(*) as n_lines", "max(ship_date) as last_ship"]),
    ]
    for name, dep, key, measures in inc_specs:
        mod = rng.randint(3, 9)
        m = Model(name, "incremental", [dep], key=key,
                  inc_filter=f"{key} % {mod} = {rng.randrange(mod)}")

        def render(ref, src, dep=dep, key=key, measures=measures):
            ms = ",\n    ".join(measures)
            return f"select\n    {key},\n    {ms}\nfrom {ref(dep)}\ngroup by {key}"

        m.render = render
        models.append(m)

    # Spark Python models over int tables
    py_specs = [
        ("py_customer_tiers", "int_orders_by_customer", "n_orders", "revenue"),
        ("py_part_tiers", "int_lines_by_part", "n_lines", "net_revenue"),
        ("py_supplier_tiers", "int_lines_by_supplier", "n_parts", "net_revenue"),
    ]
    for name, dep, bucket_col, measure in py_specs:
        width = rng.randint(2, 5)
        body = (
            "from pyspark.sql import functions as F\n\n\n"
            "def model(dbt, session):\n"
            f"    df = dbt.ref(\"{dep}\")\n"
            "    return (\n"
            f"        df.withColumn(\"tier\", (F.col(\"{bucket_col}\") / {width}).cast(\"bigint\"))\n"
            "        .groupBy(\"tier\")\n"
            "        .agg(\n"
            "            F.count(F.lit(1)).alias(\"n_keys\"),\n"
            f"            F.sum(F.col(\"{measure}\").cast(\"decimal(18,2)\")).cast(\"double\").alias(\"total\"),\n"
            "        )\n"
            "    )\n"
        )
        expected = (
            f"select tier, count(*) as n_keys, cast(sum(cast({measure} as decimal(18,2))) as double) as total\n"
            f"from (select cast(trunc({bucket_col} / {width}) as bigint) as tier, {measure} from {dep})\n"
            "group by tier"
        )
        models.append(Model(name, "python", [dep], key="tier", body=body, expected=expected))

    # pandas-interop fal models over small int tables
    pd_specs = [
        ("pd_month_quarters", "int_lines_by_month", "ship_month", "n_lines", "net_revenue"),
        ("pd_date_years", "int_orders_by_date", "order_date", "n_orders", "revenue"),
    ]
    for name, dep, date_col, count_col, measure in pd_specs:
        if date_col == "ship_month":
            key_py = f"(df[\"{date_col}\"] // 100).astype(\"int64\")"
            key_sql = f"cast({date_col} // 100 as bigint)"
        else:
            key_py = f"pd.to_datetime(df[\"{date_col}\"]).dt.year.astype(\"int64\")"
            key_sql = f"cast(extract(year from {date_col}) as bigint)"
        body = (
            "import pandas as pd\n\n"
            f"df = ref(\"{dep}\")\n"
            f"df[\"year\"] = {key_py}\n"
            "out = df.groupby(\"year\", as_index=False).agg(\n"
            f"    n=(\"{count_col}\", \"sum\"), total=(\"{measure}\", \"sum\")\n"
            ")\n"
            "out[\"n\"] = out[\"n\"].astype(\"int64\")\n"
            "write_to_model(out, mode=\"overwrite\")\n"
        )
        expected = (
            f"select year, cast(sum({count_col}) as bigint) as n, sum({measure}) as total\n"
            f"from (select {key_sql} as year, {count_col}, {measure} from {dep})\n"
            "group by year"
        )
        models.append(Model(name, "pandas", [dep], key="year", body=body, expected=expected))

    # marts: joins of int tables
    def mart(name, left, right, key, cols, how="inner"):
        def render(ref, src):
            sel = ",\n    ".join([f"l.{key}"] + cols)
            return f"select\n    {sel}\nfrom {ref(left)} l\n{how} join {ref(right)} r on l.{key} = r.{key}"

        return Model(name, "table", [left, right], key=key, render=render)

    models.append(mart(
        "mart_customer_value", "inc_customer_orders", "int_orders_by_customer", "customer_id",
        ["l.n_orders as n_orders_all", "l.revenue as revenue_all",
         "r.n_orders as n_orders_sel", "r.revenue as revenue_sel"],
    ))
    models.append(mart(
        "mart_part_value", "inc_part_lines", "int_lines_by_part", "part_id",
        ["l.net_revenue as revenue_all", "coalesce(r.net_revenue, 0) as revenue_flag"], how="left",
    ))
    models.append(mart(
        "mart_supplier_value", "int_lines_by_supplier", "inc_supplier_lines", "supplier_id",
        ["l.n_parts", "r.last_ship"],
    ))
    models.append(mart(
        "mart_nation_supply", "int_suppliers_by_nation", "int_customers_by_nation", "nation_id",
        ["l.n_suppliers", "coalesce(r.n_customers, 0) as n_rich_customers"], how="left",
    ))
    models.append(mart(
        "mart_segment_summary", "int_customers_by_segment", "int_segment_orders", "segment",
        ["l.n_customers", "coalesce(r.n_orders, 0) as n_orders"], how="left",
    ))
    models.append(mart(
        "mart_daily_lines", "int_orders_by_date", "int_orders_by_date", "order_date",
        ["l.n_orders", "l.revenue"],
    ))
    models.append(mart(
        "mart_brand_summary", "int_parts_by_brand", "int_brand_revenue", "brand",
        ["l.n_parts", "coalesce(r.net_revenue, 0) as net_revenue"], how="left",
    ))
    assert len(models) == N_MODELS, len(models)

    tables = [m for m in models if m.kind != "view"]
    for m in rng.sample(tables, 2):
        m.after_script = True
    # a fixed number of each generic test on seeded models, so every
    # seed's test() does the same amount of work
    keyed = [m for m in models if m.kind != "view" and m.key is not None]
    for m in rng.sample(keyed, 5):
        m.tests.append((m.key, "unique"))
    for m in rng.sample(keyed, 3):
        m.tests.append((m.key, "not_null"))
    accepted = {"int_orders_by_status": ("status", STATUSES),
                "int_orders_by_priority": ("priority", PRIORITIES),
                "mart_segment_summary": ("segment", SEGMENTS),
                "int_parts_by_type": ("part_type", PART_TYPES)}
    for m in models:
        if m.name in accepted:
            col, values = accepted[m.name]
            m.tests.append((col, {"accepted_values": {"values": list(values)}}))
    rel = {"mart_customer_value": ("customer_id", "stg_customers"),
           "int_orders_by_customer": ("customer_id", "stg_customers"),
           "mart_part_value": ("part_id", "stg_parts"),
           "mart_supplier_value": ("supplier_id", "stg_suppliers")}
    by_name = {m.name: m for m in models}
    for name in rng.sample(sorted(rel), 2):
        col, to = rel[name]
        by_name[name].tests.append((col, {"relationships": {"to": f"ref('{to}')", "field": col}}))
    return models


def _spark_sql(m: Model) -> str:
    body = m.render(lambda n: "{{ ref('" + n + "') }}", lambda t: "{{ source('" + SOURCE + "', '" + t + "') }}")
    if m.kind == "incremental":
        cfg = f"{{{{ config(materialized='incremental', unique_key='{m.key}') }}}}"
        # the residue filter must precede GROUP BY
        head, tail = body.rsplit("\ngroup by", 1)
        body = f"{head}\n{{% if is_incremental() %}}\nwhere {m.inc_filter}\n{{% endif %}}\ngroup by{tail}"
    else:
        cfg = f"{{{{ config(materialized='{m.kind}') }}}}"
    return f"{cfg}\n\n{body}\n"


def _duckdb_sql(m: Model) -> str:
    if m.expected:
        return m.expected + "\n"
    return m.render(lambda n: n, lambda t: f"src_{t}") + "\n"


def _schema_yml(models: list[Model], data_dir: str) -> dict:
    doc = {
        "sources": [{
            "name": SOURCE,
            "tables": [
                {"name": t, "meta": {"path": os.path.join(data_dir, f"{t}.parquet")}}
                for t in SOURCE_TABLES
            ],
        }],
        "models": [],
    }
    for m in models:
        entry: dict = {"name": m.name}
        meta: dict = {}
        if m.kind == "pandas":
            meta["interop"] = "pandas"
        if m.after_script:
            meta["scripts"] = {"after": ["scripts/after_count.py"]}
        if meta:
            entry["meta"] = {"fal": meta}
        cols: dict[str, list] = {}
        for col, test in m.tests:
            cols.setdefault(col, []).append(test)
        if cols:
            entry["columns"] = [{"name": c, "tests": t} for c, t in cols.items()]
        doc["models"].append(entry)
    return doc


AFTER_SCRIPT = '''"""After-script: record the row count of the model it follows."""

import os

name = context.current_model.name  # noqa: F821 (injected global)
n_rows = ref(name).count()  # noqa: F821
with open(os.path.join(os.environ["{env}"], name + ".txt"), "w") as fh:
    fh.write(str(n_rows))
'''


def generate(seed: int, project_dir: str, data_dir: str) -> dict:
    """Write the project; returns its description (model kinds, table
    models, expected SQL, tests and after-script owners)."""
    import yaml

    rng = random.Random(seed)
    models = _build(rng)
    data_dir = os.path.abspath(data_dir)
    for sub in ("models", "fal_models", "scripts", "expected"):
        os.makedirs(os.path.join(project_dir, sub), exist_ok=True)

    def put(rel: str, text: str) -> None:
        with open(os.path.join(project_dir, rel), "w") as fh:
            fh.write(text)

    put("dbt_project.yml", yaml.safe_dump({
        "name": PROJECT_NAME,
        "model-paths": ["models"],
        "vars": {"fal-models-paths": ["fal_models"]},
    }, sort_keys=True))
    put("models/schema.yml", yaml.safe_dump(_schema_yml(models, data_dir), sort_keys=False))
    put("scripts/after_count.py", AFTER_SCRIPT.replace("{env}", MARKER_ENV))
    for m in models:
        if m.kind == "stream":
            from dbt_fal_spark.registry import all_queries

            m.expected = all_queries()[STREAM_ORACLE].oracle.strip()
        if m.kind in ("python", "stream"):
            put(f"models/{m.name}.py", m.body.replace("DATA_DIR", repr(data_dir)))
        elif m.kind == "pandas":
            put(f"fal_models/{m.name}.py", m.body)
        else:
            put(f"models/{m.name}.sql", _spark_sql(m))
        put(f"expected/{m.name}.sql", _duckdb_sql(m))
    desc = {
        "seed": seed,
        "models": {m.name: {"kind": m.kind, "deps": m.deps} for m in models},
        "tables": [m.name for m in models if m.kind != "view"],
        "after_scripts": sorted(m.name for m in models if m.after_script),
        "n_tests": sum(len(m.tests) for m in models),
    }
    put("expected/project.json", json.dumps(desc, indent=1, sort_keys=True))
    return desc


def duckdb_expected(con, project_dir: str, desc: dict, data_dir: str) -> dict[str, tuple[list, list]]:
    """Run every expected query on DuckDB (``con``). Returns, per table
    model, ``(columns, rows)`` in the row form ``tools/check.py``
    compares."""
    from check import pandas_rows

    data_dir = os.path.abspath(data_dir)
    for t in SOURCE_TABLES:
        con.execute(f"CREATE OR REPLACE VIEW src_{t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    # the registry oracle of the stream model reads a view named events
    con.execute("CREATE OR REPLACE VIEW events AS SELECT * FROM src_events")
    out = {}
    for name in desc["models"]:  # generation order is a topological order
        with open(os.path.join(project_dir, "expected", f"{name}.sql")) as fh:
            con.execute(f"CREATE OR REPLACE VIEW {name} AS {fh.read()}")
    for name in desc["tables"]:
        res = con.execute(f"SELECT * FROM {name}")
        out[name] = ([d[0] for d in res.description], pandas_rows(res.df()))
    return out

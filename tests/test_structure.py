"""Structural locks on module boundaries, checked on the source text.

- ``api.py`` decides nothing about how a relation gets replaced: it calls
  ``materialize.write_table`` and imports no private materialize name.
- Only ``readers.at_scale()`` reads the scale/latency profile; operators
  never key on the AQE flag.
- Scripts, hooks and Python model bodies share one execution path in
  ``api.py``; scripts are not DAG nodes.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "dbt_fal_spark"
API = PKG / "api.py"


def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def _is_materialize_import(node: ast.ImportFrom) -> bool:
    if node.level == 0:
        return node.module == "dbt_fal_spark.materialize"
    return node.level == 1 and node.module == "materialize"


def test_api_imports_no_private_materialize_name():
    private = [
        f"{alias.name} (line {node.lineno})"
        for node in ast.walk(_tree(API))
        if isinstance(node, ast.ImportFrom) and _is_materialize_import(node)
        for alias in node.names
        if alias.name.startswith("_")
    ]
    assert not private, f"api.py imports private materialize names: {private}"


def test_replace_relation_atomic_referenced_only_in_compact():
    """Model writes go through write_table, which picks create or atomic
    replace itself; only compact() calls the swap directly, because it
    needs the optimistic ``expected_token``."""
    tree = _tree(API)
    falspark = next(
        n for n in tree.body if isinstance(n, ast.ClassDef) and n.name == "FalSpark"
    )
    compact = next(
        n for n in falspark.body if isinstance(n, ast.FunctionDef) and n.name == "compact"
    )
    inside = set(range(compact.lineno, compact.end_lineno + 1))
    refs = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and node.id == "replace_relation_atomic":
            refs.append(node.lineno)
        elif isinstance(node, ast.Attribute) and node.attr == "replace_relation_atomic":
            refs.append(node.lineno)
        elif isinstance(node, ast.alias) and node.name == "replace_relation_atomic":
            refs.append(node.lineno)
    assert refs, "compact() no longer calls replace_relation_atomic"
    outside = [line for line in refs if line not in inside]
    assert not outside, f"replace_relation_atomic used outside compact at lines {outside}"


def test_operators_do_not_read_the_aqe_flag():
    """The profile gate is ``readers.at_scale()`` (keyed on
    ``spark.dbt_fal.profile``); AQE is an unrelated tuning flag."""
    offenders = [
        p.name
        for p in sorted((PKG / "operators").glob("*.py"))
        if "spark.sql.adaptive.enabled" in p.read_text()
    ]
    assert not offenders, f"operators read spark.sql.adaptive.enabled: {offenders}"


def test_api_has_one_exec_environment_lookup_and_adapter_response():
    """One in-process ``exec`` for scripts, hooks and Python models, one
    environment lookup for everything isolated, and one place that
    records a model's adapter response."""
    tree = _tree(API)
    calls = [n.func.id for n in ast.walk(tree) if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)]
    assert calls.count("exec") == 1
    assert calls.count("CurrentAdapterResponse") == 1
    env_lookups = [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Subscript)
        and isinstance(n.value, ast.Attribute)
        and n.value.attr == "environments"
    ]
    assert len(env_lookups) == 1, env_lookups


def test_every_graph_node_is_a_manifest_model():
    """Before/after scripts run as their model group's pre/post tasks, so
    the DAG holds exactly the manifest's models."""
    from dbt_fal_spark.plans.node_graph import NodeGraph
    from dbt_fal_spark.project.loader import load_project

    manifest = load_project(Path(__file__).parent / "fixtures" / "jaffle_spark")
    assert any(
        m.get_scripts(before=True) or m.get_scripts(before=False)
        for m in manifest.models.values()
    ), "fixture declares no scripts"
    graph = NodeGraph.from_manifest(manifest).graph
    assert set(graph.nodes) == set(manifest.models)
    assert all(graph.nodes[n]["model"] is manifest.models[n] for n in graph.nodes)

"""Planner unit tests — ported semantics from the reference's planner
suite (reference: projects/adapter/tests/planner/test_schedule.py,
tests/graph/test_selectors.py): priority scoring, failure propagation,
selector operators.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from dbt_fal_spark.plans.node_graph import NodeGraph
from dbt_fal_spark.plans.schedule import FAILURE, SUCCESS, Scheduler, TaskGroup
from dbt_fal_spark.plans.selectors import SelectorPlan, model_checksums, select_nodes
from dbt_fal_spark.project.manifest import DbtModel, Manifest


class _NoopTask:
    def execute(self, context):
        return SUCCESS


def _group(gid, deps=()):
    return TaskGroup(group_id=gid, task=_NoopTask(), dependencies=list(deps))


def _manifest(edges: dict[str, list[str]], tags: dict[str, list[str]] | None = None) -> Manifest:
    m = Manifest(project_name="t", project_dir=Path("."))
    for name, deps in edges.items():
        m.models[f"model.t.{name}"] = DbtModel(
            name=name,
            unique_id=f"model.t.{name}",
            raw_sql="select 1",
            depends_on=[f"model.t.{d}" for d in deps],
            tags=(tags or {}).get(name, []),
        )
    return m


# --- scheduler ---

def test_scheduler_runs_in_dependency_order():
    a, b, c = _group("a"), None, None
    b = _group("b", [a])
    c = _group("c", [b])
    sched = Scheduler([c, b, a])
    order = []
    while not sched.is_done:
        for g in sched.iter_available_groups():
            order.append(g.group_id)
            sched.finish(g, SUCCESS)
    assert order == ["a", "b", "c"]


def test_scheduler_priority_prefers_wider_unblocks():
    # hub unblocks two groups; leaf unblocks none → hub first
    hub, leaf = _group("hub"), _group("leaf")
    d1, d2 = _group("d1", [hub]), _group("d2", [hub])
    sched = Scheduler([leaf, d1, d2, hub])
    first = next(iter(sched.iter_available_groups()))
    assert first.group_id == "hub"


def test_scheduler_failure_skips_transitive_dependents():
    a = _group("a")
    b = _group("b", [a])
    c = _group("c", [b])
    d = _group("d")  # independent
    sched = Scheduler([a, b, c, d])
    for g in sched.iter_available_groups():
        if g.group_id == "a":
            sched.finish(g, FAILURE)
        else:
            sched.finish(g, SUCCESS)
    while not sched.is_done:
        for g in sched.iter_available_groups():
            sched.finish(g, SUCCESS)
    assert a.status == "failure"
    assert b.status == "skipped"
    assert c.status == "skipped"
    assert d.status == "success"


# --- selectors (reference: tests/graph/test_selectors.py semantics) ---

@pytest.fixture
def diamond_graph():
    #   a → b → d
    #   a → c → d → e
    m = _manifest(
        {"a": [], "b": ["a"], "c": ["a"], "d": ["b", "c"], "e": ["d"]},
        tags={"b": ["nightly"], "c": ["nightly"], "e": ["reporting"]},
    )
    return NodeGraph.from_manifest(m)


def _names(nodes):
    return {n.split(".")[-1] for n in nodes}


def test_select_single(diamond_graph):
    assert _names(select_nodes(diamond_graph, "d")) == {"d"}


def test_select_descendants(diamond_graph):
    assert _names(select_nodes(diamond_graph, "b+")) == {"b", "d", "e"}


def test_select_ancestors(diamond_graph):
    assert _names(select_nodes(diamond_graph, "+d")) == {"a", "b", "c", "d"}


def test_select_level_limited(diamond_graph):
    assert _names(select_nodes(diamond_graph, "1+d")) == {"b", "c", "d"}
    assert _names(select_nodes(diamond_graph, "a+1")) == {"a", "b", "c"}


def test_select_both_directions(diamond_graph):
    assert _names(select_nodes(diamond_graph, "+d+")) == {"a", "b", "c", "d", "e"}


def test_select_at_operator(diamond_graph):
    # @b: b + descendants + ancestors of those descendants
    assert _names(select_nodes(diamond_graph, "@b")) == {"a", "b", "c", "d", "e"}


def test_select_tag(diamond_graph):
    assert _names(select_nodes(diamond_graph, "tag:nightly")) == {"b", "c"}


def test_select_union(diamond_graph):
    assert _names(select_nodes(diamond_graph, "b c")) == {"b", "c"}


def test_select_intersection(diamond_graph):
    # comma = intersection of fully expanded components
    # (reference: selectors.py:78-125, tests/graph/test_selectors.py)
    assert _names(select_nodes(diamond_graph, "tag:nightly,b")) == {"b"}
    # each side expands through its own graph ops BEFORE intersecting:
    # (+d) = {a,b,c,d}, (b+) = {b,d,e} → {b,d}
    assert _names(select_nodes(diamond_graph, "+d,b+")) == {"b", "d"}
    # disjoint components intersect to nothing
    assert select_nodes(diamond_graph, "tag:nightly,tag:reporting") == set()
    # intersection composes with union: 'x y,z' = x ∪ (y ∩ z)
    assert _names(select_nodes(diamond_graph, "a tag:nightly,c")) == {"a", "c"}
    # and with --exclude, which supports intersections too
    assert _names(select_nodes(diamond_graph, "+d", exclude="tag:nightly,b")) == {"a", "c", "d"}


def test_select_intersection_with_state(diamond_graph):
    state = {"a": "x", "b": "x", "c": "x", "d": "x", "e": "x"}  # all modified
    got = select_nodes(diamond_graph, "state:modified,tag:nightly", state=state)
    assert _names(got) == {"b", "c"}


def test_select_exclude(diamond_graph):
    assert _names(select_nodes(diamond_graph, "+d", exclude="b")) == {"a", "c", "d"}


def test_script_selector_selects_the_owning_model():
    """Scripts are not graph nodes: a script-name selector matches the
    model whose meta.fal.scripts names the file, and graph operators
    expand from that model."""
    m = _manifest({"a": [], "b": ["a"]})
    m.models["model.t.a"].meta = {
        "fal": {"scripts": {"before": ["scripts/before.py"], "after": ["scripts/after.py"]}}
    }
    g = NodeGraph.from_manifest(m)
    assert select_nodes(g, "scripts/after.py") == {"model.t.a"}
    assert _names(select_nodes(g, "+scripts/after.py")) == {"a"}
    assert _names(select_nodes(g, "scripts/before.py+")) == {"a", "b"}
    assert select_nodes(g, "scripts/other.py") == set()


def test_selector_plan_parse():
    p = SelectorPlan.parse("2+model+3")
    assert p.ancestors and p.ancestor_levels == 2
    assert p.descendants and p.descendant_levels == 3
    assert p.body == "model"
    assert SelectorPlan.parse("@m").at_operator
    assert SelectorPlan.parse("tag:x").is_tag


# --- state: selectors (reference: selectors.py:228-242 state routing) ---

def test_select_state_modified_and_new():
    m = _manifest({"a": [], "b": ["a"], "c": ["b"]})
    g = NodeGraph.from_manifest(m)
    state = model_checksums(m)
    # nothing changed → nothing selected
    assert select_nodes(g, ["state:modified"], state=state) == set()
    # edit b → modified picks exactly b; +state:modified adds descendants
    m.models["model.t.b"].raw_sql = "select 2"
    assert _names(select_nodes(g, ["state:modified"], state=state)) == {"b"}
    assert _names(select_nodes(g, ["state:modified+"], state=state)) == {"b", "c"}
    # b is not NEW (it existed in state)
    assert select_nodes(g, ["state:new"], state=state) == set()
    # add a model → new picks it
    m2 = _manifest({"a": [], "b": ["a"], "c": ["b"], "d": ["c"]})
    g2 = NodeGraph.from_manifest(m2)
    assert _names(select_nodes(g2, ["state:new"], state=state)) == {"d"}
    assert _names(select_nodes(g2, ["state:modified"], state=state)) == {"d"}


def test_state_selector_plan_parse():
    p = SelectorPlan.parse("state:modified")
    assert p.is_state and p.body == "modified"


def test_source_level_path_fallback_joins_table_name(tmp_path):
    """A table without its own path inherits <source_dir>/<table>.parquet,
    never the bare directory (regression: an overwrite write_to_source to
    the bare directory would clobber every sibling table)."""
    from dbt_fal_spark.project.loader import load_project

    (tmp_path / "models").mkdir()
    (tmp_path / "dbt_project.yml").write_text("name: t\n")
    (tmp_path / "models" / "schema.yml").write_text(
        "sources:\n"
        "  - name: s\n"
        "    meta: {path: /data/dir}\n"
        "    tables:\n"
        "      - name: bare\n"
        "      - name: explicit\n"
        "        meta: {path: /data/elsewhere.parquet}\n"
    )
    m = load_project(tmp_path)
    assert m.source_by_name("s", "bare").path == "/data/dir/bare.parquet"
    assert m.source_by_name("s", "explicit").path == "/data/elsewhere.parquet"


def test_fail_fast_skips_later_waves():
    """fail-fast: a failure stops LAUNCHING later scheduling waves — a
    group unlocked after the failure is skipped even though it does not
    depend on the failed group (plain mode runs it). Groups already
    submitted in the same wave still finish (dbt semantics)."""
    from dbt_fal_spark.plans.executor import parallel_executor
    from dbt_fal_spark.plans.schedule import FAILURE, SUCCESS, Scheduler, TaskGroup

    import time as _time

    class T:
        def __init__(self, result, delay=0.0):
            self.result = result
            self.delay = delay
        def execute(self, context):
            _time.sleep(self.delay)
            return self.result

    def build():
        bad = TaskGroup(group_id="bad", task=T(FAILURE))
        # ok outlives bad, so bad's failure is OBSERVED before ok unlocks
        # its dependent — makes the wave ordering deterministic
        ok = TaskGroup(group_id="ok", task=T(SUCCESS, delay=1.0))
        later = TaskGroup(group_id="later", task=T(SUCCESS))
        later.dependencies.append(ok)
        return bad, ok, later

    bad, ok, later = build()
    parallel_executor(Scheduler([bad, ok, later]), {}, threads=2, fail_fast=True)
    assert (bad.status, ok.status, later.status) == ("failure", "success", "skipped")

    bad, ok, later = build()
    parallel_executor(Scheduler([bad, ok, later]), {}, threads=2, fail_fast=False)
    assert (bad.status, ok.status, later.status) == ("failure", "success", "success")

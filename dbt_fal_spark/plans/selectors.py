"""dbt-style node selection language.

Mirrors the reference's selector semantics (reference: projects/adapter/
src/fal/dbt/cli/selectors.py:13-65 plan build, :156-226 SelectorPlan,
:228-242 tag/complex, :294-303 regex ops):

- ``model``           the node itself
- ``+model``          ancestors + node          (``n+model`` = n levels)
- ``model+``          node + descendants        (``model+n`` = n levels)
- ``@model``          node + descendants + ancestors-of-descendants
- ``tag:x``           nodes carrying tag x
- ``script.py``       the model(s) whose ``meta.fal.scripts`` name that
  file (scripts are not graph nodes; they run with their model), so
  ``+after.py`` is the owning model and its ancestors
- ``state:modified`` / ``state:new``  models whose checksum changed / that
  did not exist in the saved state (reference: selectors.py:228-242 routes
  these to dbt's state machinery; here the state is the checksum snapshot
  the last run wrote — see ``model_checksums`` / FalSpark ``target/``)
- space-separated selectors = union; comma-separated = intersection
  (``tag:nightly,state:modified`` = nodes matching BOTH, each component
  fully expanded through its own graph operators before intersecting,
  reference: selectors.py:78-125); ``--exclude`` subtracts.
"""

from __future__ import annotations

import fnmatch
import hashlib
import re
from dataclasses import dataclass

from dbt_fal_spark.plans.node_graph import NodeGraph

OP_PLUS_RE = r"(?P<pre_n>\d*)(?P<pre_plus>\+?)(?P<body>[^+]+?)(?P<post_plus>\+?)(?P<post_n>\d*)$"


def model_checksum(model) -> str:
    """Content checksum of a model's definition (SQL or Python source)."""
    if model.raw_sql is not None:
        body = model.raw_sql
    elif model.python_model is not None:
        body = model.python_model.read_text()
    else:
        body = ""
    return hashlib.md5(body.encode()).hexdigest()


def model_checksums(manifest) -> dict[str, str]:
    """name → checksum for every model, the persistable state snapshot."""
    return {m.name: model_checksum(m) for m in manifest.models.values()}


@dataclass
class SelectorPlan:
    body: str
    ancestors: bool = False
    ancestor_levels: int | None = None
    descendants: bool = False
    descendant_levels: int | None = None
    at_operator: bool = False
    is_tag: bool = False
    is_state: bool = False

    @classmethod
    def parse(cls, raw: str) -> "SelectorPlan":
        at = raw.startswith("@")
        if at:
            return cls(body=raw[1:], at_operator=True, descendants=True)
        m = re.match(OP_PLUS_RE, raw)
        if not m:
            return cls(body=raw)
        body = m.group("body")
        ops = dict(
            ancestors=bool(m.group("pre_plus")),
            ancestor_levels=int(m.group("pre_n")) if m.group("pre_n") else None,
            descendants=bool(m.group("post_plus")),
            descendant_levels=int(m.group("post_n")) if m.group("post_n") else None,
        )
        # graph operators compose with prefixed matchers (dbt semantics:
        # `state:modified+`, `+tag:nightly`)
        if body.startswith("tag:"):
            return cls(body=body[4:], is_tag=True, **ops)
        if body.startswith("state:"):
            return cls(body=body[6:], is_state=True, **ops)
        return cls(body=body, **ops)


def _name_match(name: str, pattern: str) -> bool:
    """dbt selector name matching: plain equality, or fnmatch when the
    pattern carries glob characters (dbt supports `--select staging_*`,
    `tag:night*`)."""
    if "*" in pattern or "?" in pattern or "[" in pattern:
        return fnmatch.fnmatchcase(name, pattern)
    return name == pattern


def _match_nodes(graph: NodeGraph, plan: SelectorPlan, state: dict[str, str] | None = None) -> set[str]:
    out: set[str] = set()
    for node in graph.graph.nodes:
        model = graph.node_attr(node, "model")
        if plan.is_state:
            prior = (state or {}).get(model.name)
            if plan.body == "new":
                changed = prior is None
            else:  # "modified" (dbt semantics: new counts as modified)
                changed = prior is None or prior != model_checksum(model)
            if changed:
                out.add(node)
            continue
        if plan.is_tag:
            if any(_name_match(t, plan.body) for t in (model.tags or [])):
                out.add(node)
            continue
        if any(plan.body in model.get_scripts(before=before) for before in (True, False)):
            out.add(node)
            continue
        short = node.split(".")[-1]
        if _name_match(short, plan.body):
            out.add(node)
            continue
        # path-form selector (dbt `path:` method / bare path terms like
        # models/staging/orders.sql): match the model file's trailing path
        if "/" in plan.body and model.path is not None:
            p = str(model.path)
            if p.endswith("/" + plan.body.lstrip("/")) or fnmatch.fnmatchcase(
                p, "*/" + plan.body.lstrip("/")
            ):
                out.add(node)
    return out


def _eval_component(graph: NodeGraph, raw: str, state: dict[str, str] | None) -> set[str]:
    """One selector component: match + graph-operator expansion."""
    plan = SelectorPlan.parse(raw)
    base = _match_nodes(graph, plan, state)
    expanded = set(base)
    for node in base:
        if plan.ancestors:
            expanded.update(graph.get_predecessors(node, plan.ancestor_levels))
        if plan.descendants:
            expanded.update(graph.get_successors(node, plan.descendant_levels))
        if plan.at_operator:
            for d in graph.get_descendants(node):
                expanded.add(d)
                expanded.update(graph.get_ancestors(d))
    return expanded


def _eval_selector(graph: NodeGraph, raw: str, state: dict[str, str] | None) -> set[str]:
    """One space-delimited selector word; ``a,b`` intersects the fully
    expanded component sets (dbt semantics — `+a,b+` is (+a) ∩ (b+))."""
    out: set[str] | None = None
    for part in raw.split(","):
        if not part:
            continue
        nodes = _eval_component(graph, part, state)
        out = nodes if out is None else out & nodes
    return out or set()


def select_nodes(
    graph: NodeGraph,
    select: list[str] | str | None,
    exclude: list[str] | str | None = None,
    state: dict[str, str] | None = None,
) -> set[str]:
    """Evaluate selectors → node id set. None selects everything.
    ``state`` is the prior name→checksum snapshot for ``state:`` selectors."""
    if select is None or select == [] or select == "":
        selected = set(graph.graph.nodes)
    else:
        if isinstance(select, str):
            select = select.split()
        selected = set()
        for raw in select:
            selected |= _eval_selector(graph, raw, state)
    if exclude:
        if isinstance(exclude, str):
            exclude = exclude.split()
        for raw in exclude:
            selected -= _eval_selector(graph, raw, state)
    return selected

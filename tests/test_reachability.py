"""Every package module and every top-level definition is reached from an
entry root, or is on a short list of what waits to be wired in (``KEEP``)
or what tests compare live code against (``KEEP_DEFS``).

The entry roots are the SPARQL endpoint (``api.service``), the sync
supervisor, the benchmark (``perfbench/*.py``), the tools (``tools/*.py``),
``bench.py`` and the driver contract ``__spark_entry__.py``. The walk goes
from code to code: a module's top-level statements, or one top-level
function or class with its decorators, defaults, bases and body.

- Reaching a module runs its top-level statements and those of its parent
  packages. A top-level decorated definition of a reached module is reached
  with it (the ``@query`` registry).
- Reached code reaches a top-level definition when it names it: an
  identifier in the same module, an import (inside functions too), or an
  attribute or identifier-shaped string that matches a definition of a
  reached module.
- A package ``__init__``'s own ``from .sub import name`` re-exports and its
  ``__all__`` reach nothing: a re-export that nothing imports keeps no code
  alive.

The walk reads source with ``ast`` only, so it neither imports the package
nor starts Spark.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "thymeflow_back_spark"

ROOT_MODULES = (f"{PACKAGE}.api.service", f"{PACKAGE}.supervisor")
ROOT_FILES = ("perfbench/*.py", "tools/*.py", "bench.py", "__spark_entry__.py")

# Modules no entry root reaches yet, kept because the live PKB's reference
# enricher chain (ROADMAP item 1) wires them in. Every definition in them is
# kept too. Delete an entry once it is reached; the guard fails until it is.
KEEP = {
    f"{PACKAGE}.enrichers.events_geocoder": "EventsWithStaysGeocoder stage of the reference chain",
    f"{PACKAGE}.enrichers.location_events": "LocationEvent stage of the reference chain",
    f"{PACKAGE}.sources.files": "file source: the reference FileSynchronizer's eml/ics/vcf/zip/json dispatch",
    f"{PACKAGE}.sources.location_history": "location-history converter feeding the stay enricher",
}

# Top-level definitions no entry root reaches, kept for the reason given.
# The same rule holds: delete an entry once it is reached.
KEEP_DEFS = {
    f"{PACKAGE}.operators.bpe.train_bpe": "driver-side BPE reference the distributed trainer is tested against",
    f"{PACKAGE}.operators.bpe.encode_words": "driver-side BPE encoder the distributed encoder is tested against",
    f"{PACKAGE}.operators.dedup.jaccard_pairs": "exact Jaccard pairs the MinHash-LSH recall is measured against",
    f"{PACKAGE}.operators.coreset.coverage_radius": "k-center coverage radius the coreset's 2-approximation is tested with",
    f"{PACKAGE}.rdf.model.make_quads": "builds quad DataFrames from tuples for store and enricher tests",
    f"{PACKAGE}.operators.cachereg.pinned_count": "test-side view of the cache registry's pins",
    f"{PACKAGE}.operators.heavyhitters.mg_candidates": "test-side view of the Misra-Gries candidate set the heavy-hitter query filters",
    f"{PACKAGE}.operators.html.html_blocks": "test-side view of the block splitter the HTML text extractor runs",
    f"{PACKAGE}.operators.pca.scatter_to_cov": "test-side view: reassembles the exact scatter relation into the covariance tests check",
    f"{PACKAGE}.enrichers.agent_match.agent_match_enricher": "AgentMatch stage of the reference chain (ROADMAP item 1)",
    f"{PACKAGE}.sources.synchronizers.FacebookSynchronizer": "Facebook source of the reference synchronizers (ROADMAP item 1)",
}

_DEF_TYPES = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IDENT = re.compile(r"[A-Za-z_]\w*\Z")


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


MODULES = _package_modules()


@functools.cache
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


@functools.cache
def _defs(module: str) -> dict[str, ast.AST]:
    """The module's top-level functions and classes by name."""
    return {n.name: n for n in _tree(MODULES[module]).body if isinstance(n, _DEF_TYPES)}


def _is_package(name: str) -> bool:
    return MODULES[name].name == "__init__.py"


def _absolute(module: str | None, level: int, here: str | None) -> str:
    """The absolute module a (possibly relative) ``from`` import names."""
    if not level:
        return module or ""
    base = here.split(".") if _is_package(here) else here.split(".")[:-1]
    base = base[: len(base) - (level - 1)]
    return ".".join(base + ([module] if module else []))


def _with_parents(name: str) -> list[tuple[str, None]]:
    parts = name.split(".")
    return [(".".join(parts[:i]), None) for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in MODULES]


def _resolve(module: str, name: str, seen=()) -> list[tuple[str, str | None]]:
    """The code ``from module import name`` reaches: the modules it runs and
    the definition it names, followed through re-exports."""
    if f"{module}.{name}" in MODULES:
        return _with_parents(f"{module}.{name}")
    reached = _with_parents(module)
    if module in MODULES:
        if name in _defs(module):
            reached.append((module, name))
        else:
            for node in _tree(MODULES[module]).body:
                if isinstance(node, ast.ImportFrom) and (module, name) not in seen:
                    src = _absolute(node.module, node.level, module)
                    for alias in node.names:
                        if (alias.asname or alias.name) == name:
                            reached += _resolve(src, alias.name, seen + ((module, name),))
    return reached


def _scan(nodes, here: str | None, reexports: bool):
    """What one piece of code names: the code its imports and same-module
    identifiers reach, and the attribute and string names it uses."""
    reached, names, skip = [], set(), set()
    top = set(map(id, nodes))
    for node in (n for root in nodes for n in ast.walk(root)):
        if id(node) in skip:
            continue
        if isinstance(node, ast.Import):
            for alias in node.names:
                reached += _with_parents(alias.name)
        elif isinstance(node, ast.ImportFrom) and (here or not node.level):
            src = _absolute(node.module, node.level, here)
            if src.split(".")[0] == PACKAGE:
                for alias in node.names:
                    if not (reexports and id(node) in top and f"{src}.{alias.name}" not in MODULES):
                        reached += _resolve(src, alias.name)
        elif isinstance(node, ast.Name):
            if here is not None and node.id in _defs(here):
                reached.append((here, node.id))
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if _IDENT.match(node.value):
                names.add(node.value)
        elif reexports and isinstance(node, ast.Assign) and id(node) in top:
            if any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets):
                skip.update(id(n) for n in ast.walk(node))
    return reached, names


def _unit_code(unit: tuple[str, str | None]):
    module, name = unit
    if name is not None:
        return [_defs(module)[name]], False
    body = [n for n in _tree(MODULES[module]).body if not isinstance(n, _DEF_TYPES)]
    return body, _is_package(module)


@functools.cache
def _walk(with_keep: bool) -> frozenset:
    """Every (module, None) module body and (module, name) definition the
    entry roots reach; with ``KEEP`` and ``KEEP_DEFS`` as extra roots when
    ``with_keep``."""
    todo = [u for root in ROOT_MODULES for u in _with_parents(root)]
    names: set[str] = set()
    for pattern in ROOT_FILES:
        for path in sorted(ROOT.glob(pattern)):
            reached, used = _scan(_tree(path).body, None, False)
            todo += reached
            names |= used
    if with_keep:
        for module in KEEP:
            todo += _with_parents(module) + [(module, n) for n in _defs(module)]
        todo += [tuple(d.rsplit(".", 1)) for d in KEEP_DEFS]
    seen: set = set()
    while todo:
        while todo:
            unit = todo.pop()
            if unit in seen:
                continue
            seen.add(unit)
            module, name = unit
            if name is None:
                todo += _with_parents(module)
                todo += [(module, n) for n, node in _defs(module).items() if node.decorator_list]
            else:
                todo.append((module, None))
            nodes, reexports = _unit_code(unit)
            reached, used = _scan(nodes, module, reexports)
            todo += reached
            names |= used
        todo = [(m, n) for m, n0 in seen if n0 is None
                for n in _defs(m) if n in names and (m, n) not in seen]
    return frozenset(seen)


def reached_modules(with_keep: bool = True) -> set[str]:
    return {m for m, n in _walk(with_keep) if n is None}


def reached_defs(with_keep: bool = True) -> set[str]:
    return {f"{m}.{n}" for m, n in _walk(with_keep) if n is not None}


def all_defs() -> set[str]:
    return {f"{m}.{n}" for m in MODULES for n in _defs(m)}


def test_walk_starts_from_existing_roots():
    assert all(root in MODULES for root in ROOT_MODULES)
    assert all(mod in MODULES for mod in KEEP)
    assert set(KEEP_DEFS) <= all_defs()
    assert len(reached_modules()) > 100


def test_every_module_is_reached_or_kept():
    unreached = sorted(set(MODULES) - reached_modules() - set(KEEP))
    assert not unreached, f"modules no entry root reaches: {unreached}"


def test_kept_modules_are_still_unreached():
    wired = sorted(set(KEEP) & reached_modules(with_keep=False))
    assert not wired, f"now reached; drop from KEEP: {wired}"


def test_every_definition_is_reached_or_kept():
    unreached = sorted(all_defs() - reached_defs())
    assert not unreached, f"definitions no entry root reaches: {unreached}"


def test_kept_definitions_are_still_unreached():
    wired = sorted(set(KEEP_DEFS) & reached_defs(with_keep=False))
    assert not wired, f"now reached; drop from KEEP_DEFS: {wired}"

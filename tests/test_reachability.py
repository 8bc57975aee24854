"""Every package module is reached from an entry root, or is on the short
``KEEP`` list of modules that wait to be wired in.

The entry roots are the SPARQL endpoint (``api.service``), the sync
supervisor, the benchmark (``perfbench/*.py``), the tools (``tools/*.py``),
``bench.py`` and the driver contract ``__spark_entry__.py``. A module is
reached only through an import that names it, or names a definition made
in it; imports inside functions count. A package ``__init__``'s own
``from .sub import name`` re-exports do not reach ``sub``: a re-export that
nothing imports keeps no code alive. The walk reads source with ``ast``
only, so it neither imports the package nor starts Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "thymeflow_back_spark"

ROOT_MODULES = (f"{PACKAGE}.api.service", f"{PACKAGE}.supervisor")
ROOT_FILES = ("perfbench/*.py", "tools/*.py", "bench.py", "__spark_entry__.py")

# Modules no entry root reaches yet, kept because the live PKB's reference
# enricher chain (ROADMAP item 1) wires them in. Delete an entry once it is
# reached; the guard fails until it is.
KEEP = {
    f"{PACKAGE}.enrichers.events_geocoder": "EventsWithStaysGeocoder stage of the reference chain",
    f"{PACKAGE}.enrichers.location_events": "LocationEvent stage of the reference chain",
    f"{PACKAGE}.sources.files": "file source: the reference FileSynchronizer's eml/ics/vcf/zip/json dispatch",
    f"{PACKAGE}.sources.location_history": "location-history converter feeding the stay enricher",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


MODULES = _package_modules()
_TREES: dict[Path, ast.Module] = {}


def _tree(path: Path) -> ast.Module:
    if path not in _TREES:
        _TREES[path] = ast.parse(path.read_text(), str(path))
    return _TREES[path]


def _is_package(name: str) -> bool:
    return MODULES[name].name == "__init__.py"


def _absolute(module: str | None, level: int, here: str) -> str:
    """The absolute module a (possibly relative) ``from`` import names."""
    if not level:
        return module or ""
    base = here.split(".") if _is_package(here) else here.split(".")[:-1]
    base = base[: len(base) - (level - 1)]
    return ".".join(base + ([module] if module else []))


def _with_parents(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)
            if ".".join(parts[:i]) in MODULES]


def _top_level_imports(module: str) -> dict[str, tuple[str, str]]:
    """name -> (absolute source module, name there) for each module-level
    ``from X import name``: where a name the module re-exports is defined."""
    out = {}
    for node in _tree(MODULES[module]).body:
        if isinstance(node, ast.ImportFrom):
            src = _absolute(node.module, node.level, module)
            for alias in node.names:
                out[alias.asname or alias.name] = (src, alias.name)
    return out


def _resolve(module: str, name: str, seen=()) -> list[str]:
    """The modules that ``from module import name`` reaches."""
    if f"{module}.{name}" in MODULES:
        return _with_parents(f"{module}.{name}")
    reached = _with_parents(module)
    src = _top_level_imports(module).get(name) if module in MODULES else None
    if src and src[0] in MODULES and (src[0], src[1]) not in seen:
        reached += _resolve(src[0], src[1], seen + ((module, name),))
    return reached


def _imports(path: Path, here: str | None) -> list[str]:
    """The package modules one file's imports reach."""
    reexport_only = here is not None and _is_package(here)
    top = set(map(id, _tree(path).body))
    reached = []
    for node in ast.walk(_tree(path)):
        if isinstance(node, ast.Import):
            for alias in node.names:
                reached += _with_parents(alias.name)
        elif isinstance(node, ast.ImportFrom):
            src = _absolute(node.module, node.level, here) if here else (node.module or "")
            if src.split(".")[0] != PACKAGE:
                continue
            for alias in node.names:
                if not (reexport_only and id(node) in top and f"{src}.{alias.name}" not in MODULES):
                    reached += _resolve(src, alias.name)
    return reached


def reached_modules() -> set[str]:
    todo = [m for root in ROOT_MODULES for m in _with_parents(root)]
    for pattern in ROOT_FILES:
        for path in sorted(ROOT.glob(pattern)):
            todo += _imports(path, None)
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo += _imports(MODULES[mod], mod)
    return seen


def test_walk_starts_from_existing_roots():
    assert all(root in MODULES for root in ROOT_MODULES)
    assert all(mod in MODULES for mod in KEEP)
    assert len(reached_modules()) > 100


def test_every_module_is_reached_or_kept():
    unreached = sorted(set(MODULES) - reached_modules() - set(KEEP))
    assert not unreached, f"modules no entry root reaches: {unreached}"


def test_kept_modules_are_still_unreached():
    wired = sorted(set(KEEP) & reached_modules())
    assert not wired, f"now reached; drop from KEEP: {wired}"

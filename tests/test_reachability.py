"""Every package module is reachable from the engine's public entries.

An import walk (``ast`` only, no Spark) seeded from the registered
queries under ``plans/``, the package ``__init__`` exports and
``session.py``.  A module nothing imports is an unreached subsystem:
delete it, wire it into an entry, or list it in ``ALLOWED_UNREACHED``
with the reason it stays.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "amazon_lookout_for_equipment_python_sdk_spark"

# module -> why it stays although no entry imports it
ALLOWED_UNREACHED = {
    f"{PKG}.ml.mahalanobis": "multivariate T² monitor (paper domain); "
    "drives docs/examples/condition_monitoring_demo.py",
    f"{PKG}.sources.backfill": "changed-partition recompute on scheduled "
    "re-ingest; drives docs/examples/ingest_pipeline_demo.py",
    f"{PKG}.operators.routing": "plain-vs-twin chooser, to be wired into "
    "the public operator entries",
    f"{PKG}.operators._jpeg": "last piece of the retired media stack; its "
    "four codec tests go with it in the next removal change",
}


def _package_modules() -> dict[str, Path]:
    mods = {}
    for p in (ROOT / PKG).rglob("*.py"):
        name = ".".join(p.relative_to(ROOT).with_suffix("").parts)
        mods[name.removesuffix(".__init__")] = p
    return mods


def _imported(name: str, path: Path, mods: dict[str, Path]) -> set[str]:
    """Package modules ``path`` imports, at any depth of the file
    (function-level lazy imports count), with their parent packages."""
    base = name if path.name == "__init__.py" else name.rpartition(".")[0]
    targets = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            mod = node.module
            if node.level:
                pkg = base
                for _ in range(node.level - 1):
                    pkg = pkg.rpartition(".")[0]
                mod = f"{pkg}.{mod}" if mod else pkg
            targets.add(mod)
            # ``from pkg import submodule``
            targets.update(f"{mod}.{a.name}" for a in node.names)
    found = set()
    for t in targets:
        parts = t.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in mods:
                found.add(prefix)
    return found


@functools.cache
def _walk() -> tuple[dict[str, Path], frozenset[str]]:
    """(every package module, the modules reached from the entries)."""
    mods = _package_modules()
    stack = [m for m in mods if m.startswith(f"{PKG}.plans")]
    stack += [PKG, f"{PKG}.session"]
    seen: set[str] = set()
    while stack:
        m = stack.pop()
        if m not in seen:
            seen.add(m)
            stack.extend(_imported(m, mods[m], mods) - seen)
    return mods, frozenset(seen)


def test_every_package_module_is_reached():
    mods, reached = _walk()
    unreached = set(mods) - reached - set(ALLOWED_UNREACHED)
    assert not unreached, (
        f"modules no query, export or session imports: {sorted(unreached)}; "
        "delete them, wire them into an entry, or allowlist them with a reason"
    )


def test_allowlist_names_live_unreached_modules():
    """A stale allowlist entry (module gone, or now reached) would let a
    future unreached module of the same name slip through unexamined."""
    mods, reached = _walk()
    for name in ALLOWED_UNREACHED:
        assert name in mods, f"allowlisted module {name} no longer exists"
        assert name not in reached, f"{name} is reached now; drop it from the allowlist"

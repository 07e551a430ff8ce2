"""Guard against dead modules: every module of the package must be
imported, transitively, from one of the system's entry points — the query
contract (``__spark_entry__.py``), the KG job (``pipeline.py``,
``streaming.py`` and its spark-submit driver ``submit/main.py``, which
also brings in the ``gen.py`` corpus generator) or the curation cascade
(``datapipe/curation.py``). Pure AST over the source files; no Spark."""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "smartlogic_concordance_transformer_spark"
ENTRY_POINTS = (
    "__spark_entry__",
    "submit.main",
    f"{PKG}.pipeline",
    f"{PKG}.streaming",
    f"{PKG}.datapipe.curation",
)


def _modules() -> dict[str, str]:
    """Dotted module name -> source path, for the package and the two
    top-level entry files."""
    mods = {
        "__spark_entry__": os.path.join(ROOT, "__spark_entry__.py"),
        "submit.main": os.path.join(ROOT, "submit", "main.py"),
    }
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            name = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
            mods[name.removesuffix(".__init__")] = path
    return mods


def _imports(name: str, path: str, mods: dict[str, str]) -> set[str]:
    """Modules a file imports, including the parent packages an import
    initialises (importing ``a.b.c`` runs ``a`` and ``a.b`` too)."""
    is_pkg = path.endswith("__init__.py")
    here = name.split(".") if is_pkg else name.split(".")[:-1]
    targets = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            targets.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = here[: len(here) - (node.level - 1)]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            targets.add(mod)
            # `from pkg import submodule`
            targets.update(f"{mod}.{a.name}" for a in node.names)
    out = set()
    for t in targets:
        parts = t.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out & set(mods)


def test_every_module_is_reachable_from_an_entry_point():
    mods = _modules()
    seen, stack = set(), list(ENTRY_POINTS)
    while stack:
        m = stack.pop()
        if m in seen:
            continue
        seen.add(m)
        stack.extend(_imports(m, mods[m], mods) - seen)
    unreached = sorted(set(mods) - seen)
    assert not unreached, f"modules no entry point imports: {unreached}"

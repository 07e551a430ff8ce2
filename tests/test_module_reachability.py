"""Guard against dead modules: every module of the package must be
imported, transitively, from one of the system's entry points — the query
contract (``__spark_entry__.py``), the KG job (``pipeline.py``,
``streaming.py`` and its spark-submit driver ``submit/main.py``, which
also brings in the ``gen.py`` corpus generator) or the curation cascade
(``datapipe/curation.py``). Then the same per public function and class:
each must be reached by name from those entry points, or sit on an
explicit allow-list with its reason. Pure AST over the source files; no
Spark."""

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


# ---- function-level reachability ------------------------------------------
# The query contract, the KG job and the cascade, as (module, name) roots;
# a module given with name None is an entry file run as a whole. The two
# retired_* roots go once retired_queries() is empty.
FUNCTION_ROOTS = (
    ("__spark_entry__", "queries"),
    ("__spark_entry__", "oracle_sql"),
    ("__spark_entry__", "retired_queries"),
    ("__spark_entry__", "retired_oracle_sql"),
    (f"{PKG}.pipeline", "run_pipeline"),
    (f"{PKG}.datapipe.curation", "pretraining_pipeline"),
    (f"{PKG}.streaming", None),
    ("submit.main", None),
)

_PENDING = "test-only operator, pending deletion (ROADMAP direction 1, last slice)"
# "module.name" (relative to the package) -> why it stays unreached. Each
# entry must still exist and still be unreached, so the list only shrinks;
# what an entry itself uses counts as reached.
ALLOWED_UNREACHED = {
    "io_tables.StageMaterializer": "the cascade's public materialize= hook",
    "session.get_spark": "session factory of bench.py, perfbench/ and tests/conftest.py",
    "datapipe.sketches.distinct_count_estimate": _PENDING,
    "datapipe.sketches.quantile_estimate": _PENDING,
    "datapipe.sketches.heavy_hitters": _PENDING,
    "datapipe.similarity.train_ivf_centroids": _PENDING,
    "datapipe.similarity.lsh_ann_topk": _PENDING,
    "datapipe.similarity.semantic_dedup_pairs": _PENDING,
    "datapipe.similarity.cosine": _PENDING,
    "datapipe.dedup.excise_duplicate_substrings": _PENDING,
    "datapipe.dedup.choose_bands": _PENDING,
    "datapipe.dedup.lsh_collision_prob": _PENDING,
    "datapipe.text.winnowing_fingerprints": _PENDING,
    "datapipe.text.compression_ratio": _PENDING,
    "datapipe.multimodal.frame_sample_plan": _PENDING,
}


def _bindings(tree: ast.Module) -> tuple[dict[str, list[ast.AST]], list[ast.AST]]:
    """Top-level name -> every statement binding it (a decorated def and a
    later reassignment both count), plus the module-level statements that
    bind no name and run on import. Imports are neither: a re-export is
    not a use."""
    binds: dict[str, list[ast.AST]] = {}
    loose = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            binds.setdefault(node.name, []).append(node)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        binds.setdefault(n.id, []).append(node)
        elif not isinstance(node, (ast.Import, ast.ImportFrom)):
            loose.append(node)
    return binds, loose


def _referenced(node: ast.AST) -> set[str]:
    """Every identifier a statement names: ``Name`` ids and ``Attribute``
    attrs, nested functions and classes included."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def unreached_functions(sources: dict[str, str], roots) -> set[tuple[str, str]]:
    """Public top-level functions and classes of ``sources`` (module name
    -> source text) that no root reaches by name. Over-approximates:
    a name reaches every top-level binding of that name in any module."""
    trees = {mod: ast.parse(src) for mod, src in sources.items()}
    binds, stack = {}, []
    for mod, tree in trees.items():
        binds[mod], loose = _bindings(tree)
        stack.extend(loose)
    by_name: dict[str, list[ast.AST]] = {}
    for b in binds.values():
        for name, nodes in b.items():
            by_name.setdefault(name, []).extend(nodes)
    reached_names, seen = set(), set()
    for mod, name in roots:
        if name is None:
            stack.extend(trees[mod].body)
            reached_names.update(binds[mod])
        else:
            stack.extend(binds[mod][name])
            reached_names.add(name)
    while stack:
        node = stack.pop()
        if id(node) in seen:
            continue
        seen.add(id(node))
        for name in _referenced(node) - reached_names:
            reached_names.add(name)
            stack.extend(by_name.get(name, ()))
    return {(mod, name) for mod, name in _public_defs(binds) if name not in reached_names}


def _public_defs(binds: dict[str, dict[str, list[ast.AST]]]) -> set[tuple[str, str]]:
    """(module, name) of every public top-level function and class."""
    return {
        (mod, name)
        for mod, b in binds.items()
        for name, nodes in b.items()
        if not name.startswith("_")
        and any(isinstance(n, (ast.FunctionDef, ast.ClassDef)) for n in nodes)
    }


def test_every_public_function_is_reachable_from_an_entry_point():
    sources = {m: open(p).read() for m, p in _modules().items()}
    allowed = {(f"{PKG}.{k.rsplit('.', 1)[0]}", k.rsplit(".", 1)[1]) for k in ALLOWED_UNREACHED}
    public = _public_defs({m: _bindings(ast.parse(s))[0] for m, s in sources.items()})
    missing = sorted(allowed - public)
    assert not missing, f"allow-listed names that no longer exist: {missing}"
    stale = sorted(allowed - unreached_functions(sources, FUNCTION_ROOTS))
    assert not stale, f"allow-listed names an entry point now reaches: {stale}"
    dead = sorted(
        (m, n)
        for m, n in unreached_functions(sources, FUNCTION_ROOTS + tuple(allowed))
        if m.startswith(PKG)
    )
    assert not dead, f"public functions/classes no entry point reaches: {dead}"


def test_function_reachability_reports_a_planted_unreached_function():
    sources = {
        "pkg.a": (
            "def used():\n    return helper()\n\n"
            "def helper():\n    return 1\n\n"
            "def planted():\n    return helper()\n\n"
            "def wrapped(x):\n    return inner(x)\n\n"
            "wrapped = decorate(wrapped)\n"
        ),
        "pkg.b": "from pkg.a import planted\n\ndef inner(x):\n    return x\n",
        "entry": "import pkg.a as a\n\ndef root():\n    return a.used(), a.wrapped(2)\n",
    }
    # an import of ``planted`` is not a use; the reassigned ``wrapped``
    # keeps its def, so ``inner`` stays reached through it
    assert unreached_functions(sources, [("entry", "root")]) == {("pkg.a", "planted")}

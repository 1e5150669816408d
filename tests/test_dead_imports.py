"""No module-level import in the package or its launchers goes unused,
only the deployment-settings modules read the environment, and every
package module, every public function or class outside ``core/`` and every
option of such a function that a test sets is reached from an entry point,
not from tests alone.

An AST scan over ``x5_ner_spark/**/*.py``, ``__spark_entry__.py``, the
``bench*.py`` and ``kg_submit.py`` launchers and ``tools/*.py``: every name
a module binds with a top-level ``import`` / ``from … import`` must be read
somewhere in that module. ``__init__.py`` files (re-export surfaces),
``from __future__`` imports and names listed in ``__all__`` are exempt.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "x5_ner_spark"
LAUNCHERS = ["__spark_entry__.py", "bench.py", "bench_extra.py", "kg_submit.py"]
# what the engine is run from: the driver contract, the launchers, the tools
# and the benchmark
ENTRY_POINTS = LAUNCHERS + ["tools/*.py", "perfbench/*.py"]
# deployment settings (cores, driver memory, Spark conf overrides); every
# other path choice in the package depends on its input alone
ENV_READERS = {"session.py", "sources/config.py"}


def _top_level_imports(body):
    """Import nodes at module level, including those under a top-level
    ``if`` / ``try`` (never inside a function or class)."""
    for node in body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            yield node
        elif isinstance(node, (ast.If, ast.Try)):
            for block in (node.body, node.orelse, getattr(node, "handlers", []),
                          getattr(node, "finalbody", [])):
                for sub in block:
                    if isinstance(sub, ast.ExceptHandler):
                        yield from _top_level_imports(sub.body)
                    else:
                        yield from _top_level_imports([sub])


def _bound_names(node):
    if isinstance(node, ast.ImportFrom) and node.module == "__future__":
        return
    for alias in node.names:
        if alias.name == "*":
            continue
        if alias.asname:
            yield alias.asname
        elif isinstance(node, ast.Import):
            yield alias.name.split(".")[0]
        else:
            yield alias.name


def _used_names(tree):
    return {node.id for node in ast.walk(tree) if isinstance(node, ast.Name)}


def _is_all(node) -> bool:
    return isinstance(node, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
    )


def _exported(tree):
    for node in tree.body:
        if _is_all(node):
            return set(ast.literal_eval(node.value))
    return set()


def unused_imports(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
    used = _used_names(tree) | _exported(tree)
    return [
        f"{path.relative_to(ROOT)}:{node.lineno} {name}"
        for node in _top_level_imports(tree.body)
        for name in _bound_names(node)
        if name not in used
    ]


def test_no_unused_module_level_imports():
    files = sorted(p for p in PKG.rglob("*.py") if p.name != "__init__.py")
    files += [ROOT / name for name in LAUNCHERS] + sorted((ROOT / "tools").glob("*.py"))
    assert all(p.is_file() for p in files)
    hits = [hit for p in files for hit in unused_imports(p)]
    assert hits == [], "unused imports:\n" + "\n".join(hits)


def _env_reads(tree):
    """Line numbers of ``os.environ`` / ``os.getenv`` references."""
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and node.attr in ("environ", "getenv")
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
        ):
            yield node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module == "os" and any(
            a.name in ("environ", "getenv") for a in node.names
        ):
            yield node.lineno


def test_only_deployment_settings_read_the_environment():
    hits = [
        f"{rel}:{line}"
        for p in sorted(PKG.rglob("*.py"))
        if (rel := p.relative_to(PKG).as_posix()) not in ENV_READERS
        for line in _env_reads(ast.parse(p.read_text(encoding="utf-8")))
    ]
    assert hits == [], "environment reads outside session/config:\n" + "\n".join(hits)


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported_modules(path: Path, modules: dict[str, Path]):
    """Package modules an import anywhere in ``path`` runs: function-level
    and relative imports included, each with its parent packages."""
    package = _module_name(path).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module.split(".") if node.module else []
            if node.level:
                base = package[: len(package) - node.level + 1] + base
            names = [".".join(base)] + [".".join([*base, a.name]) for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                if (m := ".".join(parts[:i])) in modules:
                    yield m


def test_no_package_module_reached_only_by_tests():
    modules = {_module_name(p): p for p in PKG.rglob("*.py")}
    todo = [m for pattern in ENTRY_POINTS for p in sorted(ROOT.glob(pattern))
            for m in _imported_modules(p, modules)]
    reached: set[str] = set()
    while todo:
        m = todo.pop()
        if m not in reached:
            reached.add(m)
            todo.extend(_imported_modules(modules[m], modules))
    unreached = sorted(set(modules) - reached)
    assert unreached == [], "package modules no entry point imports:\n" + "\n".join(unreached)


def _referenced_names(nodes):
    """Every name ``nodes`` may reach by name: identifiers, attributes,
    ``from … import`` names and aliases, and identifier string constants
    (tools look functions up by name, e.g. ``getattr(mod, "run")``)."""
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                yield node.id
            elif isinstance(node, ast.Attribute):
                yield node.attr
            elif isinstance(node, ast.alias):
                yield node.name.split(".")[-1]
                if node.asname:
                    yield node.asname
            elif isinstance(node, ast.Constant) and isinstance(node.value, str) \
                    and node.value.isidentifier():
                yield node.value


def test_no_public_function_reached_only_by_tests():
    """A name-level walk: start from what the entry points name and the
    package's module-level code runs, and close over the bodies of the
    top-level functions and classes those names reach. ``core/`` is the
    oracle layer that tests compare the Spark paths with, so it is exempt;
    private names are exempt as test references (e.g. a dense gradient)."""
    defs: dict[str, list] = {}
    public = []
    todo = [n for pattern in ENTRY_POINTS for p in sorted(ROOT.glob(pattern))
            for n in _referenced_names([ast.parse(p.read_text(encoding="utf-8"))])]
    for p in sorted(PKG.rglob("*.py")):
        tree = ast.parse(p.read_text(encoding="utf-8"))
        rel = p.relative_to(PKG).as_posix()
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append(node)
                if not node.name.startswith("_") and not rel.startswith("core/"):
                    public.append(f"{rel}:{node.name}")
            elif not _is_all(node):  # an export list names, it does not call
                todo.extend(_referenced_names([node]))
    reached: set[str] = set()
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo.extend(_referenced_names(defs.get(name, [])))
    unreached = [f for f in public if f.split(":")[1] not in reached]
    assert unreached == [], "public functions no entry point reaches:\n" + "\n".join(unreached)


# options whose callers are the resume-from-last-round fault recovery of the
# iterative graph operators, exercised by tests that kill and restart a run
RECOVERY_OPTIONS = {
    "connected_components": {"max_iter", "checkpoint_dir", "checkpoint_every",
                             "checkpoint_buckets"},
    "pagerank": {"checkpoint_dir", "checkpoint_every", "checkpoint_buckets"},
}


def _options(path: Path):
    """(function, positional parameter names, options) for each public
    top-level function of ``path``; an option is a parameter with a
    default."""
    for node in ast.parse(path.read_text(encoding="utf-8")).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
                and not node.name.startswith("_"):
            a = node.args
            positional = [x.arg for x in a.posonlyargs + a.args]
            opts = positional[len(positional) - len(a.defaults):] + [
                x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
            yield node.name, positional, opts


def _set_options(path: Path, positional: dict[str, list[list[str]]]):
    """(function, parameter) for every parameter a call in ``path`` passes,
    by keyword or by position. Calls match by name, like the function walk
    (a positional argument counts for every function of that name); a call
    that passes ``*args`` or ``**kwargs`` cannot be resolved and is
    skipped."""
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name not in positional or any(k.arg is None for k in node.keywords) \
                or any(isinstance(x, ast.Starred) for x in node.args):
            continue
        for params in positional[name]:
            for param in params[: len(node.args)]:
                yield name, param
        for k in node.keywords:
            yield name, k.arg


def test_no_option_only_tests_set():
    """Every option of a public function outside ``core/`` that a test sets
    is also set by an entry point or by the package itself: an option only
    tests set selects a path nothing runs. Tests that need another value
    set a module constant instead."""
    positional: dict[str, list[list[str]]] = {}
    options: dict[str, set[str]] = {}
    for p in sorted(PKG.rglob("*.py")):
        if not p.relative_to(PKG).as_posix().startswith("core/"):
            for name, pos, opts in _options(p):
                positional.setdefault(name, []).append(pos)
                options.setdefault(name, set()).update(opts)
    reached = [p for pattern in ENTRY_POINTS for p in sorted(ROOT.glob(pattern))]
    reached += sorted(PKG.rglob("*.py"))
    set_elsewhere = {hit for p in reached for hit in _set_options(p, positional)}
    only_tests = sorted({
        f"{name}({param})"
        for p in sorted((ROOT / "tests").glob("*.py"))
        for name, param in _set_options(p, positional)
        if (name, param) not in set_elsewhere and param in options[name]
        and param not in RECOVERY_OPTIONS.get(name, ())
    })
    assert only_tests == [], "options only tests set:\n" + "\n".join(only_tests)

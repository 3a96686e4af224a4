"""Every avecado_spark module is imported (transitively) from a non-test
entry point, or is pinned below as test-only with a reason. A new module
that nothing reaches fails here instead of growing unnoticed. Likewise
every undecorated top-level function is referenced from some .py file."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
ENTRY_GLOBS = ["__spark_entry__.py", "bench*.py", "jobs/*.py", "perfbench/*.py",
               "avecado_spark/queries.py", "avecado_spark/api.py"]
TEST_ONLY = {
    "avecado_spark.streaming.tiles":
        "blocked by perfbench's encode.phase1 cut, which calls "
        "build_point_tiles(partials_only=True); goes together with "
        "encode.merge_point_partials and partials_only once that cut is "
        "replaced",
}


def _name(path):
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(path, modules):
    pkg = _name(path).split(".")
    if path.name != "__init__.py":
        pkg = pkg[:-1]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = pkg[:len(pkg) + 1 - node.level] if node.level else []
            base = ".".join(base + ([node.module] if node.module else []))
            yield base
            # `from pkg import name` also loads pkg.name if it is a module
            yield from (m for m in (f"{base}.{a.name}" for a in node.names)
                        if m in modules)


def test_every_module_is_reached_or_pinned():
    modules = {_name(p): p for p in ROOT.glob("avecado_spark/**/*.py")}
    todo = [p for g in ENTRY_GLOBS for p in ROOT.glob(g)
            if not p.name.startswith("test_")]
    seen = set()
    while todo:
        for mod in _imports(todo.pop(), modules):
            parts = mod.split(".")
            for i in range(1, len(parts) + 1):  # importing loads parents
                m = ".".join(parts[:i])
                if m in modules and m not in seen:
                    seen.add(m)
                    todo.append(modules[m])
    unreached = set(modules) - seen
    assert unreached == set(TEST_ONLY), (sorted(unreached - set(TEST_ONLY)),
                                         sorted(set(TEST_ONLY) - unreached))


def _referenced_names(tree):
    """Names a module uses as code, each top-level def's uses of its own
    name (recursion) left out."""
    for stmt in tree.body:
        names = set()
        for node in ast.walk(stmt):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            names.discard(stmt.name)
        yield from names


def test_every_function_is_referenced():
    """An undecorated top-level def in avecado_spark/ whose name no .py file
    of the repo (tests included) uses is dead code. Decorated defs register
    themselves (queries, UDFs), so they are exempt. A name is "used" only
    as code (a call, attribute or import), not in a docstring or comment."""
    defs = {}
    for p in ROOT.glob("avecado_spark/**/*.py"):
        for node in ast.parse(p.read_text()).body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not node.decorator_list):
                defs.setdefault(node.name, []).append(_name(p))
    used = set()
    for p in ROOT.rglob("*.py"):
        if ".git" not in p.parts:
            used.update(_referenced_names(ast.parse(p.read_text())))
    dead = sorted(f"{mod}.{name}" for name, mods in defs.items()
                  if name not in used for mod in mods)
    assert not dead, dead

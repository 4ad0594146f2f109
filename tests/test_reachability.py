"""Guards against regrowth, by pure `ast` walks (no JVM):

- every module under wikdict_gen_spark/ is imported, directly or
  transitively, from a production entry point; a module that only its
  own tests import fails here;
- every defaulted parameter of a public function under wikdict_gen_spark/
  is passed by some call in the repo (tests and perfbench/ included);
  one that no caller sets is a constant, not an option;
- the checkpoint storage level is built, and a lineage cut made, in one
  place;
- only the session module reads the ``SPARK_GRAFT_*`` settings, so no
  script grows a private env knob or a second parse of the core count;
- no module under wikdict_gen_spark/ imports ``threading`` or
  ``concurrent.futures``: the pipeline runs its stages on the caller's
  thread, and a side thread needs a measurement before it comes back.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENTRY_POINTS = ["__spark_entry__.py", "wikdict_gen_spark/pipeline.py",
                "perfbench/run.py", "perfbench/worker.py", "scripts/verify_entry.py",
                # no import names it: the JVM launches it by name
                # (spark.python.daemon.module)
                "wikdict_gen_spark/udf_daemon.py"]


def _module(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _path(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _imports(path: Path):
    """Module names one file imports, including function-local imports."""
    package = _module(path)
    if path.name != "__init__.py":
        package = package.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:  # relative: `from .x import y` inside package
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            yield base
            yield from (f"{base}.{a.name}" for a in node.names)


def test_every_package_module_is_reachable():
    seen, todo = set(), [ROOT / p for p in ENTRY_POINTS]
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imports(path):
            # importing a.b.c runs a/__init__ and a/b/__init__ first
            parts = name.split(".")
            todo.extend(p for i in range(1, len(parts) + 1)
                        if (p := _path(".".join(parts[:i]))) is not None)
    package = set((ROOT / "wikdict_gen_spark").rglob("*.py"))
    unreached = sorted(_module(p) for p in package - seen)
    assert not unreached, f"modules no entry point imports: {unreached}"


def _sources():
    return [p for p in ROOT.rglob("*.py")
            if not any(part.startswith(".") for part in p.relative_to(ROOT).parts)]


def _call_name(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _defaulted_params(tree: ast.Module):
    """(function, parameter, positional index or None) of every defaulted
    parameter of a public function or public-class method."""
    def walk(node, in_class):
        for n in ast.iter_child_nodes(node):
            if isinstance(n, ast.ClassDef) and not n.name.startswith("_"):
                yield from walk(n, True)
            elif isinstance(n, ast.FunctionDef) and not n.name.startswith("_"):
                a = n.args
                pos = a.posonlyargs + a.args
                first = len(pos) - len(a.defaults)
                for i in range(first, len(pos)):
                    yield n.name, pos[i].arg, i - in_class
                for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        yield n.name, arg.arg, None
    yield from walk(tree, False)


def test_every_option_has_a_caller():
    trees = {p: ast.parse(p.read_text()) for p in _sources()}
    calls: dict[str, list[ast.Call]] = {}
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and (name := _call_name(node)):
                calls.setdefault(name, []).append(node)

    def passed(fn: str, param: str, index: int | None) -> bool:
        for c in calls.get(fn, []):
            if any(k.arg in (param, None) for k in c.keywords):
                return True  # by keyword, or through **kwargs
            if any(isinstance(a, ast.Starred) for a in c.args):
                return True
            if index is not None and len(c.args) > index:
                return True
        return False

    package = ROOT / "wikdict_gen_spark"
    unset = sorted(
        f"{_module(p)}.{fn}({param})"
        for p, tree in trees.items() if package in p.parents
        for fn, param, index in _defaulted_params(tree)
        if not passed(fn, param, index)
    )
    assert not unset, f"parameters no caller passes: {unset}"


def test_storage_level_built_in_one_place():
    allowed = ROOT / "wikdict_gen_spark" / "operators" / "partitioning.py"
    files = [*(ROOT / "wikdict_gen_spark").rglob("*.py"), ROOT / "__spark_entry__.py"]
    sites = sorted(
        f"{p.relative_to(ROOT)}:{node.lineno} {_call_name(node)}("
        for p in files if p != allowed
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Call)
        and _call_name(node) in ("StorageLevel", "localCheckpoint")
    )
    assert not sites, f"StorageLevel( or localCheckpoint( outside partitioning.py: {sites}"


def test_env_settings_read_only_by_the_session():
    allowed = ROOT / "wikdict_gen_spark" / "session.py"
    exempt = (ROOT / "tests", ROOT / "perfbench")
    readers = sorted(
        str(p.relative_to(ROOT)) for p in _sources()
        if p != allowed and not any(d in p.parents for d in exempt)
        and "SPARK_GRAFT_" in p.read_text()
    )
    assert not readers, f"SPARK_GRAFT_ settings outside session.py: {readers}"


def test_no_package_module_starts_threads():
    banned = ("threading", "concurrent.futures")
    sites = sorted(
        f"{p.relative_to(ROOT)}: {name}"
        for p in (ROOT / "wikdict_gen_spark").rglob("*.py")
        for name in set(_imports(p))
        if any(name == b or name.startswith(f"{b}.") for b in banned)
    )
    assert not sites, f"thread imports under wikdict_gen_spark/: {sites}"

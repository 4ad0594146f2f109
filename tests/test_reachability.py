"""Every module under wikdict_gen_spark/ is imported, directly or
transitively, from a production entry point; a module that only its own
tests import fails here.  Pure `ast` walk, no JVM."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENTRY_POINTS = ["__spark_entry__.py", "wikdict_gen_spark/pipeline.py", "bench.py",
                "bench_extra.py", "scripts/verify_entry.py"]


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

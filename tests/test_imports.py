"""Import resolution without Spark: every relative ``from .x import y``
in the package — module-level or lazily inside a function — must name
a module that exists and defines ``y``. The same holds for every
``from x import y`` in ``tools/`` whose ``x`` is a sibling tool module,
``perfbench`` or the package, and no tool or test imports the retired
``bench`` script. Every package module is reached, by following import
edges, from the driver contract, the benchmark or a tool: a module that
only tests import is dead code.

A lazy import runs only when its one code path does, so a dangling one
(its target moved or deleted) would otherwise fail only in production.
This walks the source with ``ast``; nothing is imported or executed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "real_time_video_streaming_analytics_lakehouse_spark"
TOOLS = ROOT / "tools"


def _module_file(parts: list[str], root: Path = PKG) -> Path | None:
    """Source file of the module ``parts``, relative to ``root``."""
    base = root.joinpath(*parts)
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _bound_names(nodes) -> set[str]:
    """Names a module binds at top level, including inside top-level
    ``if``/``try`` blocks."""
    out: set[str] = set()
    for node in nodes:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            out.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target])
            for tgt in targets:
                out |= {n.id for n in ast.walk(tgt)
                        if isinstance(n, ast.Name)}
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            out |= {(a.asname or a.name).split(".")[0] for a in node.names}
        elif isinstance(node, (ast.If, ast.Try)):
            for block in ("body", "orelse", "finalbody"):
                out |= _bound_names(getattr(node, block, []))
            for h in getattr(node, "handlers", []):
                out |= _bound_names(h.body)
    return out


def _relative_imports():
    """(importing file, line, target module parts, imported name) for
    every relative import in the package."""
    for path in sorted(PKG.rglob("*.py")):
        pkg_parts = list(path.relative_to(PKG).parent.parts)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.ImportFrom) or node.level == 0:
                continue
            up = node.level - 1
            assert up <= len(pkg_parts), (
                f"{path.relative_to(PKG)}:{node.lineno} imports above the "
                f"package root"
            )
            base = pkg_parts[: len(pkg_parts) - up]
            target = base + (node.module.split(".") if node.module else [])
            for alias in node.names:
                yield path, node.lineno, target, alias.name


def test_relative_imports_resolve():
    seen = 0
    missing = []
    for path, line, target, name in _relative_imports():
        seen += 1
        where = f"{path.relative_to(PKG)}:{line}"
        src = _module_file(target)
        if src is None:
            missing.append(f"{where}: no module {'.'.join(target) or '.'}")
            continue
        if name == "*" or _module_file(target + [name]) is not None:
            continue  # star import, or a submodule of a package
        if name not in _bound_names(ast.parse(src.read_text()).body):
            missing.append(
                f"{where}: {'.'.join(target)} does not define {name!r}"
            )
    assert seen > 50  # the walk really found the package's imports
    assert not missing, "\n".join(missing)


def test_lazy_imports_are_walked():
    """The walk reaches imports nested in function bodies, such as the
    streaming sinks' ``from ..operators.util import require_local_dir``."""
    lazy = {
        (".".join(t), n)
        for p, _, t, n in _relative_imports()
        if p.name == "pipelines.py"
    }
    assert ("operators.util", "require_local_dir") in lazy
    assert ("operators.txlog", "TxTable") in lazy


def _tool_imports():
    """(tool file, line, module, imported name, module root) for every
    absolute ``from x import y`` in ``tools/`` whose ``x`` is a sibling
    tool module, ``perfbench`` or the package."""
    siblings = {p.stem for p in TOOLS.glob("*.py")}
    for path in sorted(TOOLS.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.ImportFrom) or node.level:
                continue
            top = node.module.split(".")[0]
            if top in siblings:
                root = TOOLS
            elif top in ("perfbench", PKG.name):
                root = ROOT
            else:
                continue  # stdlib or third party
            for alias in node.names:
                yield path, node.lineno, node.module, alias.name, root


def test_tool_imports_resolve():
    checked = set()
    missing = []
    for path, line, module, name, root in _tool_imports():
        checked.add((path.name, module, name))
        where = f"tools/{path.name}:{line}"
        parts = module.split(".")
        src = _module_file(parts, root)
        if src is None:
            missing.append(f"{where}: no module {module}")
            continue
        if name == "*" or _module_file(parts + [name], root) is not None:
            continue
        if name not in _bound_names(ast.parse(src.read_text()).body):
            missing.append(f"{where}: {module} does not define {name!r}")
    assert not missing, "\n".join(missing)
    # the walk reaches sibling-tool, perfbench and lazy package imports
    assert ("arm_probe.py", "scale_probe", "timed_noop") in checked
    assert ("scale_probe.py", "perfbench.layers", "attribute") in checked
    assert ("stream_anchor.py", PKG.name + ".streaming.pipelines",
            "run_registry_ingest") in checked


def test_nothing_imports_bench():
    """The benchmark is ``perfbench/run.py``; the ``bench`` script it
    replaced is gone, so no tool or test may import it."""
    offenders = []
    for path in sorted([*TOOLS.glob("*.py"), *(ROOT / "tests").glob("*.py")]):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and not node.level:
                mods = [node.module]
            else:
                continue
            if any(m.split(".")[0] == "bench" for m in mods):
                offenders.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert not offenders, offenders


ENTRY_POINTS = (
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    *sorted(TOOLS.glob("*.py")),
)


def _package_imports(tree: ast.AST, pkg_parts: list[str] | None):
    """(target module parts, imported names) for every import of the
    package in ``tree``; relative imports resolve against ``pkg_parts``
    (None outside the package). ``import x.y`` imports no names."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                parts = alias.name.split(".")
                if parts[0] == PKG.name:
                    yield parts[1:], []
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg_parts[: len(pkg_parts) - node.level + 1]
                mod = node.module.split(".") if node.module else []
                yield base + mod, [a.name for a in node.names]
            elif node.module.split(".")[0] == PKG.name:
                yield node.module.split(".")[1:], [a.name for a in node.names]


def _reached_modules() -> set[Path]:
    """Package source files reached from ``ENTRY_POINTS``.

    Importing a module reaches it and every package above it. A package
    ``__init__`` reaches the submodule behind one of its top-level
    ``from .x import name`` re-exports only when an importer asks for
    that name, so a re-export alone keeps nothing alive."""
    reached: set[Path] = set()
    todo: list[tuple[list[str], list[str]]] = []
    for path in ENTRY_POINTS:
        todo += _package_imports(ast.parse(path.read_text(), str(path)), None)
    while todo:
        target, names = todo.pop()
        src = _module_file(target)
        if src is None:
            continue  # a dangling import is the other tests' business
        todo += [(target[:depth], []) for depth in range(len(target))]
        if src.name == "__init__.py":
            body = ast.parse(src.read_text(), str(src)).body
            reexports = [n for n in body
                         if isinstance(n, ast.ImportFrom) and n.level == 1]
            for name in names:
                if _module_file(target + [name]) is not None:
                    todo.append((target + [name], []))
                for node in reexports:
                    if name == "*" or name in {a.name for a in node.names}:
                        todo.append((target + node.module.split("."),
                                     [a.name for a in node.names]))
            tree = ast.Module(
                body=[n for n in body if n not in reexports], type_ignores=[]
            )
        else:
            tree = ast.parse(src.read_text(), str(src))
        if src in reached:
            continue
        reached.add(src)
        todo += _package_imports(tree, list(src.relative_to(PKG).parent.parts))
    return reached


def test_every_package_module_runs_outside_tests():
    """A package module that only tests import is dead code: delete it
    with its tests, or give it a caller in the package, ``perfbench/``
    or ``tools/``."""
    reached = _reached_modules()
    unreached = sorted(
        str(p.relative_to(ROOT)) for p in PKG.rglob("*.py") if p not in reached
    )
    assert PKG / "plans" / "catalog.py" in reached  # the walk got in
    assert not unreached, f"reached from tests only: {unreached}"

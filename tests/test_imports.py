"""Import resolution without Spark: every relative ``from .x import y``
in the package — module-level or lazily inside a function — must name
a module that exists and defines ``y``.

A lazy import runs only when its one code path does, so a dangling one
(its target moved or deleted) would otherwise fail only in production.
This walks the source with ``ast``; nothing is imported or executed.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = (
    Path(__file__).resolve().parents[1]
    / "real_time_video_streaming_analytics_lakehouse_spark"
)


def _module_file(parts: list[str]) -> Path | None:
    """Source file of the package-relative module ``parts``."""
    base = PKG.joinpath(*parts)
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

#!/usr/bin/env python
"""Print the two package line counts every change reports.

* reachable: lines of the ``pypdfocr_spark`` modules reachable by import
  from ``__spark_entry__.py`` and ``pypdfocr_spark/cli.py`` (the product
  surfaces). Imports are read statically with ``ast``, including imports
  inside function bodies, and importing a submodule also counts its
  package ``__init__.py`` files.
* total: lines of every ``.py`` file under ``pypdfocr_spark/``.

Lines are counted like ``wc -l``. Usage::

    python scripts/loc_report.py [repo_root]
"""

from __future__ import annotations

import ast
import json
import sys
from pathlib import Path

PKG = "pypdfocr_spark"
ROOTS = ("__spark_entry__.py", f"{PKG}/cli.py")


def _module_file(root: Path, name: str) -> Path | None:
    base = root.joinpath(*name.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _module_name(root: Path, path: Path) -> str:
    parts = list(path.relative_to(root).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imports(root: Path, path: Path) -> set[str]:
    """Absolute names of every module ``path`` may import."""
    here = _module_name(root, path)
    package = here if path.name == "__init__.py" else here.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = package.split(".")[: len(package.split(".")) - node.level + 1]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            names.add(base)
            # `from pkg import mod` imports the submodule when one exists
            names.update(f"{base}.{a.name}" for a in node.names)
    return names


def reachable_files(root: Path) -> set[Path]:
    seen: set[Path] = set()
    todo = [root / r for r in ROOTS]
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imports(root, path):
            if name != PKG and not name.startswith(PKG + "."):
                continue
            parts = name.split(".")
            # the module itself plus every enclosing package's __init__
            for i in range(1, len(parts) + 1):
                f = _module_file(root, ".".join(parts[:i]))
                if f is not None and f not in seen:
                    todo.append(f)
    return {p for p in seen if p.is_relative_to(root / PKG)}


def _lines(path: Path) -> int:
    return path.read_bytes().count(b"\n")


def main(argv: list[str]) -> int:
    root = Path(argv[1] if len(argv) > 1 else Path(__file__).resolve().parent.parent).resolve()
    reach = reachable_files(root)
    total = sorted((root / PKG).rglob("*.py"))
    print(json.dumps({
        "reachable_lines": sum(_lines(p) for p in reach),
        "reachable_files": len(reach),
        "total_lines": sum(_lines(p) for p in total),
        "total_files": len(total),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

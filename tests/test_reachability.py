"""Every module-level definition in the package is used somewhere:
its name occurs, as a whole word, outside its own definition -- in
the package, the tests, the tools, the perf harness or the root entry
scripts. A name that occurs nowhere else is dead code."""

from __future__ import annotations

import ast
import pathlib
import re
from collections import Counter

import mysql_syncer_clickhouse_spark as pkg

PKG_ROOT = pathlib.Path(pkg.__file__).parent
REPO_ROOT = PKG_ROOT.parent
_WORD = re.compile(r"\w+")


def _defined_names(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [node.name]
    if isinstance(node, ast.Assign):
        return [t.id for t in node.targets if isinstance(t, ast.Name)]
    if isinstance(node, ast.AnnAssign) and isinstance(node.target,
                                                      ast.Name):
        return [node.target.id]
    return []


def test_every_top_level_name_is_used():
    pkg_files = sorted(PKG_ROOT.rglob("*.py"))
    others = [p for d in ("tests", "tools", "perfbench")
              for p in sorted((REPO_ROOT / d).rglob("*.py"))]
    others += [REPO_ROOT / n for n in
               ("bench.py", "scale_probe.py", "__spark_entry__.py")]
    texts = {p: p.read_text() for p in pkg_files + others
             if p.is_file()}
    # whole-word occurrences of every identifier-shaped word
    words = Counter(w for t in texts.values() for w in _WORD.findall(t))
    unused = []
    for path in pkg_files:
        lines = texts[path].splitlines(keepends=True)
        for node in ast.parse(texts[path]).body:
            start = min([node.lineno] + [
                d.lineno for d in getattr(node, "decorator_list", [])])
            own = Counter(_WORD.findall(
                "".join(lines[start - 1:node.end_lineno])))
            for name in _defined_names(node):
                if name.startswith("__") and name.endswith("__"):
                    continue
                if words[name] == own[name]:
                    unused.append(f"{path.relative_to(REPO_ROOT)}:"
                                  f"{node.lineno} {name}")
    assert not unused, "defined but never used:\n" + "\n".join(unused)

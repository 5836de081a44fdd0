"""Guard against dead production code (Spark-free, sub-second).

Every top-level function or class in ``lab3_lakehouse_spark/`` must be
named somewhere in the repo's ``.py`` files outside its own definition:
a call, an import, a registry string, or a test. Decorated defs are
exempt, because a decorator such as ``@query`` registers the body by
side effect and nothing has to name it. A def that fails here is
either dead (delete it) or reached in a way this scan cannot see (name
it where it is reached)."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "lab3_lakehouse_spark"
WORD = re.compile(r"\w+")


def _unreferenced_defs() -> list[str]:
    sources = {p: p.read_text() for p in REPO.rglob("*.py")}
    words = Counter()
    for text in sources.values():
        words.update(WORD.findall(text))
    dead = []
    for path in sorted(PACKAGE.rglob("*.py")):
        text = sources[path]
        lines = text.splitlines(keepends=True)
        for node in ast.parse(text).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.decorator_list:
                continue
            own = "".join(lines[node.lineno - 1 : node.end_lineno])
            if words[node.name] == WORD.findall(own).count(node.name):
                dead.append(f"{path.relative_to(REPO)}:{node.lineno} {node.name}")
    return dead


def test_every_package_def_is_referenced():
    dead = _unreferenced_defs()
    assert not dead, "defs nothing references:\n" + "\n".join(dead)

"""COVERAGE.md names live code, and the package keeps no dead functions.

Two static checks over the source tree (no Spark):

* every ``module.name`` COVERAGE.md cites (``a/b`` continuations
  included, as in ``dedup.exact_duplicates/dedup_exact``) is a top-level
  definition of that ``generative_ner_spark`` module, and something that
  runs it refers to it: ``__spark_entry__.py``, ``jobs/``, ``bench*.py``
  or ``tests/``;
* every top-level package function is referred to somewhere outside its
  own definition.
"""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "generative_ner_spark"
SKIP_DIRS = {".perfbench", "__pycache__", ".git"}


def _py_files(*roots: pathlib.Path) -> list[pathlib.Path]:
    out = []
    for r in roots:
        paths = [r] if r.is_file() else r.rglob("*.py")
        out += [p for p in paths if not SKIP_DIRS & set(p.parts)]
    return out


def _modules() -> dict[str, pathlib.Path]:
    """Package module basename -> file (basenames are unique)."""
    mods = {p.stem: p for p in PKG.rglob("*.py") if p.stem != "__init__"}
    assert len(mods) == sum(
        1 for p in PKG.rglob("*.py") if p.stem != "__init__")
    return mods


def _top_level(path: pathlib.Path) -> dict[str, ast.AST]:
    names = {}
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            names[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [
                node.target]
            names.update((t.id, node) for t in targets
                         if isinstance(t, ast.Name))
    return names


def _cited() -> set[tuple[str, str]]:
    """(module, name) pairs COVERAGE.md cites; ``m.a/b`` cites a and b."""
    mods = _modules()
    text = (ROOT / "COVERAGE.md").read_text()
    cited = set()
    for m in re.finditer(r"\b(\w+)\.(\w+)((?:\s*/\s*\w+)*)", text):
        mod, first, rest = m.groups()
        if mod not in mods or first == "py":
            continue
        for name in [first] + re.findall(r"\w+", rest):
            cited.add((mod, name))
    return cited


def test_coverage_names_resolve_and_are_exercised():
    mods = _modules()
    callers = "\n".join(p.read_text() for p in _py_files(
        ROOT / "__spark_entry__.py", ROOT / "jobs", ROOT / "tests",
        *ROOT.glob("bench*.py")))
    cited = _cited()
    assert cited, "COVERAGE.md cites no module.name"
    bad = sorted(f"{m}.{n} (undefined)" for m, n in cited
                 if n not in _top_level(mods[m]))
    bad += sorted(f"{m}.{n} (no query, job, bench or test refers to it)"
                  for m, n in cited if not re.search(rf"\b{n}\b", callers))
    assert not bad, f"COVERAGE.md cites: {bad}"


def test_every_package_function_is_referenced():
    files = _py_files(ROOT)
    texts = {p: p.read_text() for p in files}
    dead = []
    for path in PKG.rglob("*.py"):
        lines = texts[path].splitlines()
        for name, node in _top_level(path).items():
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            own = "\n".join(lines[:node.lineno - 1] + lines[node.end_lineno:])
            pat = re.compile(rf"\b{name}\b")
            if not any(pat.search(own if p == path else t)
                       for p, t in texts.items()):
                dead.append(f"{path.relative_to(ROOT)}:{name}")
    assert not dead, f"package functions nothing refers to: {dead}"

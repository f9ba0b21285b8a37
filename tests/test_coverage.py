"""COVERAGE.md names live code, and the package holds only code that runs.

Two static checks over the source tree (no Spark):

* every ``module.name`` COVERAGE.md cites (``a/b`` continuations
  included, as in ``triples.write_triples_snapshot/read_triples_snapshot``)
  is a top-level definition of that ``generative_ner_spark`` module, and
  something that runs it refers to it: ``__spark_entry__.py``, ``jobs/``,
  ``bench*.py`` or ``tests/``;
* every top-level package definition (``def``, ``class`` or assignment)
  is reached, through references in code, from what runs —
  ``__spark_entry__.py``, ``jobs/``, ``bench*.py``, ``perfbench/`` and
  ``scripts/`` — or from a COVERAGE.md citation. COVERAGE.md is the one
  list of definitions kept for tests alone; anything else that only tests
  reach is deleted, and what the citations alone keep stays small
  (``CITED_ONLY_MAX_LINES``): a pure oracle belongs under ``tests/`` and
  a second copy of running code is deleted.
"""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "generative_ner_spark"
SKIP_DIRS = {".perfbench", "__pycache__", ".git"}
CITED_ONLY_MAX_LINES = 150


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


def _aliases(tree: ast.AST, mods) -> dict[str, set[tuple[str, str | None]]]:
    """Local name -> what a package import binds it to: ``(module, name)``
    for a definition, ``(module, None)`` for a module."""
    out: dict = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (
                node.level or (node.module or "").startswith(PKG.name)):
            last = (node.module or "").rpartition(".")[2]
            for a in node.names:
                out.setdefault(a.asname or a.name, set()).add(
                    (last, a.name) if last in mods else (a.name, None))
    return out


def _refs(node: ast.AST, mod: str | None, aliases, mods
          ) -> set[tuple[str, str]]:
    """(module, name) pairs ``node``'s code refers to: a bare name (its own
    module's definition, or what it was imported as), ``m.name`` on an
    imported module, and every name a ``from`` import inside ``node``
    binds. Strings, comments and docstrings never count."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out |= aliases.get(n.id, set()) | {(mod, n.id)}
        elif isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
            out |= {(m, n.attr) for m, name in aliases.get(n.value.id, ())
                    if name is None}
        elif isinstance(n, ast.ImportFrom):
            for targets in _aliases(n, mods).values():
                out |= targets
    return out


def _definitions(mods) -> dict:
    """(module, name) -> (node, module, aliases) for every top-level
    package definition: the arguments ``_refs`` walks it with."""
    defs = {}
    for mod, path in mods.items():
        aliases = _aliases(ast.parse(path.read_text()), mods)
        for name, node in _top_level(path).items():
            defs[(mod, name)] = (node, mod, aliases)
    return defs


def _running_roots(mods) -> set[tuple[str, str]]:
    """What the entry points, jobs, benches and scripts refer to."""
    roots = set()
    for path in _py_files(ROOT / "__spark_entry__.py", ROOT / "jobs",
                          ROOT / "perfbench", ROOT / "scripts",
                          *ROOT.glob("bench*.py")):
        tree = ast.parse(path.read_text())
        roots |= _refs(tree, None, _aliases(tree, mods), mods)
    return roots


def _reached(roots, defs, mods) -> set[tuple[str, str]]:
    todo, reached = set(roots), set()
    while todo:
        key = todo.pop()
        if key in defs and key not in reached:
            reached.add(key)
            todo |= _refs(*defs[key], mods)
    return reached


def test_every_definition_is_reached_or_cited():
    mods = _modules()
    defs = _definitions(mods)
    reached = _reached(_running_roots(mods) | _cited(), defs, mods)
    dead = sorted(f"{m}.{n}" for m, n in defs.keys() - reached)
    assert not dead, (
        "package definitions that nothing running reaches and COVERAGE.md "
        f"does not cite (delete them, or cite a reference counterpart): {dead}")


def test_citation_only_code_stays_small():
    """Raw lines of the definitions that only COVERAGE.md citations keep
    alive: the walk above without the citation roots, subtracted."""
    mods = _modules()
    defs = _definitions(mods)
    running = _reached(_running_roots(mods), defs, mods)
    kept = _reached(_running_roots(mods) | _cited(), defs, mods) - running
    lines = {f"{m}.{n}": defs[(m, n)][0].end_lineno - defs[(m, n)][0].lineno
             + 1 for m, n in kept}
    assert sum(lines.values()) <= CITED_ONLY_MAX_LINES, (
        "definitions only COVERAGE.md citations keep alive: move a pure "
        "oracle under tests/, delete a second copy of running code, or "
        f"wire the definition into what runs: {sorted(lines.items())}")

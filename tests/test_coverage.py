"""COVERAGE.md names live code, and the package holds only code that runs.

Static checks over the source tree (no Spark session):

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
  a second copy of running code is deleted;
* every defaulted package parameter that selects a code path (it appears
  in the test of an ``if``, a conditional expression or a ``while``) is
  given a non-default value by some call in running code or in the
  package itself — an option that nothing running sets is a constant
  (``PATH_OPTIONS_UNSET_MAX`` pinned exceptions);
* every call the benchmarks (``perfbench/``, ``bench*.py``) make into
  the package binds to the callee's signature, so a renamed or deleted
  parameter fails here, not only in a traced benchmark run.
"""

from __future__ import annotations

import ast
import importlib
import inspect
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "generative_ner_spark"
SKIP_DIRS = {".perfbench", "__pycache__", ".git"}
CITED_ONLY_MAX_LINES = 150
# the path-selecting options that running code leaves at their default on
# purpose: the two guard out-dicts (adamic_adar, dedup_against_index
# metrics), two caps on outside input (adamic_adar max_apex_degree,
# write_minhash_index max_bucket), connected_components' size switch
# (tests force the other path), link_mentions' dict_broadcast (the
# frozen benchmark passes its default by name), read_triples_snapshot's
# version, and
# triangle_count_approx's validated p
PATH_OPTIONS_UNSET_MAX = 8


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


def _running_files() -> list[pathlib.Path]:
    """The entry points, jobs, benches and scripts: what runs."""
    return _py_files(ROOT / "__spark_entry__.py", ROOT / "jobs",
                     ROOT / "perfbench", ROOT / "scripts",
                     *ROOT.glob("bench*.py"))


def _running_roots(mods) -> set[tuple[str, str]]:
    """What the entry points, jobs, benches and scripts refer to."""
    roots = set()
    for path in _running_files():
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


def _functions(mods) -> dict[str, tuple[ast.FunctionDef, bool]]:
    """``module.qualname`` -> (def node, is a method) for every package
    function, methods and nested functions included."""
    out = {}

    def walk(node, mod, prefix, in_class):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out[f"{mod}.{prefix}{ch.name}"] = (ch, in_class)
                walk(ch, mod, f"{prefix}{ch.name}.", False)
            elif isinstance(ch, ast.ClassDef):
                walk(ch, mod, f"{prefix}{ch.name}.", True)
            else:
                walk(ch, mod, prefix, in_class)

    for mod, path in mods.items():
        walk(ast.parse(path.read_text()), mod, "", False)
    return out


def _defaulted(fn: ast.FunctionDef, method: bool):
    """(name, default node, positional index or None) per defaulted
    parameter; the index counts from the first argument a caller passes
    (a method's ``self``/``cls`` is not passed)."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if method and pos and pos[0].arg in ("self", "cls") else 0
    first = len(pos) - len(a.defaults)
    out = [(arg.arg, d, first + i - skip)
           for i, (arg, d) in enumerate(zip(pos[first:], a.defaults))]
    out += [(arg.arg, d, None)
            for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _selects_path(fn: ast.FunctionDef, name: str) -> bool:
    return any(
        isinstance(n, (ast.If, ast.IfExp, ast.While))
        and any(isinstance(x, ast.Name) and x.id == name
                for x in ast.walk(n.test))
        for n in ast.walk(fn))


def _sets(call: ast.Call, name: str, default: ast.AST, index) -> bool:
    """Whether ``call`` may give parameter ``name`` a non-default value
    (an unpacked ``*args``/``**kwargs`` may give it anything)."""
    if any(isinstance(x, ast.Starred) for x in call.args) or any(
            k.arg is None for k in call.keywords):
        return True
    given = [k.value for k in call.keywords if k.arg == name]
    if index is not None and index < len(call.args):
        given.append(call.args[index])
    return any(ast.dump(v) != ast.dump(default) for v in given)


def _unset_path_options() -> list[str]:
    """Path-selecting defaulted parameters that no call in running code
    or in the package gives a non-default value. A call is matched to a
    function by its bare name alone, which can only over-count callers."""
    mods = _modules()
    calls: dict[str, list[ast.Call]] = {}
    for path in _running_files() + _py_files(PKG):
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Call):
                f = n.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                calls.setdefault(name, []).append(n)
    unset = []
    for qual, (fn, method) in _functions(mods).items():
        for name, default, index in _defaulted(fn, method):
            if _selects_path(fn, name) and not any(
                    _sets(c, name, default, index)
                    for c in calls.get(fn.name, [])):
                unset.append(f"{qual}({name})")
    return sorted(unset)


def test_every_path_option_is_set_by_running_code():
    unset = _unset_path_options()
    assert len(unset) <= PATH_OPTIONS_UNSET_MAX, (
        "path-selecting options that nothing running sets (delete the "
        "option and the path it selects, keeping the default inline, or "
        f"give it a running caller): {unset}")


def _import_name(path: pathlib.Path) -> str:
    return ".".join(path.relative_to(ROOT).with_suffix("").parts)


def test_benchmark_calls_bind_to_package_signatures():
    """Every call ``perfbench/`` and ``bench*.py`` make into the package
    through an imported module or name binds to the callee's current
    signature (``inspect.signature(...).bind``)."""
    mods = _modules()
    bad, n_bound = [], 0
    for path in _py_files(ROOT / "perfbench", *ROOT.glob("bench*.py")):
        tree = ast.parse(path.read_text())
        aliases = _aliases(tree, mods)
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call) or any(
                    isinstance(x, ast.Starred) for x in call.args) or any(
                    k.arg is None for k in call.keywords):
                continue
            f = call.func
            if isinstance(f, ast.Name):
                targets = {t for t in aliases.get(f.id, ()) if t[1]}
            elif isinstance(f, ast.Attribute) and isinstance(f.value,
                                                             ast.Name):
                targets = {(m, f.attr) for m, name in
                           aliases.get(f.value.id, ()) if name is None}
            else:
                continue
            for mod, name in targets:
                if mod not in mods:
                    continue
                obj = getattr(importlib.import_module(
                    _import_name(mods[mod])), name, None)
                where = f"{path.name}:{call.lineno} {mod}.{name}"
                if obj is None:
                    bad.append(f"{where}: not defined")
                    continue
                try:
                    inspect.signature(obj).bind(
                        *call.args, **{k.arg: k.value for k in call.keywords})
                    n_bound += 1
                except TypeError as e:
                    bad.append(f"{where}: {e}")
    assert n_bound, "no benchmark call into the package was found"
    assert not bad, f"benchmark calls that no longer bind: {bad}"

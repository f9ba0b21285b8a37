"""Load the reference's PURE functions at test time for behavior-parity checks.

We do NOT copy reference code into this repo. Instead, tests extract the
stdlib-only function definitions (normalize_answer, parser, parse_output,
regex, conll decoders, eval math) from /root/reference by line-scanning the
source and exec'ing them in a controlled namespace. This gives a byte-parity
oracle to fuzz against: if the reference files change, parity tests re-pin
automatically.

Why line-scanning, not ast.parse of the whole file: the reference targets
Python 3.12 (PEP 701 nested-quote f-strings in the prompt builders,
src/data/preprocessor.py:125); this sandbox runs 3.11, so whole-file parsing
fails. The pure functions we need are 3.11-clean. The reference modules also
can't be imported directly — they import datasets/transformers/torch/wandb
at module top, which aren't installed here (and aren't needed by the pure
functions).
"""

from __future__ import annotations

import functools
import textwrap
from pathlib import Path
from types import SimpleNamespace
from typing import Any, Iterable, Iterator, Optional, Union

import pytest

REF_DIR = Path("/root/reference")

# tests that compare against the reference tree itself (not the in-repo
# kernels) skip, with this reason, where the tree is not checked out
requires_reference = pytest.mark.skipif(
    not REF_DIR.is_dir(),
    reason="reference source tree (reference_oracle.REF_DIR) not present")


def _extract_def(path: Path, name: str) -> str:
    """Source of the (possibly method-level) ``def name`` block, dedented.

    Scans for a line whose stripped form starts with ``def name(``; collects
    until the first subsequent non-blank line at indentation <= the def's.
    Decorators directly above are dropped (we exec plain functions).
    """
    lines = path.read_text().splitlines()
    start = None
    indent = 0
    for i, line in enumerate(lines):
        stripped = line.lstrip()
        if stripped.startswith(f"def {name}("):
            start = i
            indent = len(line) - len(stripped)
            break
    if start is None:
        raise LookupError(f"def {name} not found in {path}")
    end = len(lines)
    for j in range(start + 1, len(lines)):
        line = lines[j]
        if line.strip() and (len(line) - len(line.lstrip())) <= indent:
            end = j
            break
    block = "\n".join(lines[start:end])
    return textwrap.dedent(block)


@functools.lru_cache(maxsize=None)
def reference() -> SimpleNamespace:
    """load_reference(), loaded on first use and shared: importing a test
    module never touches the reference tree."""
    return load_reference()


def load_reference() -> SimpleNamespace:
    """Namespace with the reference's pure functions, exec'd from source."""
    import ast as _ast
    import random as _random
    import re as _re
    import string as _string

    ns: dict[str, Any] = {
        "ast": _ast, "re": _re, "string": _string, "random": _random,
        "Any": Any, "Iterable": Iterable, "Iterator": Iterator,
        "Optional": Optional, "Union": Union,
        # typing names used in reference signatures
        "list": list, "tuple": tuple, "dict": dict,
    }

    pre = REF_DIR / "src/data/preprocessor.py"
    for fn in ("normalize_answer", "parser", "parse_output"):
        exec(_extract_def(pre, fn), ns)

    exec(_extract_def(REF_DIR / "src/gpt/base/utils.py", "regex"), ns)

    ev = REF_DIR / "src/evaluation/eval.py"
    exec(_extract_def(ev, "calculate_metrics"), ns)

    conll = REF_DIR / "scripts/conll2003.py"
    for fn in ("_conll_words_to_text", "_conll_tags_to_spans", "_conll_to_example"):
        exec(_extract_def(conll, fn), ns)

    # reference parse_output is a staticmethod that calls module-level parser;
    # both are now in ns, so the closure resolves.
    return SimpleNamespace(**{k: v for k, v in ns.items() if not k.startswith("__")})

"""Every top-level public function and class of the product package and the
jobs has a reference: a call, an import or a test somewhere in the repo.

A name counts as referenced when it appears, as a whole word, anywhere in
the repo's ``*.py`` files outside its own ``def``/``class`` line — in
another module, in a test, or in its own module (a helper the module's
other code calls). There is no allowlist: a name nothing uses is deleted.
"""

import ast
import os
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCANNED = ("osmquadtree_bin_spark", "jobs")


def _py_files():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                yield Path(root) / f


def _public_defs(path: Path):
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.name.startswith("_"):
                yield node.name


def test_no_unreferenced_public_names():
    texts = {p: p.read_text() for p in _py_files()}
    orphans = []
    for path in sorted(texts):
        if path.relative_to(REPO).parts[0] not in SCANNED:
            continue
        for name in _public_defs(path):
            word = re.compile(rf"\b{re.escape(name)}\b")
            # the definition itself is one match
            if sum(len(word.findall(t)) for t in texts.values()) < 2:
                orphans.append(f"{path.relative_to(REPO)}::{name}")
    assert not orphans, f"public names nothing references: {orphans}"

"""Every product module has a shipped caller, and every module-level name of
the product package and the jobs is used by shipped code.

The shipped entry points are ``__spark_entry__.py``, ``bench.py`` and the
``*.py`` files of ``jobs/``, ``tools/`` and ``perfbench/`` (its
``test_*.py`` aside). An AST walk of their imports, at any depth of the
file and with relative imports resolved, must reach every module under
``osmquadtree_bin_spark/``.

A module-level function, class or ``_private`` variable of
``osmquadtree_bin_spark/`` or ``jobs/`` counts as used when a shipped file
(any ``*.py`` outside ``tests/`` that is not a ``test_*.py`` or
``conftest.py``) references it in its AST: a name or attribute that is
read, an imported name, or a whole word of a string constant that is not a
docstring (``getattr`` and the tracer's wrap list name functions in
strings). A mention in a docstring or a comment is not a use. A name only
a test uses is deleted, or moved into ``tests/`` if it is a test helper.

No module or class body of those files defines a function or class name
twice: the later definition silently replaces the earlier one, leaving it
dead (a property's ``@x.setter`` is the one allowed repeat).

Keep list (``KEEP``): ``operators/knn.py`` and ``operators/skew.py``. The
``BASELINE.json`` north rule names kNN lookups and explicit skew handling
on hot tiles, so they stay with their unit tests; neither gets a shipped
caller until a measurement shows that one pays (ROADMAP Direction 4's
fan-out estimate would be that measurement). Both checks skip them.
"""

import ast
import os
import re
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = "osmquadtree_bin_spark"
SCANNED = (PACKAGE, "jobs")
KEEP = {
    f"{PACKAGE}/operators/knn.py": "north rule kNN; no measured shipped caller",
    f"{PACKAGE}/operators/skew.py": "north rule skew salting; no measured shipped caller",
}


def _py_files():
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if not d.startswith(".") and d != "__pycache__"]
        for f in files:
            if f.endswith(".py"):
                yield Path(root) / f


def _is_test(path: Path) -> bool:
    rel = path.relative_to(REPO)
    return rel.parts[0] == "tests" or rel.name.startswith("test_") or rel.name == "conftest.py"


def _rel(path: Path) -> str:
    return path.relative_to(REPO).as_posix()


def _module_file(dotted: str) -> Path | None:
    base = REPO.joinpath(*dotted.split("."))
    for candidate in (base.with_suffix(".py"), base / "__init__.py"):
        if candidate.is_file():
            return candidate
    return None


def _imported(path: Path):
    """Dotted names a file imports; ``from m import n`` yields ``m`` and
    ``m.n`` (``n`` may be a submodule)."""
    package = list(path.relative_to(REPO).parts[:-1])
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package[: len(package) - node.level + 1] if node.level else []
            module = ".".join(base + ([node.module] if node.module else []))
            yield module
            yield from (f"{module}.{a.name}" for a in node.names)


def _entry_points():
    yield REPO / "__spark_entry__.py"
    yield REPO / "bench.py"
    for d in ("jobs", "tools", "perfbench"):
        yield from (p for p in sorted((REPO / d).glob("*.py")) if not _is_test(p))


def _reached() -> set[Path]:
    seen, todo = set(), list(_entry_points())
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for dotted in _imported(path):
            parts = dotted.split(".")
            # importing a.b.c runs a/__init__.py and a/b/__init__.py too
            for i in range(1, len(parts) + 1):
                found = _module_file(".".join(parts[:i]))
                if found is not None and found not in seen:
                    todo.append(found)
    return seen


def _module_level_names(path: Path):
    """Functions and classes; of the variables, only ``_private`` ones."""
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name) and t.id.startswith("_") and not t.id.startswith("__"):
                    yield t.id


def _references(path: Path) -> Counter:
    """Names a file uses: read names and attributes, imported names and
    the words of its non-docstring string constants."""
    tree = ast.parse(path.read_text())
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
        and isinstance(node.body[0].value.value, str)
    }
    refs: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs[node.name.rsplit(".", 1)[-1]] += 1
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and id(node) not in docstrings):
            refs.update(re.findall(r"\w+", node.value))
    return refs


def _orphans(private: bool) -> list[str]:
    used = sum((_references(p) for p in _py_files() if not _is_test(p)), Counter())
    orphans = []
    for path in sorted(_py_files()):
        if path.relative_to(REPO).parts[0] not in SCANNED or _rel(path) in KEEP:
            continue
        for name in _module_level_names(path):
            if name.startswith("_") == private and not used[name]:
                orphans.append(f"{_rel(path)}::{name}")
    return orphans


def test_every_module_reached_from_shipped_entry_points():
    reached = _reached()
    unreached = sorted(
        _rel(p)
        for p in (REPO / PACKAGE).rglob("*.py")
        if "__pycache__" not in p.parts and p not in reached and _rel(p) not in KEEP
    )
    assert not unreached, f"modules no shipped entry point imports: {unreached}"


def test_no_unreferenced_public_names():
    orphans = _orphans(private=False)
    assert not orphans, f"public names no shipped code references: {orphans}"


def test_no_unreferenced_private_names():
    orphans = _orphans(private=True)
    assert not orphans, f"private names no shipped code references: {orphans}"


def _redefined(path: Path):
    """``qualname`` of each function or class a module or class body
    defines again; a property setter or deleter is no redefinition."""

    def redefines(node) -> bool:
        return not any(
            isinstance(d, ast.Attribute) and d.attr in ("setter", "deleter")
            for d in getattr(node, "decorator_list", [])
        )

    bodies = [("", ast.parse(path.read_text()))]
    while bodies:
        prefix, owner = bodies.pop()
        seen = set()
        for node in owner.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if node.name in seen and redefines(node):
                yield f"{_rel(path)}::{prefix}{node.name}"
            seen.add(node.name)
            if isinstance(node, ast.ClassDef):
                bodies.append((f"{prefix}{node.name}.", node))


def test_no_name_defined_twice_in_one_body():
    twice = [
        name
        for path in sorted(_py_files())
        if path.relative_to(REPO).parts[0] in SCANNED
        for name in _redefined(path)
    ]
    assert not twice, f"names a later definition in the same body replaces: {twice}"

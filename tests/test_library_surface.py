"""The package keeps only what runs: every public top-level function and
class in ``sparkbigdatatextanalysis_spark/`` has a code reference (a
Name, an Attribute or an import) somewhere outside ``tests/`` -- in
another package module, ``__spark_entry__.py``, ``bench.py``,
``perfbench/`` or ``tools/``. A name that only tests call is either
deleted, moved into the tests as the reference they check against, or
listed in ``ALLOWLIST`` with the reason it stays.

Mentions in docstrings and comments are not references, and neither are
the package ``__init__`` re-exports."""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = REPO / "sparkbigdatatextanalysis_spark"

ALLOWLIST = {
    "read_catalog_csv": "the only reader of the reference pipeline's "
    "catalog CSVs; the reference goldens run through it",
    "read_gold_pairs_csv": "the only reader of the reference pipeline's "
    "gold-pair CSV; the reference goldens run through it",
    "audit_plan": "the instrument of the plan-budget tests",
}


def _public_defs() -> dict[str, str]:
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not node.name.startswith("_"):
                out[node.name] = f"{path.relative_to(REPO)}:{node.lineno}"
    return out


def _references_outside_tests() -> set[str]:
    names: set[str] = set()
    for path in REPO.rglob("*.py"):
        rel = path.relative_to(REPO)
        if rel.parts[0] == "tests" or rel.parts[0].startswith("."):
            continue
        if path.name == "__init__.py" and PKG in path.parents:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_every_public_name_has_a_caller_outside_tests():
    refs = _references_outside_tests()
    orphans = {
        name: where
        for name, where in _public_defs().items()
        if name not in refs and name not in ALLOWLIST
    }
    assert not orphans, (
        "public names that only tests call -- delete them, move them into "
        f"tests/ as a reference, or allowlist them with a reason: {orphans}"
    )


def test_allowlist_is_current_and_explained():
    defs = _public_defs()
    refs = _references_outside_tests()
    for name, reason in ALLOWLIST.items():
        assert reason.strip(), name
        assert name in defs, f"{name} is allowlisted but no longer defined"
        assert name not in refs, f"{name} has a caller now; drop it from ALLOWLIST"

"""Every top-level definition in the package has a non-test reader.

A function, class or constant that only `tests/` calls is a twin of the
production path: the test pins the twin, not what the pipeline runs. The
guard parses every non-test `.py` file (the package, `__spark_entry__.py`,
`bench*.py`, `tools/`, `kgbench/`) and requires each top-level package
name to appear there as a Name, an Attribute or an import. The allowlist
names the definitions kept for tests on purpose, each with its reason.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "serimi_rdf_interlinking_spark"

ALLOWED = {
    # the reproduction's Ruby-parity kernels, pinned by the JAR goldens
    "simm_needleman_wunch",
    "simm_smith_waterman",
    "simm_monge_elkan",
    "ref_jarowinkler_similar",
    "dice",
    "max_jaro",
    "fmeasure",
    # scalar references the Column twins (functions/columns.py) are
    # tested against
    "valid_date",
    "is_numericish",
    "is_pure_number",
    # the reference's evaluation harness (P/R, sameAs audit, gold reader)
    "evaluate_alignment",
    "sameas_audit",
    "recall_diagnosis",
    "read_gold_alignments",
    # the promotion-divergence fixture the sequential-mode tests run on
    "build_promotion_divergence_fixture",
}


def _non_test_sources() -> list[Path]:
    files = [REPO / "__spark_entry__.py", *REPO.glob("bench*.py")]
    for d in (PACKAGE, REPO / "tools", REPO / "kgbench"):
        files += d.rglob("*.py")
    return [f for f in files if not f.name.startswith("test_")]


def _referenced_names() -> set[str]:
    refs: set[str] = set()
    for f in _non_test_sources():
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
                refs.add(node.id)
            elif isinstance(node, ast.Attribute):
                refs.add(node.attr)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                refs.update(a.name.rpartition(".")[2] for a in node.names)
    return refs


def _top_level_names(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.lineno, node.name
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    yield node.lineno, t.id
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            yield node.lineno, node.target.id


def test_every_package_definition_has_a_non_test_reader():
    read = _referenced_names() | ALLOWED
    defs = [
        (f"{f.relative_to(REPO)}:{line}", name)
        for f in sorted(PACKAGE.rglob("*.py"))
        for line, name in _top_level_names(ast.parse(f.read_text()))
    ]
    unread = [
        f"{where} {name}"
        for where, name in defs
        if name not in read and not (name.startswith("__") and name.endswith("__"))
    ]
    assert not unread, "read only by tests:\n" + "\n".join(unread)
    # every allowlist entry still names a package definition
    assert ALLOWED <= {name for _where, name in defs}


def test_every_config_field_is_set_by_a_non_test_caller():
    """A `SerimiConfig` field that no non-test `SerimiConfig(...)` call
    sets is a knob only tests turn: it belongs beside its reader as a
    module constant, which tests monkeypatch."""
    from dataclasses import fields

    from serimi_rdf_interlinking_spark.config import SerimiConfig

    set_by_callers: set[str] = set()
    for f in _non_test_sources():
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.Call) and (
                getattr(node.func, "id", None) == "SerimiConfig"
                or getattr(node.func, "attr", None) == "SerimiConfig"
            ):
                set_by_callers.update(k.arg for k in node.keywords)
    unset = sorted({f.name for f in fields(SerimiConfig)} - set_by_callers)
    assert not unset, "SerimiConfig fields no non-test caller sets: " + ", ".join(unset)

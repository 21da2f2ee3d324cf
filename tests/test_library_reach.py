"""Every top-level library def is reached from the running system or from a
reference-parity test, and no module imports or assigns a name it never uses.

Static (AST only), no Spark. Roots: the scripts, ``bench.py``,
``__spark_entry__.py`` and ``perfbench/``; the module-level code of every
library module (the ``QUERIES``/``ORACLES`` registries); and the
reference-parity and golden test files. From the roots, the names a reached
def uses in code reach every def of that name, to a fixpoint. Only code
identifiers count — ``ast.Name`` ids, ``ast.Attribute`` attrs and imported
names — so a def that a docstring, comment or string merely mentions is not
reached. A def that nothing reaches is dead code — unless it is the
reference that a named test replays, which ``KEEP`` records.

Run ``python tests/test_library_reach.py`` to print the unreached defs and
the unused module names.
"""

from __future__ import annotations

import ast
from functools import cache
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
LIBRARY = ROOT / "logdata_anomaly_miner_spark"
TESTS = ROOT / "tests"

ROOT_FILES = (
    sorted((ROOT / "scripts").glob("*.py"))
    + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    + sorted((ROOT / "perfbench").glob("*.py"))
)

# tests that replay the reference implementation (or its emitted goldens)
PARITY_TESTS = [
    "test_demo_e2e_parity",
    "test_stream_batch_equivalence",
    "test_ops_plumbing_parity",
    "test_remote_control_parity",
    "test_reference_config",
    "test_compiled_config_parity",
    "test_golden_format",
    "test_tsa_reference_replay",
]

# defs kept although only their own tests reach them: each is checked
# against the reference's behaviour or format by the named test
KEEP = {
    "infer_years": "test_parsing::test_infer_years_reference_parity",
    "changed_var_types": "test_var_gof::test_changed_var_types_alternative_walk",
    "known_values_to_reference_json": "test_operators3::test_known_values_reference_json",
    "known_values_from_reference_json": "test_operators3::test_known_values_reference_json",
    "write_known_values_reference_json":
        "test_operators3::test_streamed_persistence_writers_byte_parity",
    "ranges_to_reference_json": "test_operators3::test_ranges_reference_json_golden",
    "preselect_pairs": "test_operators3::test_preselect_random_method_seeded",
    "pick_random_pairs": "test_operators3::test_preselect_random_method_seeded",
    "match_disc_distr": "test_operators3::test_var_corr_preselection_reference_replay",
    "exclude_due_distr": "test_operators3::test_var_corr_preselection_reference_replay",
    "match_disc_vals": "test_operators3::test_var_corr_preselection_reference_replay",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_IMPORTS = (ast.Import, ast.ImportFrom)


@cache
def _tree(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _imported(node: ast.Import | ast.ImportFrom) -> list[str]:
    """The names an import statement binds (``import a.b`` binds ``a``)."""
    return [a.asname or a.name.split(".")[0] for a in node.names]


def code_names(tree: ast.AST) -> set[str]:
    """The identifiers a piece of code uses: Name ids, Attribute attrs and
    the names an import brings in — never docstrings, comments or strings."""
    out: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, _IMPORTS):
            out.update(a.name.split(".")[-1] for a in n.names)
    return out


def library_defs() -> dict[str, list[tuple[str, int, set[str]]]]:
    """Top-level defs by name -> [(module path, lines, names used)]; the
    statements of module-level code (everything but defs and imports) sit
    under the key ``""``."""
    defs: dict[str, list[tuple[str, int, set[str]]]] = {"": []}
    for path in sorted(LIBRARY.rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        for node in _tree(path).body:
            if isinstance(node, _IMPORTS):
                continue
            entry = (rel, node.end_lineno - node.lineno + 1, code_names(node))
            defs.setdefault(node.name if isinstance(node, _DEFS) else "", []).append(entry)
    return defs


def unreached() -> list[tuple[str, str, int]]:
    """(module, def name, lines) of every top-level library def that no root
    reaches, sorted by module and name."""
    defs = library_defs()
    roots = [TESTS / f"{t}.py" for t in PARITY_TESTS] + ROOT_FILES
    frontier: set[str] = set()
    for path in roots:
        frontier |= code_names(_tree(path))
    for _, _, names in defs.pop(""):
        frontier |= names
    reached: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in reached or name not in defs:
            continue
        reached.add(name)
        for _, _, names in defs[name]:
            frontier |= names - reached
    return sorted(
        (mod, name, n_lines)
        for name, entries in defs.items()
        if name not in reached
        for mod, n_lines, _ in entries
    )


def unused_module_names() -> list[tuple[str, str, str]]:
    """(module, name, 'import' | 'constant') for each module-level import a
    library or test module never uses, and each module-level constant that
    no scanned file reads."""
    modules = sorted(LIBRARY.rglob("*.py")) + sorted(TESTS.glob("*.py"))
    read_anywhere: set[str] = set()
    for path in modules + ROOT_FILES:
        for n in ast.walk(_tree(path)):
            if isinstance(n, ast.Attribute):
                read_anywhere.add(n.attr)
            elif isinstance(n, ast.ImportFrom):
                read_anywhere.update(a.name for a in n.names)
    out = []
    for path in modules:
        tree = _tree(path)
        rel = str(path.relative_to(ROOT))
        loaded = {
            n.id for n in ast.walk(tree)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        for node in tree.body:
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            if isinstance(node, _IMPORTS):
                out += [(rel, n, "import") for n in _imported(node) if n not in loaded]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                out += [
                    (rel, t.id, "constant")
                    for t in targets
                    if isinstance(t, ast.Name)
                    and not t.id.startswith("__")
                    and t.id != "pytestmark"  # read by pytest
                    and t.id not in loaded | read_anywhere
                ]
    return sorted(out)


def test_kept_defs_exist_and_their_tests_exist():
    defs = library_defs()
    for name, test in KEEP.items():
        assert name in defs, f"KEEP names a def that is gone: {name}"
        module, func = test.split("::")
        tree = _tree(TESTS / f"{module}.py")
        tests = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
        assert func in tests, f"{name}: test {test} not found"
        assert name in code_names(tree), f"tests/{module}.py does not use {name}"


def _report(rows: list[tuple[str, str, int]]) -> str:
    lines = [f"{m}:{n} ({k} lines)" + (f"  KEEP: {KEEP[n]}" if n in KEEP else "")
             for m, n, k in rows]
    return "\n".join(lines + [f"{len(rows)} unreached defs, {sum(k for *_, k in rows)} lines"])


def test_every_library_def_is_reached():
    rows = unreached()
    assert all(n in KEEP for _, n, _ in rows), (
        "unreached library defs: delete them, or KEEP one that a "
        "reference-parity test checks\n" + _report(rows)
    )


def test_no_unused_module_names():
    rows = unused_module_names()
    assert not rows, "unused module names:\n" + "\n".join(
        f"{m}: {kind} {n}" for m, n, kind in rows
    )


if __name__ == "__main__":
    print(_report(unreached()))
    for m, n, kind in unused_module_names():
        print(f"unused {kind}: {m}: {n}")

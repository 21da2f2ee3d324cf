"""Every top-level library def is reached from the running system or from a
reference-parity test.

Static (AST and source text), no Spark. Roots: the scripts, ``bench.py``,
``__spark_entry__.py`` and ``perfbench/``; the module-level code of every
library module (the ``QUERIES``/``ORACLES`` registries); and the
reference-parity and golden test files. From the roots, the names a reached def mentions reach every def of
that name, to a fixpoint. A name counts wherever it appears in the source
lines — code, docstring or comment — so a def that a reached def names as
its counterpart is reached too. A def that nothing reaches is dead code —
unless it is the reference that a named test replays, which ``KEEP`` records.

Run ``python tests/test_library_reach.py`` to print the unreached defs.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
LIBRARY = ROOT / "logdata_anomaly_miner_spark"

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
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
_NAME = re.compile(r"[A-Za-z_]\w*")


def library_defs() -> dict[str, list[tuple[str, int, set[str]]]]:
    """Top-level defs by name -> [(module path, lines, names mentioned)];
    the statements of module-level code (everything but defs and imports)
    sit under the key ``""``."""
    defs: dict[str, list[tuple[str, int, set[str]]]] = {"": []}
    for path in sorted(LIBRARY.rglob("*.py")):
        text = path.read_text()
        lines = text.splitlines()
        rel = str(path.relative_to(ROOT))
        for node in ast.parse(text, str(path)).body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            src = "\n".join(lines[node.lineno - 1:node.end_lineno])
            entry = (rel, node.end_lineno - node.lineno + 1, set(_NAME.findall(src)))
            defs.setdefault(node.name if isinstance(node, _DEFS) else "", []).append(entry)
    return defs


def unreached() -> list[tuple[str, str, int]]:
    """(module, def name, lines) of every top-level library def that no root
    reaches, sorted by module and name."""
    defs = library_defs()
    roots = [ROOT / "tests" / f"{t}.py" for t in PARITY_TESTS] + ROOT_FILES
    frontier: set[str] = set()
    for path in roots:
        frontier |= set(_NAME.findall(path.read_text()))
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


def test_kept_defs_exist_and_their_tests_exist():
    defs = library_defs()
    for name, test in KEEP.items():
        assert name in defs, f"KEEP names a def that is gone: {name}"
        module, func = test.split("::")
        src = (ROOT / "tests" / f"{module}.py").read_text()
        assert f"def {func}(" in src, f"{name}: test {test} not found"
        assert name in src, f"tests/{module}.py does not mention {name}"


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


if __name__ == "__main__":
    print(_report(unreached()))

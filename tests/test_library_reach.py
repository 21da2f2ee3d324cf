"""Every top-level library def is reached from the running system or from a
reference-parity test, every option it takes is set by one of those callers,
and no module imports or assigns a name it never uses.

Static (AST only), no Spark. Roots: the scripts, ``bench.py``,
``__spark_entry__.py`` and ``perfbench/``; the module-level code of every
library module (the ``QUERIES``/``ORACLES`` registries); and the
reference-parity and golden test files, less the tests that skip here (a
module-level ``pytestmark`` that is a ``skipif``, a test def marked
``skipif`` or calling ``pytest.skip``), as a skipped test runs nothing.
From the roots, the names a reached def uses in code reach every def of
that name, to a fixpoint. Only code identifiers count — ``ast.Name`` ids,
``ast.Attribute`` attrs and imported names — so a def that a docstring,
comment or string merely mentions is not reached. A def that nothing reaches is dead code — unless it is the
reference that a named test replays, which ``KEEP`` records.

The parameter audit covers every top-level def and class method outside
``KEEP`` (nested defs are exempt: their defaults capture closure values).
A defaulted parameter is an option; a call from a root sets it when it
passes it by keyword or by position, or forwards ``*args``/``**kwargs``. A
call to a class name is a call to its ``__init__``, and ``import ... as``
aliases resolve. An option no root sets has one value in use, so it is a
constant; a parameter the body never reads is dead. A def passed as a value
(a registry entry, a Spark callback) has its signature fixed by its caller
and is exempt from the read check. ``OPTION_KEEP`` records the exceptions,
each with the reference-replay test or frozen caller that needs it.

Run ``python tests/test_library_reach.py`` to print the unreached defs, the
skipped tests it excluded, the parameter audit and the unused module names.
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

# parameters (``def.param``) the parameter audit would flag, kept for the
# named reference-replay test or frozen caller (``bench.py``, ``perfbench/``)
OPTION_KEEP = {
    # accepted and never read: the frozen benchmark callers pass them
    "run_suite.persist": "perfbench/workloads.py",
    "psi_kl.n_buckets": "perfbench/workloads.py",
    # reference modes that no root selects, each replayed by its test
    "fit_continuous.test": "test_var_gof::test_cm_mode_boundary_mod_statistic_matches_python",
    "fit_continuous.spec_quantiles": "test_var_gof::test_spec_candidate_with_injected_table",
    "s_gof_ladder.use_empiric": "test_var_gof::test_emp_ladder_two_sample_ks",
    "parse_json_string_models.strict": "test_parsing::test_json_string_models_parity",
    "parse_json_string_models.ignore_null": "test_parsing::test_json_string_models_parity",
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


def _skipif(expr: ast.AST) -> bool:
    """Whether an expression holds a ``skipif`` mark."""
    return any(
        isinstance(n, ast.Call) and getattr(n.func, "attr", None) == "skipif"
        for n in ast.walk(expr)
    )


def _calls_pytest_skip(node: ast.AST) -> bool:
    return any(
        isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr == "skip" and getattr(n.func.value, "id", None) == "pytest"
        for n in ast.walk(node)
    )


def module_skipped(module: str) -> bool:
    """Whether ``tests/<module>.py`` sets a module-level ``skipif`` mark."""
    return any(
        isinstance(n, ast.Assign)
        and any(getattr(t, "id", None) == "pytestmark" for t in n.targets)
        and _skipif(n.value)
        for n in _tree(TESTS / f"{module}.py").body
    )


def skipped_tests(module: str) -> list[str]:
    """The test defs of ``tests/<module>.py`` that skip here: all of them
    under a module-level ``skipif``, else each one marked ``skipif`` or
    calling ``pytest.skip``."""
    tests = [
        n for n in _tree(TESTS / f"{module}.py").body
        if isinstance(n, ast.FunctionDef) and n.name.startswith("test")
    ]
    whole = module_skipped(module)
    return [
        t.name for t in tests
        if whole or any(_skipif(d) for d in t.decorator_list) or _calls_pytest_skip(t)
    ]


@cache
def root_code() -> list[ast.Module]:
    """The code the roots run here: the root files, and each parity test
    module without its skipped tests."""
    out = [_tree(p) for p in ROOT_FILES]
    for t in PARITY_TESTS:
        if module_skipped(t):
            continue
        skipped = set(skipped_tests(t))
        body = [n for n in _tree(TESTS / f"{t}.py").body if getattr(n, "name", None) not in skipped]
        out.append(ast.Module(body=body, type_ignores=[]))
    return out


def audited_tests() -> list[str]:
    """The test modules the audit reads: the parity tests and the modules
    of the tests that ``KEEP`` and ``OPTION_KEEP`` name."""
    named = {who.split("::")[0] for who in [*KEEP.values(), *OPTION_KEEP.values()] if "::" in who}
    return sorted(set(PARITY_TESTS) | named)


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
    frontier: set[str] = set()
    for tree in root_code():
        frontier |= code_names(tree)
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


def local_reimports() -> list[tuple[str, str, str]]:
    """(module, def, name) for each import inside a def of a name that its
    module already imports at top level."""
    out = []
    for path in sorted(LIBRARY.rglob("*.py")) + sorted(TESTS.glob("*.py")) + ROOT_FILES:
        tree = _tree(path)
        top = {k for node in tree.body if isinstance(node, _IMPORTS) for k in _import_keys(node)}
        out += [
            (str(path.relative_to(ROOT)), d.name, k[1])
            for d in ast.walk(tree)
            if isinstance(d, (ast.FunctionDef, ast.AsyncFunctionDef))
            for node in ast.walk(d)
            if isinstance(node, _IMPORTS)
            for k in _import_keys(node)
            if k in top
        ]
    return sorted(set(out))


def _import_keys(node: ast.Import | ast.ImportFrom) -> list[tuple[str, str]]:
    """What an import brings in, as (module, name), whatever it is bound to."""
    if isinstance(node, ast.ImportFrom):
        return [(node.module or "", a.name) for a in node.names]
    return [("", a.name) for a in node.names]


def _functions() -> list[tuple[str, str, ast.FunctionDef, int]]:
    """(module, qualified name, def, number of bound leading parameters) for
    every top-level def and class method outside ``KEEP``."""
    out = []
    for path in sorted(LIBRARY.rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        for node in _tree(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if node.name not in KEEP:
                    out.append((rel, node.name, node, 0))
            elif isinstance(node, ast.ClassDef):
                out += [
                    (rel, f"{node.name}.{m.name}", m,
                     0 if any(getattr(d, "id", None) == "staticmethod" for d in m.decorator_list)
                     else 1)
                    for m in node.body
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
                ]
    return out


@cache
def _root_usage() -> tuple[dict[str, list[ast.Call]], set[str]]:
    """The calls the roots make, by called def name (a class name maps to
    ``__init__``), and the names they use as values, not callees."""
    classes = {
        n.name for p in LIBRARY.rglob("*.py") for n in _tree(p).body
        if isinstance(n, ast.ClassDef)
    }
    calls: dict[str, list[ast.Call]] = {}
    values: set[str] = set()
    for tree in [_tree(p) for p in sorted(LIBRARY.rglob("*.py"))] + root_code():
        alias = {
            a.asname: a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
            for a in n.names if a.asname
        }
        callees = set()
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            callees.add(id(n.func))
            f = n.func
            name = alias.get(f.id, f.id) if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is not None:
                calls.setdefault("__init__" if name in classes else name, []).append(n)
        for n in ast.walk(tree):
            if id(n) in callees:
                continue
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                values.add(alias.get(n.id, n.id))
            elif isinstance(n, ast.Attribute):
                values.add(n.attr)
    return calls, values


def _sets(call: ast.Call, param: str, index: int | None) -> bool:
    """Whether a call passes ``param`` (``index``: its position, if any)."""
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if any(k.arg is None or k.arg == param for k in call.keywords):
        return True
    return index is not None and len(call.args) > index


def unset_options() -> list[tuple[str, str, str, str]]:
    """(module, def, parameter, default) for every defaulted parameter that
    no root call sets."""
    calls, _ = _root_usage()
    out = []
    for mod, qual, fn, bound in _functions():
        a = fn.args
        pos = a.posonlyargs + a.args
        options = list(zip(pos[len(pos) - len(a.defaults):], a.defaults)) + [
            (k, d) for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        ]
        for arg, default in options:
            index = pos.index(arg) - bound if arg in pos else None
            if not any(_sets(c, arg.arg, index) for c in calls.get(fn.name, ())):
                out.append((mod, qual, arg.arg, ast.unparse(default)))
    return out


def unread_parameters() -> list[tuple[str, str, str]]:
    """(module, def, parameter) for every parameter that the body never reads,
    except in a def passed as a value (its caller fixes the signature)."""
    _, values = _root_usage()
    out = []
    for mod, qual, fn, bound in _functions():
        if fn.name in values:
            continue
        a = fn.args
        params = (a.posonlyargs + a.args)[bound:] + a.kwonlyargs + [
            v for v in (a.vararg, a.kwarg) if v is not None
        ]
        read = {
            n.id for stmt in fn.body for n in ast.walk(stmt)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        out += [(mod, qual, p.arg) for p in params if p.arg not in read]
    return out


def n_options() -> int:
    """Defaulted parameters of the audited defs."""
    return sum(
        len(fn.args.defaults) + sum(d is not None for d in fn.args.kw_defaults)
        for _, _, fn, _ in _functions()
    )


def _flagged(rows) -> list:
    return [r for r in rows if f"{r[1].split('.')[-1]}.{r[2]}" not in OPTION_KEEP]


def test_kept_defs_exist_and_their_tests_exist():
    defs = library_defs()
    for name, test in KEEP.items():
        assert name in defs, f"KEEP names a def that is gone: {name}"
        module, func = test.split("::")
        tree = _tree(TESTS / f"{module}.py")
        tests = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
        assert func in tests, f"{name}: test {test} not found"
        assert func not in skipped_tests(module), f"{name}: test {test} skips here"
        assert name in code_names(tree), f"tests/{module}.py does not use {name}"


def test_option_keep_entries_name_a_replay_test_or_frozen_caller():
    params = {
        f"{fn.name}.{p.arg}"
        for _, _, fn, _ in _functions()
        for p in fn.args.posonlyargs + fn.args.args + fn.args.kwonlyargs
    }
    for key, who in OPTION_KEEP.items():
        assert key in params, f"OPTION_KEEP names a parameter that is gone: {key}"
        func = key.split(".")[0]
        if "::" in who:  # a test that replays the reference with another value
            module, test = who.split("::")
            tree = _tree(TESTS / f"{module}.py")
            assert test in {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}, who
            assert test not in skipped_tests(module), f"{key}: test {who} skips here"
        else:  # a frozen caller
            assert ROOT / who in ROOT_FILES, f"{key}: {who} is not a root file"
            tree = _tree(ROOT / who)
        assert func in code_names(tree), f"{who} does not use {func}"


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


def test_every_option_is_set():
    rows = _flagged(unset_options())
    assert not rows, (
        "options no root call sets: inline the default as a constant, or "
        "OPTION_KEEP one that a reference-replay test or frozen caller needs\n"
        + "\n".join(f"{m}: {d}({p}={v})" for m, d, p, v in rows)
    )


def test_every_parameter_is_read():
    rows = _flagged(unread_parameters())
    assert not rows, "parameters the body never reads: delete them\n" + "\n".join(
        f"{m}: {d}({p})" for m, d, p in rows
    )


def test_no_local_reimports():
    rows = local_reimports()
    assert not rows, "def-local imports of a name the module imports at top level:\n" + (
        "\n".join(f"{m}: {d}: {n}" for m, d, n in rows)
    )


if __name__ == "__main__":
    print(_report(unreached()))
    for module in audited_tests():
        for test in skipped_tests(module):
            print(f"excluded root: {module}::{test} (skips here)")
    unset, unread = unset_options(), unread_parameters()
    for m, d, p, v in unset:
        keep = OPTION_KEEP.get(f"{d.split('.')[-1]}.{p}")
        print(f"unset option: {m}: {d}({p}={v})" + (f"  KEEP: {keep}" if keep else ""))
    for m, d, p in unread:
        keep = OPTION_KEEP.get(f"{d.split('.')[-1]}.{p}")
        print(f"unread parameter: {m}: {d}({p})" + (f"  KEEP: {keep}" if keep else ""))
    print(f"{n_options()} options, {len(unset)} unset, {len(unread)} unread, "
          f"{len(OPTION_KEEP)} kept")
    for m, d, n in local_reimports():
        print(f"local re-import: {m}: {d}: {n}")
    for m, n, kind in unused_module_names():
        print(f"unused {kind}: {m}: {n}")

#!/usr/bin/env python
"""Executed-line report for the library: which lines of
``logdata_anomaly_miner_spark/`` a pytest run executes.

    python scripts/executed_lines.py [pytest args]     # default: tests/ -q

Runs ``pytest.main`` in this process under a ``sys.settrace`` tracer that
records line events only in frames of library files, then prints, per
library file, executed / executable lines and the unexecuted line ranges,
and every top-level def or class method that no test executes. A file's
executable lines are the line numbers of its code objects (``co_lines()``).

Code that runs in Python workers — pandas UDF, ``applyInPandas``,
``applyInPandasWithState`` and ``mapInPandas`` bodies — runs in another
process and is not traced, so its lines read as unexecuted; a def passed
to one of those (or decorated as a UDF) is marked ``worker``. Exits with
pytest's exit code.
"""

from __future__ import annotations

import ast
import os
import sys
import threading
import types
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
LIBRARY = ROOT / "logdata_anomaly_miner_spark"
WORKER_CALLS = {"applyInPandas", "applyInPandasWithState", "mapInPandas", "pandas_udf", "udf"}


def traced_pytest(argv: list[str]) -> tuple[int, dict[str, set[int]]]:
    """Run pytest under the tracer: its exit code, and the executed line
    numbers by the file name of each library frame."""
    import pytest

    executed: dict[str, set[int]] = {}

    def trace_lines(frame, event, arg):
        if event == "line":
            executed[frame.f_code.co_filename].add(frame.f_lineno)
        return trace_lines

    def trace_calls(frame, event, arg):
        path = frame.f_code.co_filename
        if "logdata_anomaly_miner_spark" not in path:
            return None
        executed.setdefault(path, set()).add(frame.f_lineno)
        return trace_lines

    threading.settrace(trace_calls)
    sys.settrace(trace_calls)
    try:
        code = pytest.main(argv)
    finally:
        sys.settrace(None)
        threading.settrace(None)
    return int(code), executed


def executable_lines(code: types.CodeType) -> set[int]:
    """The line numbers of a code object and every code object nested in it."""
    out, stack = set(), [code]
    while stack:
        c = stack.pop()
        out.update(line for _, _, line in c.co_lines() if line)
        stack += [k for k in c.co_consts if isinstance(k, types.CodeType)]
    return out


def ranges(lines: list[int], hit: set[int]) -> list[str]:
    """Runs of unexecuted lines among sorted executable ``lines``."""
    out, start, prev = [], None, None
    for line in lines + [None]:
        if line is not None and line not in hit:
            start = line if start is None else start
            prev = line
            continue
        if start is not None:
            out.append(str(start) if start == prev else f"{start}-{prev}")
            start = None
    return out


def worker_defs(tree: ast.Module) -> set[str]:
    """Names of defs the module hands to Python workers: passed to an
    ``applyInPandas``-like call or ``pandas_udf``, or decorated with one."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Call) and getattr(n.func, "attr", getattr(n.func, "id", None)) in WORKER_CALLS:
            out.update(a.id for a in n.args[:1] if isinstance(a, ast.Name))
        elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and any(
            WORKER_CALLS & {getattr(c, "attr", None), getattr(c, "id", None)}
            for d in n.decorator_list for c in ast.walk(d)
        ):
            out.add(n.name)
    return out


def unexecuted_defs(tree: ast.Module, lines: set[int], hit: set[int]):
    """(qualified name, first line, lines) of each top-level def and class
    method none of whose body lines ran."""
    defs = [(n.name, n) for n in tree.body if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    defs += [
        (f"{c.name}.{m.name}", m) for c in tree.body if isinstance(c, ast.ClassDef)
        for m in c.body if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    for name, node in defs:
        body = {line for line in lines if node.body[0].lineno <= line <= node.end_lineno}
        if body and not body & hit:
            yield name, node.lineno, node.end_lineno - node.lineno + 1


def report(executed: dict[str, set[int]]) -> None:
    hit_by_path: dict[str, set[int]] = {}
    for path, hit in executed.items():
        hit_by_path.setdefault(os.path.realpath(path), set()).update(hit)
    total_hit = total = 0
    dead = []
    print("\nexecuted / executable lines per library file (driver process only)")
    for path in sorted(LIBRARY.rglob("*.py")):
        source = path.read_text()
        lines = executable_lines(compile(source, str(path), "exec"))
        hit = hit_by_path.get(str(path.resolve()), set()) & lines
        total_hit += len(hit)
        total += len(lines)
        rel = path.relative_to(ROOT)
        missed = ranges(sorted(lines), hit)
        print(f"{rel}: {len(hit)}/{len(lines)}" + (f"  unexecuted: {', '.join(missed)}" if missed else ""))
        tree = ast.parse(source)
        workers = worker_defs(tree)
        dead += [
            (rel, name, first, n, name.split(".")[-1] in workers)
            for name, first, n in unexecuted_defs(tree, lines, hit)
        ]
    print(f"total: {total_hit}/{total} executable lines executed "
          f"({100 * total_hit / max(total, 1):.1f}%)")
    for rel, name, first, n, worker in dead:
        print(f"unexecuted def: {rel}:{first} {name} ({n} lines)"
              + ("  worker: runs in a Python worker, not traced" if worker else ""))
    print(f"{len(dead)} unexecuted defs; Python worker code (pandas UDF, "
          "applyInPandas, mapInPandas bodies) is not traced")


def main(argv: list[str]) -> int:
    os.chdir(ROOT)
    sys.path.insert(0, str(ROOT))  # as ``python -m pytest`` from the root
    code, executed = traced_pytest(argv or ["tests/", "-q"])
    report(executed)
    return code


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

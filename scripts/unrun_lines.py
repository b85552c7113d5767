"""List the package lines a pytest selection never executes.

Usage: python scripts/unrun_lines.py FILE [FILE ...] -- PYTEST_ARG ...

Runs ``pytest PYTEST_ARG ...`` in this process under the stdlib
``trace`` module in counting mode (``coverage`` is not a dependency)
and, for each package FILE, prints every function that has executable
lines which never ran, with their line numbers:

    hadoop_deliver_spark/api.py:_exact_overlap: 1150 1151

A line belongs to the innermost function around it; module-level lines
are reported under ``<module>``. Bodies shipped to Python workers
(``mapInArrow`` closures, UDFs) run in worker processes, so they always
show as unrun. Tracing slows the Python side of the run several times:
keep the selection small. The exit status is pytest's.

Example — does every driver-side line of the near-dup verify step run
under the near-dup tests?

    python scripts/unrun_lines.py hadoop_deliver_spark/api.py -- -q \\
        tests/test_api.py -k "near_dup or jaccard or containment"
"""
import ast
import os
import sys
import sysconfig
import trace

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _functions(path):
    """(qualname, first line, last line) of every function in ``path``."""
    out = []

    def visit(node, prefix):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = prefix + child.name
                out.append((name, child.lineno, child.end_lineno))
                visit(child, name + ".")
            elif isinstance(child, ast.ClassDef):
                visit(child, prefix + child.name + ".")
            else:
                visit(child, prefix)

    with open(path) as f:
        visit(ast.parse(f.read(), path), "")
    return out


def _unrun_by_function(path, counts):
    """{qualname: [never-executed line numbers]} for one source file."""
    funcs = _functions(path)
    unrun = {}
    for line in sorted(trace._find_executable_linenos(path)):
        if line < 1 or counts.get((path, line)):
            continue
        owners = [f for f in funcs if f[1] <= line <= f[2]]
        # the innermost function is the one that starts last
        name = max(owners, key=lambda f: f[1])[0] if owners else "<module>"
        unrun.setdefault(name, []).append(line)
    return unrun


def main(argv):
    if "--" not in argv:
        sys.exit(__doc__)
    cut = argv.index("--")
    files = [os.path.realpath(p) for p in argv[:cut]]
    import pytest

    skip = {sys.prefix, sys.exec_prefix}
    skip.update(sysconfig.get_paths()[k] for k in ("stdlib", "purelib", "platlib"))
    tracer = trace.Trace(count=1, trace=0, ignoredirs=sorted(skip))
    status = tracer.runfunc(pytest.main, argv[cut + 1 :])
    counts = {
        (os.path.realpath(f), n): c
        for (f, n), c in tracer.results().counts.items()
    }
    for path in files:
        rel = os.path.relpath(path, REPO)
        for name, lines in _unrun_by_function(path, counts).items():
            print(f"{rel}:{name}: {' '.join(map(str, lines))}")
    return int(status)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

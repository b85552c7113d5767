"""List hand-copied code families in the package.

Usage: python scripts/clones.py

Every package function is cut into its statement blocks (function
body, loop and branch bodies; nested functions count as their own
functions). Each run of 4-6 consecutive statements is normalized:
variable, argument and function names become ``_`` and every constant
becomes a placeholder of its type, while attribute and keyword names
(the DataFrame API calls) are kept. A run whose normalized form occurs
in 3 or more functions is a clone; runs of fewer than 60 AST nodes
are skipped as boilerplate. Clones are grouped into families by the
set of functions that share them, and a family whose functions are
all in a larger reported family is folded into it. The ten largest
families (total lines of their functions) are printed, each with its
longest shared run and where that run starts.

stdlib only (``ast``); it reads the package of this checkout.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = (4, 5, 6)
MIN_FUNCS = 3


class _Normalize(ast.NodeTransformer):
    def visit_Name(self, node):
        return ast.copy_location(ast.Name(id="_", ctx=node.ctx), node)

    def visit_arg(self, node):
        node.arg = "_"
        node.annotation = None
        return node

    def visit_Constant(self, node):
        return ast.copy_location(
            ast.Constant(value=type(node.value).__name__), node
        )

    def visit_FunctionDef(self, node):
        node.name = "_"
        return self.generic_visit(node)


def _is_docstring(stmt) -> bool:
    return isinstance(stmt, ast.Expr) and isinstance(
        getattr(stmt, "value", None), ast.Constant
    ) and isinstance(stmt.value.value, str)


def _blocks(fn):
    """Statement lists of ``fn``, not descending into nested defs."""
    todo = [fn.body]
    while todo:
        body = [s for s in todo.pop() if not _is_docstring(s)]
        yield body
        for s in body:
            if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef,
                              ast.ClassDef)):
                continue
            for field in ("body", "orelse", "finalbody"):
                sub = getattr(s, field, None)
                if isinstance(sub, list) and sub and isinstance(
                    sub[0], ast.stmt
                ):
                    todo.append(sub)
            for h in getattr(s, "handlers", []):
                todo.append(h.body)


def _functions(root):
    """(qualified name, lines, node) for every function under ``root``."""
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, os.path.dirname(root))
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    lines = node.end_lineno - node.lineno + 1
                    yield f"{rel}::{node.name}", lines, node


def find_families(root, min_nodes=60):
    """Families as dicts: funcs (name → lines), run (statements in the
    longest shared run), at (name → first line of that run)."""
    seen = defaultdict(dict)  # run key -> {func: first lineno}
    size = {}  # run key -> statements in the run
    lines = {}
    for name, n_lines, fn in _functions(root):
        lines[name] = n_lines
        for body in _blocks(fn):
            norm = [
                ast.dump(_Normalize().visit(ast.parse(ast.unparse(s))))
                for s in body
            ]
            nodes = [sum(1 for _ in ast.walk(s)) for s in body]
            for k in RUNS:
                for i in range(len(body) - k + 1):
                    if sum(nodes[i:i + k]) < min_nodes:
                        continue
                    key = "\n".join(norm[i:i + k])
                    seen[key].setdefault(name, body[i].lineno)
                    size[key] = k
    by_set = {}
    for key, where in seen.items():
        if len(where) < MIN_FUNCS:
            continue
        funcs = frozenset(where)
        best = by_set.get(funcs)
        if best is None or size[key] > best[0]:
            by_set[funcs] = (size[key], where)
    ranked = sorted(
        by_set.items(),
        key=lambda kv: (-sum(lines[f] for f in kv[0]), sorted(kv[0])),
    )
    families = []
    for funcs, (run, where) in ranked:
        if any(funcs <= set(fam["funcs"]) for fam in families):
            continue
        families.append({
            "funcs": {f: lines[f] for f in sorted(funcs)},
            "run": run,
            "at": dict(sorted(where.items())),
        })
    return families


def main():
    root = os.path.join(REPO, "hadoop_deliver_spark")
    families = find_families(root)
    print(f"{len(families)} clone families under {root}")
    for i, fam in enumerate(families[:10], 1):
        total = sum(fam["funcs"].values())
        print(
            f"{i}. {len(fam['funcs'])} functions, {total} lines, "
            f"shared run of {fam['run']} statements"
        )
        for f, n in fam["funcs"].items():
            print(f"   {f} ({n} lines, run at line {fam['at'][f]})")


if __name__ == "__main__":
    main()

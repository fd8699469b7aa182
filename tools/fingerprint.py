#!/usr/bin/env python
"""Per-query code fingerprints and the re-sign ledger ``FINGERPRINTS.json``.

A query's fingerprint is a sha256 over the docstring-stripped AST of its
``q_*`` function and of every package or ``__spark_entry__`` function,
class and module-level assignment it statically reaches (through module
globals, module attributes and function-local or relative imports), plus
its ``oracle_sql()`` text. Source is hashed rather than the plan because
iterative queries hide their loop bodies behind checkpoints.

Run with no arguments after a code change. It rewrites the ledger
``{name: [fingerprint, round]}``, where a query whose fingerprint changed
or is new gets the newest ``CORRECTNESS_r<N>.json`` round (so
``_rotation_order`` treats it as stale until a later round signs it),
drops removed queries, and prints the changed names comma-joined for
``python tools/check_parity.py --only <names>``.
"""

from __future__ import annotations

import ast
import hashlib
import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "python_etl_mailing_automation_spark"
ENTRY = "__spark_entry__"
LEDGER = "FINGERPRINTS.json"

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _imports(stmt: ast.Import | ast.ImportFrom, pkg: str) -> dict[str, str | tuple]:
    """Name → binding for each name the statement binds: ``"module:"`` for
    a module, ``(module, attr)`` for a name taken from one. Relative
    imports start from package *pkg*."""
    if isinstance(stmt, ast.Import):
        return {
            a.asname or a.name.split(".")[0]: (a.name if a.asname else a.name.split(".")[0]) + ":"
            for a in stmt.names
        }
    base = stmt.module or ""
    if stmt.level:
        parts = pkg.split(".")
        base = ".".join(parts[: len(parts) - stmt.level + 1] + ([base] if base else []))
    return {a.asname or a.name: (base, a.name) for a in stmt.names}


class Index:
    """The top-level units (``"module:name"``) of ``__spark_entry__`` and of
    every package module under *root*, and what each unit reaches."""

    def __init__(self, root: Path):
        self.scope: dict[str, dict] = {}  # module → name → binding
        self.pkg: dict[str, str] = {}
        self.units: dict[str, ast.stmt] = {}
        self._deps: dict[str, set[str]] = {}
        for path in [root / f"{ENTRY}.py", *sorted((root / PKG).rglob("*.py"))]:
            parts = path.relative_to(root).with_suffix("").parts
            mod = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
            self.pkg[mod] = mod if parts[-1] == "__init__" else mod.rpartition(".")[0]
            tree = ast.parse(path.read_text())
            for node in ast.walk(tree):
                if isinstance(node, _DEFS) and isinstance(node.body[0], ast.Expr):
                    doc = node.body[0].value
                    if isinstance(doc, ast.Constant) and isinstance(doc.value, str):
                        node.body = node.body[1:] or [ast.Pass()]
            self.scope[mod] = scope = {}
            for stmt in tree.body:
                if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    scope.update(_imports(stmt, self.pkg[mod]))
                    continue
                if isinstance(stmt, _DEFS):
                    names = [stmt.name]
                elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
                    names = [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
                else:
                    continue
                for name in names:
                    scope[name] = f"{mod}:{name}"
                    self.units[scope[name]] = stmt

    def _follow(self, binding: str | tuple) -> str | None:
        """A unit key, ``"module:"`` for a module of the tree, or None for a
        name bound outside the tree. ``(module, name)`` is looked up in the
        module's scope, then as its submodule."""
        if isinstance(binding, tuple):
            mod, name = binding
            return self._follow(self.scope.get(mod, {}).get(name) or f"{mod}.{name}:")
        return None if binding.endswith(":") and binding[:-1] not in self.scope else binding

    def deps(self, key: str) -> set[str]:
        """Units *key* names directly. Names it binds itself (arguments,
        assignment, loop and comprehension targets, nested defs) never
        resolve to the module-level objects they shadow, and dunder names
        (``__file__``) never resolve, so the checkout path stays out."""
        if key not in self._deps:
            mod, node = key.partition(":")[0], self.units[key]
            imported, bound = {}, set()
            for n in ast.walk(node):
                if isinstance(n, (ast.Import, ast.ImportFrom)):
                    imported.update(_imports(n, self.pkg[mod]))
                elif isinstance(n, ast.arg):
                    bound.add(n.arg)
                elif isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load):
                    bound.add(n.id)
                elif isinstance(n, (*_DEFS, ast.ExceptHandler)) and n is not node:
                    bound.add(n.name)

            def lookup(e: ast.expr) -> str | None:
                if isinstance(e, ast.Attribute) and not e.attr.startswith("__"):
                    base = lookup(e.value)
                    return self._follow((base[:-1], e.attr)) if base and base.endswith(":") else None
                if not isinstance(e, ast.Name) or e.id.startswith("__") or e.id in bound:
                    return None
                return self._follow(imported.get(e.id, (mod, e.id)))

            found = (lookup(n) for n in ast.walk(node) if isinstance(n, (ast.Name, ast.Attribute)))
            self._deps[key] = {k for k in found if k and not k.endswith(":")}
        return self._deps[key]

    def reach(self, key: str) -> set[str]:
        seen, todo = {key}, [key]
        while todo:
            for dep in self.deps(todo.pop()) - seen:
                seen.add(dep)
                todo.append(dep)
        return seen

    def fingerprint(self, function: str, oracle: str) -> str:
        h = hashlib.sha256()
        for key in sorted(self.reach(f"{ENTRY}:{function}")):
            h.update(f"{key}\0{ast.dump(self.units[key])}\0".encode())
        h.update(oracle.encode())
        return h.hexdigest()


def compute() -> dict[str, str]:
    """Query name → fingerprint for the tree this file is in."""
    sys.path.insert(0, str(ROOT))
    import __spark_entry__ as e

    index, oracles = Index(ROOT), e.oracle_sql()
    return {name: index.fingerprint(fn.__name__, oracles[name]) for name, fn in e.queries().items()}


def main() -> None:
    path = ROOT / LEDGER
    old = json.loads(path.read_text()) if path.exists() else {}
    rounds = [re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name) for p in ROOT.glob("CORRECTNESS_r*.json")]
    newest = max((int(m.group(1)) for m in rounds if m), default=0)
    fps = compute()
    changed = sorted(n for n in fps if old.get(n, [None])[0] != fps[n])
    ledger = {n: [fps[n], newest if n in changed else old[n][1]] for n in sorted(fps)}
    path.write_text("{\n" + ",\n".join(f"  {json.dumps(n)}: {json.dumps(v)}" for n, v in ledger.items()) + "\n}\n")
    print(f"{len(changed)} of {len(fps)} fingerprints changed (round {newest})", file=sys.stderr)
    print(",".join(changed))


if __name__ == "__main__":
    main()

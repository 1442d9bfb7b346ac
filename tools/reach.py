"""List the library's top-level definitions that nothing reaches.

A definition is a top-level function, class or single-name assignment
of a module under ``couch_to_postgres_spark/``. It is reached when a
reference leads to it from a root, directly or through other reached
definitions. The roots are the files a user or a benchmark runs:
``__spark_entry__.py``, ``bench.py`` and every ``.py`` file under
``perfbench/``, ``examples/`` and ``tools/``, plus the library's own
module-level statements other than imports, ``__all__`` and the
definitions themselves (they run at import time). Tests are not roots.

A reference is a bare name bound to the definition (in its own module
or by an import, re-exports through a package ``__init__`` followed),
an attribute of an imported module (``mod.name``, ``pkg.mod.name``),
or a call that passes an imported module together with a string naming
one of its definitions (``getattr(mod, "name")``, a monkeypatch
helper). A definition's references are everything in it: decorators,
defaults, annotations and body; a class's are its methods' too.
``__all__`` is not a use. The scan is by name and so errs towards
reached: a local that shadows a top-level name counts as a use of it.

Prints one line per unreached definition with its code lines, counted
by ``tools/loc.py``'s rules, then the totals.

Usage:  python tools/reach.py [repo_root]
"""

from __future__ import annotations

import ast
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from loc import _comment_only_lines, _docstring_lines  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "couch_to_postgres_spark"
ROOT_FILES = ("__spark_entry__.py", "bench.py")
ROOT_DIRS = ("perfbench", "examples", "tools")

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _py_files(top: str):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _module_name(root: str, path: str) -> str:
    rel = os.path.relpath(path, root)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def _assigned_name(node: ast.stmt) -> str | None:
    if isinstance(node, ast.Assign) and len(node.targets) == 1:
        target = node.targets[0]
    elif isinstance(node, ast.AnnAssign):
        target = node.target
    else:
        return None
    return target.id if isinstance(target, ast.Name) else None


class _Source:
    """One parsed file: its import bindings and, for a library module,
    its top-level definitions and import-time statements."""

    def __init__(self, path: str, module: str, is_package: bool, library: bool):
        self.path = path
        self.module = module
        with open(path) as f:
            self.text = f.read()
        self.tree = ast.parse(self.text)
        package = module if is_package else module.rpartition(".")[0]
        # alias -> [("mod", dotted) | ("attr", dotted, name)]
        self.imports: dict[str, list[tuple]] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self._bind(a.asname, ("mod", a.name))
                    else:
                        head = a.name.split(".")[0]
                        self._bind(head, ("mod", head))
            elif isinstance(node, ast.ImportFrom):
                base = node.module or ""
                if node.level:
                    parts = package.split(".")
                    parts = parts[: len(parts) - node.level + 1]
                    base = ".".join(parts + ([base] if base else []))
                for a in node.names:
                    self._bind(a.asname or a.name, ("attr", base, a.name))
        self.defs: dict[str, ast.stmt] = {}
        self.init_stmts: list[ast.stmt] = []
        if not library:
            return
        for i, node in enumerate(self.tree.body):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                continue
            if i == 0 and isinstance(node, ast.Expr) and isinstance(
                node.value, ast.Constant
            ):
                continue  # module docstring
            name = node.name if isinstance(node, _DEFS) else _assigned_name(node)
            if name == "__all__":
                continue
            if name is not None:
                self.defs[name] = node
            else:
                self.init_stmts.append(node)

    def _bind(self, alias: str, target: tuple) -> None:
        self.imports.setdefault(alias, []).append(target)


class Graph:
    """The reference graph of one checkout."""

    def __init__(self, root: str = ROOT):
        self.root = root
        self.modules: dict[str, _Source] = {}
        for path in _py_files(os.path.join(root, PACKAGE)):
            mod = _module_name(root, path)
            self.modules[mod] = _Source(
                path, mod, path.endswith("__init__.py"), library=True
            )
        self.roots: list[_Source] = []
        paths = [os.path.join(root, f) for f in ROOT_FILES]
        for d in ROOT_DIRS:
            paths += list(_py_files(os.path.join(root, d)))
        for path in paths:
            if os.path.exists(path):
                self.roots.append(
                    _Source(path, _module_name(root, path), False, library=False)
                )

    # -- name resolution ---------------------------------------------------
    def _resolve_attr(self, mod: str, name: str, seen=None) -> list[tuple]:
        """What ``name`` means as an attribute of module ``mod``: a
        submodule ``("mod", m)``, a definition ``("def", m, n)``, or
        nothing outside the library."""
        seen = set() if seen is None else seen
        if (mod, name) in seen:
            return []
        seen.add((mod, name))
        sub = f"{mod}.{name}"
        if sub in self.modules:
            return [("mod", sub)]
        src = self.modules.get(mod)
        if src is None:
            return []
        if name in src.defs:
            return [("def", mod, name)]
        out = []
        for target in src.imports.get(name, []):
            out += self._resolve_target(target, seen)
        return out

    def _resolve_target(self, target: tuple, seen=None) -> list[tuple]:
        if target[0] == "mod":
            return [("mod", target[1])] if target[1] in self.modules else []
        return self._resolve_attr(target[1], target[2], seen)

    def _resolve_name(self, src: _Source, name: str) -> list[tuple]:
        if name in src.defs:
            return [("def", src.module, name)]
        out = []
        for target in src.imports.get(name, []):
            out += self._resolve_target(target)
        return out

    # -- references --------------------------------------------------------
    def references(self, src: _Source, node: ast.AST) -> set[tuple[str, str]]:
        """The library definitions that ``node`` (a statement of ``src``)
        refers to."""
        found: set[tuple[str, str]] = set()

        def chain(expr):
            names = []
            while isinstance(expr, ast.Attribute):
                names.append(expr.attr)
                expr = expr.value
            if isinstance(expr, ast.Name):
                return expr.id, names[::-1]
            return None, []

        def resolve_expr(expr) -> list[tuple]:
            base, attrs = chain(expr)
            if base is None:
                return []
            cur = self._resolve_name(src, base)
            for attr in attrs:
                nxt = []
                for kind, *rest in cur:
                    if kind == "mod":
                        nxt += self._resolve_attr(rest[0], attr)
                cur = nxt
            return cur

        def add(resolved):
            for kind, *rest in resolved:
                if kind == "def":
                    found.add((rest[0], rest[1]))

        for sub in ast.walk(node):
            if isinstance(sub, ast.Name) and isinstance(sub.ctx, ast.Load):
                add(self._resolve_name(src, sub.id))
            elif isinstance(sub, ast.Attribute) and isinstance(sub.ctx, ast.Load):
                add(resolve_expr(sub))
            elif isinstance(sub, ast.Call):
                mods = [
                    rest[0]
                    for a in sub.args
                    for kind, *rest in resolve_expr(a)
                    if kind == "mod"
                ]
                strs = [
                    a.value
                    for a in sub.args
                    if isinstance(a, ast.Constant) and isinstance(a.value, str)
                ]
                for mod in mods:
                    for s in strs:
                        add(self._resolve_attr(mod, s))
        return found

    def reached(self) -> set[tuple[str, str]]:
        todo: list[tuple[str, str]] = []
        for src in self.roots:
            todo += self.references(src, src.tree)
        for src in self.modules.values():
            for stmt in src.init_stmts:
                todo += self.references(src, stmt)
        seen: set[tuple[str, str]] = set()
        while todo:
            key = todo.pop()
            if key in seen:
                continue
            seen.add(key)
            src = self.modules[key[0]]
            todo += self.references(src, src.defs[key[1]]) - seen
        return seen

    def unreached(self) -> list[dict]:
        """One record per unreached definition, in file order:
        ``module``, ``path`` (relative to the root), ``name``, ``line``,
        ``public`` and ``code_lines``."""
        reached = self.reached()
        out = []
        for mod, src in sorted(self.modules.items()):
            skip = _docstring_lines(src.tree) | _comment_only_lines(src.text)
            lines = src.text.splitlines()
            for name, node in src.defs.items():
                if (mod, name) in reached:
                    continue
                first = min(
                    [node.lineno]
                    + [d.lineno for d in getattr(node, "decorator_list", [])]
                )
                n = sum(
                    1
                    for i in range(first, node.end_lineno + 1)
                    if lines[i - 1].strip() and i not in skip
                )
                out.append({
                    "module": mod,
                    "path": os.path.relpath(src.path, self.root),
                    "name": name,
                    "line": node.lineno,
                    "public": not name.startswith("_"),
                    "code_lines": n,
                })
        return out


def main(argv: list[str]) -> int:
    root = os.path.abspath(argv[1]) if len(argv) > 1 else ROOT
    rows = Graph(root).unreached()
    for r in rows:
        print(f"{r['code_lines']:5d}  {r['path']}:{r['line']}  {r['name']}")
    public = sum(r["public"] for r in rows)
    total = sum(r["code_lines"] for r in rows)
    print(
        f"{len(rows)} unreached definitions ({public} public), "
        f"{total} code lines"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))

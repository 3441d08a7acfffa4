"""Class guard for code that only tests reach.

A definition the production surface never reaches is a second path:
it keeps its own tests, docs and inventory rows alive while no workload
runs it. This test computes which top-level ``def``/``class`` of the
package is reachable from the production roots and fails on each one
that is not, unless it is listed in ``TEST_ONLY`` with the reason it
stays: a reference implementation a test checks a production definition
against, or a piece of the reference system's own surface that a
COVERAGE.md row names. No other reason is admitted.

Reachability is a fixpoint over AST references, not text: a ``Name`` or
``Attribute`` load, or an import, that resolves to a package definition.
A docstring or comment mention does not count, and a reference made only
from inside an unreached definition does not count either. The roots are

- every ``@register`` query builder;
- the package's module-level code (decorators, default arguments and
  top-level statements run at import);
- ``bench.py``, ``__spark_entry__.py``, ``tools/`` and ``perfbench/``
  (not ``perfbench/tests``).

A ``TEST_ONLY`` entry is stale, and fails, when its definition is gone,
when production now reaches it, when not even a test reaches it, or when
its reason is not a ``reference`` to a definition production reaches or
a ``coverage`` row that names it.
"""

from __future__ import annotations

import ast
import os
import re

import imdb_mapreduce_spark

PKG_ROOT = os.path.dirname(os.path.abspath(imdb_mapreduce_spark.__file__))
REPO = os.path.dirname(PKG_ROOT)
PKG = "imdb_mapreduce_spark"

# (relpath, name) → why it stays although only tests reach it, one of
#   ("reference", "<module>.<def>"): an implementation a test checks the
#       production definition <module>.<def> against (module relative to
#       the package);
#   ("coverage", "<row id>"): the reference system's own surface, named
#       in that COVERAGE.md table row.
TEST_ONLY: dict[tuple[str, str], tuple[str, str]] = {
    ("functions/columns.py", "bucket_of"): ("coverage", "X7"),
    ("functions/columns.py", "last_token"): ("coverage", "X1-X6"),
    ("functions/columns.py", "sanitized_identifier"): ("coverage", "X1-X6"),
    ("functions/columns.py", "strip_id_prefix"): ("coverage", "X1-X6"),
    ("functions/columns.py", "salted_collect_set"): ("coverage", "A6"),
    ("operators/graph_export.py", "render_png"): ("coverage", "K4"),
    ("operators/graph_export.py", "write_dot"): ("coverage", "K4"),
    ("pipeline/dedup.py", "minhash_signatures_md5"):
        ("reference", "pipeline.dedup.minhash_signatures_arrow"),
    ("pipeline/dedup.py", "simhash_sig"):
        ("reference", "pipeline.dedup.simhash_sig_arrow"),
    ("pipeline/similarity.py", "random_hyperplane_buckets"):
        ("reference", "pipeline.similarity.random_hyperplane_buckets_arrow"),
    ("pipeline/similarity.py", "_bucket_col"):
        ("reference", "pipeline.similarity.random_hyperplane_buckets_arrow"),
    ("sources/sinks.py", "write_adjacency_tsv"): ("coverage", "K1"),
    ("sources/storage.py", "write_bucketed"): ("coverage", "P1"),
}


def _package_modules() -> dict[str, str]:
    """Dotted module name → file path for every module of the package."""
    mods = {}
    for dirpath, _, files in os.walk(PKG_ROOT):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(dirpath, fn), REPO)[:-3]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts = parts[:-1]
            mods[".".join(parts)] = os.path.join(dirpath, fn)
    return mods


def _root_files() -> list[str]:
    files = [os.path.join(REPO, "bench.py"), os.path.join(REPO, "__spark_entry__.py")]
    for sub in ("tools", "perfbench"):
        d = os.path.join(REPO, sub)
        files += [
            os.path.join(d, fn) for fn in sorted(os.listdir(d)) if fn.endswith(".py")
        ]
    return [f for f in files if os.path.exists(f)]


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _is_register(deco: ast.expr) -> bool:
    fn = deco.func if isinstance(deco, ast.Call) else deco
    return (isinstance(fn, ast.Name) and fn.id == "register") or (
        isinstance(fn, ast.Attribute) and fn.attr == "register"
    )


def _import_base(mod: str | None, node: ast.ImportFrom) -> str:
    """The absolute module an ``ImportFrom`` names (relative ones too)."""
    if not node.level:
        return node.module or ""
    parts = (mod or "").split(".")
    # a module's package is its name minus the last part; an __init__'s
    # dotted name already is the package
    base = parts[: len(parts) - node.level + (1 if mod in _PACKAGES else 0)]
    return ".".join(base + ([node.module] if node.module else []))


_PACKAGES: set[str] = set()


class _Index:
    """Top-level definitions of every package module, and what each
    region of code references."""

    def __init__(self) -> None:
        self.files = _package_modules()
        _PACKAGES.update(
            m for m, p in self.files.items() if p.endswith("__init__.py")
        )
        self.trees = {m: _parse(p) for m, p in self.files.items()}
        self.defs: dict[str, dict[str, ast.AST]] = {
            m: {
                n.name: n
                for n in t.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            }
            for m, t in self.trees.items()
        }

    def relpath(self, mod: str) -> str:
        return os.path.relpath(self.files[mod], PKG_ROOT)

    def _bindings(self, mod: str | None, tree: ast.AST) -> dict[str, tuple]:
        """Names an ``import`` binds anywhere in ``tree``: ``("mod", m)``
        for a module, ``("def", m, name)`` for a package definition."""
        out: dict[str, tuple] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        out[a.asname] = ("mod", a.name)
                    else:
                        top = a.name.split(".")[0]
                        out[top] = ("mod", top)
            elif isinstance(node, ast.ImportFrom):
                base = _import_base(mod, node)
                for a in node.names:
                    sub = f"{base}.{a.name}"
                    if sub in self.files:
                        out[a.asname or a.name] = ("mod", sub)
                    else:
                        out[a.asname or a.name] = ("def", base, a.name)
        return out

    def resolve(self, mod: str, name: str, seen=()) -> tuple[str, str] | None:
        """The definition ``mod.name`` denotes, following re-exports."""
        if mod not in self.files or (mod, name) in seen:
            return None
        if name in self.defs[mod]:
            return mod, name
        # a name a module imports at top level is reachable through it
        for node in self.trees[mod].body:
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    if (a.asname or a.name) == name:
                        return self.resolve(
                            _import_base(mod, node), a.name, seen + ((mod, name),)
                        )
        return None

    def references(self, mod: str | None, region: list[ast.AST], bind) -> set:
        """Package definitions the code in ``region`` refers to."""
        refs: set[tuple[str, str]] = set()

        def add(target):
            if target:
                refs.add(target)

        for top in region:
            for node in ast.walk(top):
                if isinstance(node, ast.ImportFrom):
                    base = _import_base(mod, node)
                    for a in node.names:
                        add(self.resolve(base, a.name))
                elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    if mod is not None and node.id in self.defs[mod]:
                        add((mod, node.id))
                    elif node.id in bind and bind[node.id][0] == "def":
                        add(self.resolve(bind[node.id][1], bind[node.id][2]))
                elif isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                    chain = [node.attr]
                    base = node.value
                    while isinstance(base, ast.Attribute):
                        chain.append(base.attr)
                        base = base.value
                    if not isinstance(base, ast.Name) or base.id not in bind:
                        continue
                    b = bind[base.id]
                    if b[0] != "mod":
                        continue
                    cur, chain = b[1], chain[::-1]
                    for i, attr in enumerate(chain):
                        if f"{cur}.{attr}" in self.files:
                            cur = f"{cur}.{attr}"
                            continue
                        add(self.resolve(cur, attr))
                        break
        return refs


def _module_level_code(tree: ast.Module) -> list[ast.AST]:
    """What a module runs at import besides defining its functions and
    classes: top-level statements, decorators, default arguments, class
    bases."""
    out: list[ast.AST] = []
    for n in tree.body:
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out += n.decorator_list + n.args.defaults
            out += [d for d in n.args.kw_defaults if d is not None]
        elif isinstance(n, ast.ClassDef):
            out += n.decorator_list + n.bases + n.keywords
        else:
            out.append(n)
    return out


def _definition_body(node: ast.AST) -> list[ast.AST]:
    if isinstance(node, ast.ClassDef):
        return list(node.body)
    return list(node.body) + ([node.returns] if node.returns else [])


def reachability(extra_roots: list[str] = ()) -> tuple[_Index, set[tuple[str, str]]]:
    """The package index and every (module, name) production reaches, or
    production and the files ``extra_roots``."""
    idx = _Index()
    binds = {m: idx._bindings(m, t) for m, t in idx.trees.items()}
    frontier: set[tuple[str, str]] = set()
    for m, t in idx.trees.items():
        frontier |= idx.references(m, _module_level_code(t), binds[m])
        frontier |= {
            (m, name)
            for name, node in idx.defs[m].items()
            if any(_is_register(d) for d in getattr(node, "decorator_list", []))
        }
    for path in _root_files() + list(extra_roots):
        tree = _parse(path)
        frontier |= idx.references(None, [tree], idx._bindings(None, tree))
    reached: set[tuple[str, str]] = set()
    while frontier:
        m, name = frontier.pop()
        if (m, name) in reached:
            continue
        reached.add((m, name))
        body = _definition_body(idx.defs[m][name])
        frontier |= idx.references(m, body, binds[m]) - reached
    return idx, reached


def test_every_package_definition_is_reached_or_listed():
    idx, reached = reachability()
    unreached = {
        (idx.relpath(m), name)
        for m, names in idx.defs.items()
        for name in names
        if (m, name) not in reached
    }
    unlisted = sorted(unreached - TEST_ONLY.keys())
    assert not unlisted, (
        "package definitions no registered query, module-level code, "
        "bench.py, perfbench/, tools/ or __spark_entry__.py reaches: delete "
        "them, or list them in TEST_ONLY with the reason they stay: "
        f"{unlisted}"
    )


def test_test_only_entries_are_not_stale():
    idx, reached = reachability()
    tests = os.path.join(REPO, "tests")
    _, tested = reachability(
        [os.path.join(tests, fn) for fn in sorted(os.listdir(tests)) if fn.endswith(".py")]
    )
    by_rel = {idx.relpath(m): m for m in idx.files}
    rows = _coverage_rows()
    stale = []
    for (rel, name), reason in sorted(TEST_ONLY.items()):
        mod = by_rel.get(rel)
        if mod is None or name not in idx.defs[mod]:
            stale.append((rel, name, "definition is gone"))
        elif (mod, name) in reached:
            stale.append((rel, name, "production now reaches it"))
        elif (mod, name) not in tested:
            stale.append((rel, name, "not even a test reaches it: delete it"))
        elif not _reason_holds(idx, reached, rows, name, reason):
            stale.append((rel, name, f"reason {reason!r} does not hold"))
    assert not stale, f"stale TEST_ONLY entries: {stale}"


def _coverage_rows() -> dict[str, list[str]]:
    """COVERAGE.md table row id (first cell) → the text of its rows."""
    rows: dict[str, list[str]] = {}
    with open(os.path.join(REPO, "COVERAGE.md")) as f:
        for line in f:
            cells = line.split("|")
            if line.startswith("|") and len(cells) > 2:
                rows.setdefault(cells[1].strip(), []).append(line)
    return rows


def _reason_holds(idx, reached, rows, name: str, reason) -> bool:
    """A ``reference`` names a definition production reaches; a
    ``coverage`` row id names ``name`` in its row text."""
    if not (isinstance(reason, tuple) and len(reason) == 2):
        return False
    kind, target = reason
    if kind == "reference":
        mod, _, ref = target.rpartition(".")
        mod = f"{PKG}.{mod}"
        return ref in idx.defs.get(mod, {}) and (mod, ref) in reached
    if kind == "coverage":
        word = re.compile(rf"\b{re.escape(name)}\b")
        return any(word.search(r) for r in rows.get(target, ()))
    return False

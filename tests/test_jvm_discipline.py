"""Pin the hot-path discipline every VERDICT re-greps by hand: zero
row-at-a-time Python UDFs and zero RDD drops in the engine package.

The engine's 100 TB posture keeps all per-row work JVM-side (built-in
``pyspark.sql.functions`` inside whole-stage codegen); Python appears
only behind Arrow batches (``mapInPandas`` / ``applyInPandas`` /
``applyInPandasWithState`` — inventoried by test_arrow_wall_inventory.py
where stateful). A row-at-a-time ``F.udf`` is 10-100× slower than a
Pandas UDF and unboundedly slower than a built-in; an ``.rdd`` drop
discards Catalyst, Tungsten, and AQE. Neither exists in the package
today — this test fails the FIRST one someone adds, with the
alternatives named.
"""

from __future__ import annotations

import ast
import os

import imdb_mapreduce_spark

PKG_ROOT = os.path.dirname(os.path.abspath(imdb_mapreduce_spark.__file__))


def _scan() -> tuple[list[str], list[str]]:
    udfs: list[str] = []
    rdds: list[str] = []
    for dirpath, _dirs, files in os.walk(PKG_ROOT):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, PKG_ROOT)
            tree = ast.parse(open(path).read(), filename=rel)
            for node in ast.walk(tree):
                # F.udf(...) / functions.udf(...) / udf(...) calls and
                # @udf / @F.udf decorators all surface as a Call or Name
                # whose terminal attribute/name is exactly "udf"
                if isinstance(node, ast.Call):
                    f = node.func
                    name = (
                        f.attr
                        if isinstance(f, ast.Attribute)
                        else f.id
                        if isinstance(f, ast.Name)
                        else ""
                    )
                    if name == "udf":
                        udfs.append(f"{rel}:{node.lineno}")
                # df.rdd / .rdd.mapPartitions — any attribute access
                # named exactly "rdd"
                if isinstance(node, ast.Attribute) and node.attr == "rdd":
                    rdds.append(f"{rel}:{node.lineno}")
    return udfs, rdds


def test_no_row_at_a_time_python_udfs_and_no_rdd_drops():
    udfs, rdds = _scan()
    assert not udfs, (
        f"row-at-a-time Python UDF registered at {udfs} — use a built-in "
        "pyspark.sql.functions expression, or if Python is unavoidable an "
        "Arrow-batched pandas_udf / mapInPandas (and classify any stateful "
        "use in test_arrow_wall_inventory.py)"
    )
    assert not rdds, (
        f".rdd drop at {rdds} — the DataFrame API keeps Catalyst/AQE; "
        "per-partition imperative logic belongs in mapInPandas "
        "(mapPartitions only as a documented last resort)"
    )


# (relpath, enclosing function) → expected count of bare `pass` bodies.
# Each is a PROTOCOL no-op, verified in place: compaction_plan's
# `with pq.ParquetFile(f): pass` exists only to close footer handles
# promptly (ADVICE r06 — unclosed handles piled up fds).
PASS_INVENTORY: dict[tuple[str, str], int] = {
    ("sources/storage.py", "compaction_plan"): 1,
}


def test_every_bare_pass_is_a_documented_protocol_noop():
    """Every round's review re-verifies the bare `pass` bodies by hand;
    this pins them. A NEW bare pass (a stubbed method, an unfinished
    branch) fails here until it is either implemented or justified as a
    protocol no-op above."""
    sites: dict[tuple[str, str], int] = {}
    for dirpath, _dirs, files in os.walk(PKG_ROOT):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, PKG_ROOT)
            tree = ast.parse(open(path).read(), filename=rel)

            def walk(node: ast.AST, fn: str) -> None:
                for child in ast.iter_child_nodes(node):
                    nfn = (
                        child.name
                        if isinstance(
                            child, (ast.FunctionDef, ast.AsyncFunctionDef)
                        )
                        else fn
                    )
                    if isinstance(child, ast.Pass):
                        key = (rel, fn)
                        sites[key] = sites.get(key, 0) + 1
                    walk(child, nfn)

            walk(tree, "<module>")
    assert sites == PASS_INVENTORY, (
        f"bare `pass` inventory drifted: found {sites}, expected "
        f"{PASS_INVENTORY} — implement the new stub or document the "
        "protocol no-op in PASS_INVENTORY"
    )


def _is_env_mapping(node: ast.AST) -> bool:
    """``os.environ`` / a bare ``environ`` / ``<sc>.environment``."""
    if isinstance(node, ast.Attribute):
        return node.attr in ("environ", "environment")
    return isinstance(node, ast.Name) and node.id == "environ"


def test_no_process_wide_environment_mutation():
    """The package never rewrites the interpreter's or the workers'
    environment: no ``os.environ[...] =``, no ``sys.path.insert`` /
    ``append``, no ``<sc>.environment[...] =``. Such a write outlives
    the call that made it and changes every later Python worker in the
    process — a dependency the package needs is declared, not discovered
    on disk and spliced into the path."""
    sites: list[str] = []
    for dirpath, _dirs, files in os.walk(PKG_ROOT):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, PKG_ROOT)
            tree = ast.parse(open(path).read(), filename=rel)
            for node in ast.walk(tree):
                if isinstance(node, (ast.Assign, ast.AugAssign, ast.AnnAssign)):
                    targets = (
                        node.targets if isinstance(node, ast.Assign)
                        else [node.target]
                    )
                    if any(
                        isinstance(t, ast.Subscript) and _is_env_mapping(t.value)
                        for t in targets
                    ):
                        sites.append(f"{rel}:{node.lineno}")
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("insert", "append")
                    and isinstance(node.func.value, ast.Attribute)
                    and node.func.value.attr == "path"
                    and isinstance(node.func.value.value, ast.Name)
                    and node.func.value.value.id == "sys"
                ):
                    sites.append(f"{rel}:{node.lineno}")
    assert not sites, (
        f"process-wide environment mutation at {sites} — declare the "
        "dependency instead of splicing it into sys.path / PYTHONPATH / "
        "the workers' environment"
    )


# Module-level caches allowed without a finite maxsize: name → reason.
UNBOUNDED_CACHES: dict[str, str] = {}


def _cache_bound(deco: ast.expr, consts: dict) -> int | None:
    """The maxsize a ``cache`` / ``lru_cache`` decorator gives, None when
    unbounded or not provably finite; -1 when ``deco`` is no cache."""

    def name(f: ast.expr) -> str:
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")

    if name(deco) == "cache":
        return None
    if name(deco) == "lru_cache":
        return 128  # the bare decorator's default
    if not isinstance(deco, ast.Call):
        return -1
    if name(deco.func) == "cache":
        return None
    if name(deco.func) != "lru_cache":
        return -1
    args = deco.args[:1] + [k.value for k in deco.keywords if k.arg == "maxsize"]
    if not args:
        return 128
    arg = args[0]
    if isinstance(arg, ast.Name):
        arg = consts.get(arg.id)
    value = arg.value if isinstance(arg, ast.Constant) else None
    return value if isinstance(value, int) else None


def test_every_module_level_cache_is_bounded():
    """A module-level ``functools.cache`` / ``lru_cache`` lives as long as
    the process; one keyed by data (a corpus-derived SQL string, a request)
    grows with every new key, and one holding py4j handles also pins their
    JVM objects. Each needs a finite ``maxsize`` or an entry in
    ``UNBOUNDED_CACHES`` saying why its key set is closed."""
    unbounded: list[str] = []
    for dirpath, _dirs, files in os.walk(PKG_ROOT):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            rel = os.path.relpath(path, PKG_ROOT)
            tree = ast.parse(open(path).read(), filename=rel)
            consts = {
                t.id: node.value
                for node in tree.body
                if isinstance(node, ast.Assign)
                for t in node.targets
                if isinstance(t, ast.Name)
            }
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    site, decos = node.name, node.decorator_list
                elif isinstance(node, ast.Assign) and isinstance(node.value, ast.Call):
                    site = ast.unparse(node.targets[0])
                    decos = [node.value.func, node.value]
                else:
                    continue
                if site not in UNBOUNDED_CACHES and any(
                    _cache_bound(d, consts) is None for d in decos
                ):
                    unbounded.append(f"{rel}:{node.lineno} {site}")
    assert not unbounded, (
        f"module-level cache without a finite maxsize at {unbounded} — give "
        "it one, or list it in UNBOUNDED_CACHES with the reason its key set "
        "is closed"
    )

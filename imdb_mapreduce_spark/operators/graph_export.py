"""DOT/graph serialization of a BFS result (SURVEY.md §2.9 G3/G4, §2.1 K4).

The reference materializes each request's digraph and renders it to PNG via
GraphViz (``/root/reference/src/master/graphviz.erl:63-100``,
``src/master/graph.erl:47-79``). Rendering (``dot -Tpng``) stays outside the
engine; what we reproduce is the deterministic DOT text assembly:

- node ids sanitized with ``[^A-Za-z0-9] → _`` — the reference's char class
  omits ``0`` (``graph.erl:30``), mangling names containing the digit zero;
  documented bug, not replicated;
- movies listed in lexicographic order (O1, ``graph.erl:92``), actors by
  surname = last space-separated token (O2, ``graph.erl:93-98``, scalar X6);
- tree linearization: depth-first emission from the root (G3,
  ``graph.erl:67-79``) — driver-side on the collected, bounded result.
"""

from __future__ import annotations

import re
from collections import defaultdict

from imdb_mapreduce_spark.operators.graph import ACTOR, BfsResult

_SANITIZE = re.compile(r"[^A-Za-z0-9]")


def sanitize_id(name: str) -> str:
    """DOT identifier sanitization (X5) with the zero-digit bug fixed."""
    return _SANITIZE.sub("_", name)


def _display_key(node_type: str):
    """Display order: movies lexicographic (O1), actors by surname = last
    space-separated token (O2, X6, ``graph.erl:93-98``), then full name.
    Python's code-point ``str`` order is Spark's binary UTF-8 sort order."""
    return (lambda n: (n.rsplit(" ", 1)[-1], n)) if node_type == ACTOR else None


def collect_edges(result: BfsResult) -> list[tuple]:
    """``(src, dst, level)`` edges in one collect, by (level, src, dst)."""
    edges = [(r["src"], r["dst"], r["level"]) for r in result.edges.collect()]
    return sorted(edges, key=lambda e: (e[2], e[0], e[1]))


def sorted_vertices(result: BfsResult, edges: list[tuple]) -> list[str]:
    """Root and edge ends of ``edges`` in display order (no Spark job)."""
    names = {result.root}
    for src, dst, _level in edges:
        names.update((src, dst))
    return sorted(names, key=_display_key(result.node_type))


def to_dot(result: BfsResult) -> str:
    """Assemble DOT text (G4) via DFS from the root (G3)."""
    children: dict[str, list[str]] = defaultdict(list)
    for src, dst, _level in collect_edges(result):
        children[src].append(dst)
    for v in children.values():
        v.sort(key=_display_key(result.node_type))

    lines = ["digraph G {", f'  label="{result.root} (level graph)";']
    emitted: set[str] = set()

    def dfs(node: str) -> None:
        if node in emitted:
            return
        emitted.add(node)
        nid = sanitize_id(node)
        lines.append(f'  {nid} [label="{node}"];')
        for child in children.get(node, []):
            lines.append(f"  {nid} -> {sanitize_id(child)};")
            dfs(child)

    # the edges are a tree under the root: DFS declares every vertex
    dfs(result.root)
    lines.append("}")
    return "\n".join(lines)


def write_dot(result: BfsResult, path: str) -> str:
    dot = to_dot(result)
    with open(path, "w", encoding="utf-8") as f:
        f.write(dot)
    return path


def render_png(result: BfsResult, path: str) -> str:
    """Render the BFS graph to PNG via the ``dot`` binary, matching the
    reference's ``os:cmd("dot -Tpng ...")`` step
    (``/root/reference/src/master/graphviz.erl:94-100``; the viewer launch
    on the line after stays out of engine scope). Requires GraphViz on
    PATH — raises ``RuntimeError`` if absent (check ``shutil.which("dot")``
    before calling to degrade gracefully)."""
    import shutil
    import subprocess

    if shutil.which("dot") is None:
        raise RuntimeError(
            "GraphViz 'dot' binary not found on PATH; install graphviz or "
            "use write_dot() and render elsewhere"
        )
    proc = subprocess.run(
        ["dot", "-Tpng", "-o", path],
        input=to_dot(result).encode("utf-8"),
        capture_output=True,
        check=False,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"dot -Tpng failed: {proc.stderr.decode(errors='replace')}")
    return path

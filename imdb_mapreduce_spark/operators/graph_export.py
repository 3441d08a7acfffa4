"""DOT/graph serialization of a co-star reply (SURVEY.md §2.9 G3/G4, §2.1 K4).

The reference materializes each request's digraph and renders it to PNG via
GraphViz (``/root/reference/src/master/graphviz.erl:63-100``,
``src/master/graph.erl:47-79``). Rendering (``dot -Tpng``) stays outside the
engine; what we reproduce is the deterministic DOT text assembly over a
reply's ``(root, node_type, edges)``, the edges ``(src, dst, level)``:

- node ids are the names themselves, quoted, with ``\\`` and ``"``
  escaped — the reference sanitizes them with ``[^A-Za-z1-9] → _``
  (``graph.erl:30``), which merges distinct names into one vertex
  (``Müller``/``Möller``) and mangles the digit zero; not replicated;
- movies listed in lexicographic order (O1, ``graph.erl:92``), actors by
  surname = last space-separated token (O2, ``graph.erl:93-98``, scalar X6);
- tree linearization: depth-first emission from the root (G3,
  ``graph.erl:67-79``) — on the driver, over the reply's bounded edges.
"""

from __future__ import annotations

from collections import defaultdict

from imdb_mapreduce_spark.operators.graph import ACTOR


def _dot_id(name: str) -> str:
    """``name`` as a quoted DOT id: distinct names stay distinct ids."""
    return '"' + name.replace("\\", "\\\\").replace('"', '\\"') + '"'


def _display_key(node_type: str):
    """Display order: movies lexicographic (O1), actors by surname = last
    space-separated token (O2, X6, ``graph.erl:93-98``), then full name.
    Python's code-point ``str`` order is Spark's binary UTF-8 sort order."""
    return (lambda n: (n.rsplit(" ", 1)[-1], n)) if node_type == ACTOR else None


def sorted_vertices(root: str, node_type: str, edges: list[tuple]) -> list[str]:
    """Root and edge ends of ``edges`` in display order (no Spark job)."""
    names = {root}
    for src, dst, _level in edges:
        names.update((src, dst))
    return sorted(names, key=_display_key(node_type))


def to_dot(root: str, node_type: str, edges: list[tuple]) -> str:
    """Assemble DOT text (G4) via DFS from the root (G3)."""
    children: dict[str, list[str]] = defaultdict(list)
    for src, dst, _level in edges:
        children[src].append(dst)
    for v in children.values():
        v.sort(key=_display_key(node_type))

    lines = ["digraph G {", f"  label={_dot_id(root + ' (level graph)')};"]
    emitted: set[str] = set()

    def dfs(node: str) -> None:
        if node in emitted:
            return
        emitted.add(node)
        nid = _dot_id(node)
        lines.append(f"  {nid};")
        for child in children.get(node, []):
            lines.append(f"  {nid} -> {_dot_id(child)};")
            dfs(child)

    # the edges are a tree under the root: DFS declares every vertex
    dfs(root)
    lines.append("}")
    return "\n".join(lines)


def write_dot(root: str, node_type: str, edges: list[tuple], path: str) -> str:
    with open(path, "w", encoding="utf-8") as f:
        f.write(to_dot(root, node_type, edges))
    return path


def render_png(root: str, node_type: str, edges: list[tuple], path: str) -> str:
    """Render the reply graph to PNG via the ``dot`` binary, matching the
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
        input=to_dot(root, node_type, edges).encode("utf-8"),
        capture_output=True,
        check=False,
    )
    if proc.returncode != 0:
        raise RuntimeError(f"dot -Tpng failed: {proc.stderr.decode(errors='replace')}")
    return path

"""The request service over the local ``cast_edges`` fixture: concurrent
clients, a budget refusal on a live connection, and the engine's
once-per-engine degree aggregate and adjacency fill."""

from __future__ import annotations

import json
import logging
import socket
import sys
import threading
import time

from imdb_mapreduce_spark import api
from imdb_mapreduce_spark.api import ImdbEngine
from imdb_mapreduce_spark.service import serve_background

# two clients, each repeating a query the other also sends
CLIENT_REQUESTS = [
    [("Jane Doe", "actor", 2), ("Alpha Zero 0", "movie", 2), ("Jane Doe", "actor", 1)],
    [("Bob O'Hara", "actor", 3), ("Gamma", "movie", 2), ("Jane Doe", "actor", 2)],
]


def _ask(f, req: dict) -> dict:
    f.write((json.dumps(req) + "\n").encode())
    f.flush()
    return json.loads(f.readline())


def _counting_degree(monkeypatch, fn=None) -> list[list[str]]:
    """Records the node columns of each degree aggregate the engine runs."""
    calls: list[list[str]] = []
    real = fn or api.degree_stats

    def counted(edges, node_cols):
        calls.append(list(node_cols))
        return real(edges, node_cols)

    monkeypatch.setattr(api, "degree_stats", counted)
    return calls


def test_service_round_trip_over_local_fixture(cast_edges, monkeypatch):
    engine = ImdbEngine(cast_edges)
    degree_calls = _counting_degree(monkeypatch)
    replies: dict[int, list] = {}
    errors: list = []
    barrier = threading.Barrier(len(CLIENT_REQUESTS))

    def client(i: int) -> None:
        try:
            with socket.create_connection(("127.0.0.1", port), timeout=120) as s:
                f = s.makefile("rwb")
                barrier.wait(timeout=60)  # both connected before either sends
                replies[i] = [
                    _ask(f, {"name": n, "type": t, "level": lvl})
                    for n, t, lvl in CLIENT_REQUESTS[i]
                ]
        except Exception as e:  # noqa: BLE001 — surfaced on the main thread
            errors.append((i, e))

    srv, port = serve_background(engine)
    try:
        threads = [threading.Thread(target=client, args=(i,)) for i in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors

        with socket.create_connection(("127.0.0.1", port), timeout=120) as s:
            f = s.makefile("rwb")
            over = _ask(f, {"name": "Jane Doe", "type": "actor", "level": 2, "max_vertices": 1})
            assert over["error"].startswith("BfsBudgetExceeded: BFS budget exceeded: ")
            assert "max_vertices=1" in over["error"]
            # the connection keeps serving after the refusal
            again = _ask(f, {"name": "Jane Doe", "type": "actor", "level": 2})
    finally:
        srv.shutdown()
        srv.server_close()

    for i, reqs in enumerate(CLIENT_REQUESTS):
        for (n, t, lvl), reply in zip(reqs, replies[i], strict=True):
            want_v, want_e = engine.request(n, t, lvl)
            assert reply == {"vertices": want_v, "edges": [list(e) for e in want_e]}
    assert again["vertices"] == ["John Q. Smith 0", "Jane Doe", "Bob O'Hara"]  # by surname
    # a dozen level >= 2 requests, yet one degree aggregate for both
    # directions, and the fixture is filled in full
    assert degree_calls == [["actor", "title"]]
    assert engine.adjacency._complete


def test_service_logs_one_line_per_request(cast_edges, caplog):
    """One INFO line per request on the service's logger: name, type,
    level, latency, vertices and edges returned, and the outcome."""
    caplog.set_level(logging.INFO, logger="imdb_mapreduce_spark.service")
    srv, port = serve_background(ImdbEngine(cast_edges))
    try:
        with socket.create_connection(("127.0.0.1", port), timeout=120) as s:
            f = s.makefile("rwb")
            answer = _ask(f, {"name": "Jane Doe", "type": "actor", "level": 2})
            refusal = _ask(
                f, {"name": "Jane Doe", "type": "actor", "level": 2, "max_vertices": 1}
            )
    finally:
        srv.shutdown()
        srv.server_close()
    assert len(answer["vertices"]) == 3 and len(answer["edges"]) == 2
    assert refusal["error"].startswith("BfsBudgetExceeded: ")
    lines = [
        r.getMessage() for r in caplog.records if r.name == "imdb_mapreduce_spark.service"
    ]
    assert len(lines) == 2, lines
    for line, tail in zip(
        lines, ("vertices=3 edges=2 outcome=answered", "vertices=0 edges=0 outcome=exact_refusal")
    ):
        assert line.startswith('request name="Jane Doe" type="actor" level=2 ms='), line
        assert float(line.split(" ms=")[1].split()[0]) > 0
        assert line.endswith(tail), line


def test_service_rejects_a_non_positive_budget(cast_edges, caplog):
    """A client's ``max_vertices`` of 0 or -1 is an invalid request at any
    level: an error reply on the live connection, logged as an error, not
    a budget refusal."""
    caplog.set_level(logging.INFO, logger="imdb_mapreduce_spark.service")
    srv, port = serve_background(ImdbEngine(cast_edges))
    cases = [(budget, level) for budget in (0, -1) for level in (1, 2)]
    try:
        with socket.create_connection(("127.0.0.1", port), timeout=120) as s:
            f = s.makefile("rwb")
            replies = [
                _ask(f, {"name": "Jane Doe", "level": level, "max_vertices": budget})
                for budget, level in cases
            ]
            answer = _ask(f, {"name": "Jane Doe", "level": 2, "max_vertices": 3})
    finally:
        srv.shutdown()
        srv.server_close()
    for reply in replies:
        assert reply == {"error": "ValueError: max_vertices must be positive"}
    assert len(answer["vertices"]) == 3
    lines = [
        r.getMessage() for r in caplog.records if r.name == "imdb_mapreduce_spark.service"
    ]
    assert [line.rsplit(" ", 1)[1] for line in lines] == (
        ["outcome=error"] * len(cases) + ["outcome=answered"]
    )


def _contend(ask, n: int = 16) -> list:
    """``ask(kind)`` on ``n`` threads released at once, ``kind``
    alternating "movie" / "actor"; returns each thread's result."""
    got: list = []
    start = threading.Barrier(n)

    def run(kind: str) -> None:
        start.wait(timeout=30)
        got.append((kind, ask(kind)))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=run, args=("actor" if i % 2 else "movie",))
            for i in range(n)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    return got


def test_degree_is_computed_once_under_contending_threads(cast_edges, monkeypatch):
    """Many handler threads sending an engine's first level-2 requests at
    once still run one degree aggregate and one fill, and each gets the
    reply a lone request gets. Many asking a read-through adjacency for
    the same keys at once get equal replies, and each key is fetched
    once: a thread that misses a key another is fetching waits for that
    fetch."""
    from imdb_mapreduce_spark.operators import graph

    def slow_degree(edges, node_cols):
        time.sleep(0.02)  # a window for a second thread to slip in
        return graph.degree_stats(edges, node_cols)

    calls = _counting_degree(monkeypatch, slow_degree)
    fills: list[int] = []
    real_fill = graph.Adjacency.fill

    def counted_fill(self, n_edges):
        fills.append(n_edges)
        real_fill(self, n_edges)

    monkeypatch.setattr(graph.Adjacency, "fill", counted_fill)
    lookups: list = []
    monkeypatch.setattr(graph, "_lookup", lambda *a: lookups.append(a))
    roots = {"actor": "Jane Doe", "movie": "Alpha Zero 0"}
    engine = ImdbEngine(cast_edges)
    got = _contend(lambda kind: engine.request(roots[kind], kind, 2))
    assert calls == [["actor", "title"]] and fills == [cast_edges.count()]
    assert lookups == []  # every request read the filled index
    monkeypatch.undo()
    want = {kind: ImdbEngine(cast_edges).request(root, kind, 2) for kind, root in roots.items()}
    assert all(reply == want[kind] for kind, reply in got)

    fetches: list[tuple[str, list]] = []

    def slow_lookup(edges, key_col, keys, val_col):
        fetches.append((key_col, list(keys)))
        time.sleep(0.02)
        return [(k, f"{k}/{i}") for k in keys if k != "dead end" for i in (1, 0, 1)]

    monkeypatch.setattr(graph, "_lookup", slow_lookup)
    adjacency = graph.Adjacency(None)
    keys = {"actor": ["b", "a", "dead end"], "movie": ["T", "a", "dead end"]}

    def ask(kind: str) -> list:
        key_col, val_col = graph.COSTAR_COLS[kind]
        return adjacency.lookup(key_col, keys[kind], val_col)

    want = {
        "actor": [("b", "b/1"), ("b", "b/0"), ("a", "a/1"), ("a", "a/0")],
        "movie": [("T", "T/1"), ("T", "T/0"), ("a", "a/1"), ("a", "a/0")],
    }
    assert all(got == want[kind] for kind, got in _contend(ask))
    for key_col, fetched in fetches:
        assert len(set(fetched)) == len(fetched)
    per_key: dict[tuple, int] = {}
    for key_col, fetched in fetches:
        for k in fetched:
            per_key[key_col, k] = per_key.get((key_col, k), 0) + 1
    assert per_key == dict.fromkeys(per_key, 1) and len(per_key) == 6, per_key
    fetches.clear()
    assert all(got == want[kind] for kind, got in _contend(ask))
    assert fetches == []


def test_adjacency_waiters_fetch_for_themselves_when_the_fetch_fails(monkeypatch):
    """A fetch that raises releases the threads waiting on it, and each
    fetches the key itself; none hangs (``_contend`` joins with a timeout)."""
    from imdb_mapreduce_spark.operators import graph

    calls: list[str] = []

    def failing_once(edges, key_col, keys, val_col):
        first = not calls
        calls.append(key_col)
        time.sleep(0.02)  # a window for the other threads to start waiting
        if first:
            raise RuntimeError("lookup job failed")
        return [(k, f"{k}/0") for k in keys]

    monkeypatch.setattr(graph, "_lookup", failing_once)
    adjacency = graph.Adjacency(None)

    def ask(kind: str):
        try:
            return adjacency.lookup("actor", ["a", "b"], "title")
        except RuntimeError as e:
            return e

    got = [v for _, v in _contend(ask)]
    assert sum(isinstance(v, RuntimeError) for v in got) == 1
    assert [v for v in got if not isinstance(v, RuntimeError)] == [
        [("a", "a/0"), ("b", "b/0")]
    ] * 15
    assert adjacency._inflight == {}

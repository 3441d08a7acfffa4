"""``costar_serve``: the paper's flagship k-level co-star query, served by
``ImdbService`` to closed-loop clients.

Set-up ingests a seeded IMDb-shaped graph with ``ImdbEngine.from_tsv`` and
starts the service. ``CLIENTS`` connections then replay one seeded request
sequence: each client sends its next request only after the previous reply
arrived, as the reference GUI's blocking ``gen_server:call`` does. Latency
is taken at the client, per request.

Every reply is checked against :func:`reference_bfs`, a pure-Python BFS
over the generated edge list with the engine's documented semantics: one
global visited set, each child attached to its minimum discovering parent,
level k = k-1 expansion rounds, and the ``max_vertices`` budget (a
pre-join refusal on the frontier x avg-degree^2 work estimate, then an
exact post-round vertex check).
"""

from __future__ import annotations

import json
import re
import socket
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np

import corpus

# A budget a GUI can draw: hub expansions at level 3-4 exceed it.
BUDGET = 500
# One GUI session of 20 requests. A slot is
# either (type, level, outcome) -- a Zipf-popular name whose reference
# outcome is that one -- or the index of an earlier slot of the same
# session, whose request it repeats. Every seed so serves the same mix:
# 75% actor queries; levels 1-4 at 10/45/35/10%; 13 answers, 5 exact and
# 2 estimated budget refusals; 6 repeats,
# which with the names the Zipf draw repeats by itself make about a third
# of requests repeat an earlier one. A run replays at least the first
# MIN_REQUESTS slots, three quarters of them answers, so its median and
# p75 fall among answered requests rather than between the answer and
# refusal modes.
SESSION = (
    ("actor", 2, "answer"),
    ("actor", 3, "exact"),
    ("actor", 1, "answer"),
    0,
    ("movie", 2, "answer"),
    ("actor", 2, "answer"),
    ("actor", 3, "estimated"),
    4,
    ("actor", 3, "answer"),
    5,
    ("movie", 3, "exact"),
    ("movie", 1, "answer"),
    ("actor", 2, "answer"),
    ("actor", 4, "exact"),
    8,
    ("actor", 3, "answer"),
    ("actor", 4, "estimated"),
    1,
    12,
    ("movie", 2, "exact"),
)
# Name popularity: P(rank r) ~ 1 / (r + 1) ** ZIPF_S over each type's
# names ordered by degree.
ZIPF_S = 0.6
NON_ACTOR_SHARE = 0.03  # names with no acting credit: a 1-vertex answer
MAX_DRAWS = 20_000
SEQUENCE_LEN = 5 * len(SESSION)
MIN_REQUESTS = 16  # per run: the p75 tail has 4 requests beyond it
CLIENTS = 2
# Relative margin around the pre-join work threshold inside which the
# engine's HyperLogLog degree estimate could flip the outcome.
ESTIMATE_MARGIN = 0.05


class CastIndex:
    """Both adjacency directions of the name-level bipartite graph."""

    def __init__(self, edges: list[tuple[str, str]]) -> None:
        self.titles_of: dict[str, set[str]] = defaultdict(set)
        self.cast_of: dict[str, set[str]] = defaultdict(set)
        for title, actor in edges:
            self.titles_of[actor].add(title)
            self.cast_of[title].add(actor)

    def sides(self, node_type: str):
        if node_type == "actor":
            return self.titles_of, self.cast_of
        return self.cast_of, self.titles_of


@dataclass
class Expected:
    """What a correct engine replies to one request.

    ``kind`` is ``answer``, ``exact`` (post-round vertex check) or
    ``estimated`` (pre-join work estimate). ``fits`` says whether the
    unbudgeted result fits the budget; ``ambiguous`` marks a work estimate
    too close to the threshold to predict."""

    kind: str
    fits: bool
    vertices: list[str] = field(default_factory=list)
    edges: list[tuple[str, str, int]] = field(default_factory=list)
    exact_refusal: tuple[int, int] | None = None  # (visited, level)
    ambiguous: bool = False


def display_key(node_type: str):
    if node_type == "actor":
        return lambda name: (name.split(" ")[-1], name)
    return lambda name: (name, name)


def reference_bfs(
    index: CastIndex,
    root: str,
    node_type: str,
    level: int,
    budget: int,
    degree: float,
    work_slack: int,
) -> Expected:
    out, back = index.sides(node_type)
    visited = {root}
    frontier = [root]
    edges: list[tuple[str, str, int]] = []
    threshold = budget * work_slack
    kind, exact, ambiguous, fits = None, None, False, True
    for lvl in range(1, level):
        est = len(frontier) * degree * degree
        if kind is None:
            if abs(est - threshold) <= ESTIMATE_MARGIN * threshold:
                ambiguous = True
            if est > threshold:
                kind = "estimated"
        best: dict[str, str] = {}
        for s in frontier:
            for via in out.get(s, ()):
                for d in back[via]:
                    if d != s and (d not in best or s < best[d]):
                        best[d] = s
        children = {d: s for d, s in best.items() if d not in visited}
        if not children:
            break
        visited.update(children)
        edges.extend((s, d, lvl) for d, s in children.items())
        if len(visited) > budget:
            fits = False
            if kind is None:
                kind, exact = "exact", (len(visited), lvl)
            break
        frontier = list(children)
    if kind is not None:
        return Expected(kind, fits, exact_refusal=exact, ambiguous=ambiguous)
    return Expected(
        "answer",
        True,
        vertices=sorted(visited, key=display_key(node_type)),
        edges=sorted(edges, key=lambda e: (e[2], e[0], e[1])),
        ambiguous=ambiguous,
    )


Request = tuple[str, str, int, int]  # (name, type, level, max_vertices)


@dataclass
class Workload:
    sequence: list[Request]
    expected: dict[Request, Expected]
    warmup: list[Request]


def make_workload(
    graph: corpus.CastGraph,
    degrees: dict[str, float],
    seed: int,
    work_slack: int,
) -> Workload:
    """The seeded request sequence. Each slot of :data:`SESSION` draws
    Zipf-popular names until the reference outcome is the slot's. A
    candidate whose outcome the engine's estimate could flip, or that a
    correct engine would refuse although it fits the budget, is redrawn:
    every request then has one right reply."""
    rng = np.random.default_rng([seed, 1])
    index = CastIndex(graph.edges)
    pools = {"actor": graph.actors_by_popularity, "movie": graph.titles_by_popularity}
    weights = {}
    for kind, pool in pools.items():
        w = 1.0 / (np.arange(len(pool)) + 1.0) ** ZIPF_S
        weights[kind] = w / w.sum()
    expected: dict[Request, Expected] = {}

    def admit(req: Request) -> bool:
        if req not in expected:
            name, node_type, level, budget = req
            expected[req] = reference_bfs(
                index, name, node_type, level, budget, degrees[node_type], work_slack
            )
        exp = expected[req]
        return not exp.ambiguous and not (exp.kind == "estimated" and exp.fits)

    def draw(node_type: str, level: int, kind: str) -> Request:
        pool = pools[node_type]
        for _ in range(MAX_DRAWS):
            if kind == "answer" and node_type == "actor" and rng.random() < NON_ACTOR_SHARE:
                name = str(rng.choice(graph.non_actors))
            else:
                name = pool[int(rng.choice(len(pool), p=weights[node_type]))]
            req = (name, node_type, level, BUDGET)
            if admit(req) and expected[req].kind == kind:
                return req
        raise RuntimeError(f"no {kind} outcome for a level-{level} {node_type} request")

    sequence: list[Request] = []
    while len(sequence) < SEQUENCE_LEN:
        slot = SESSION[len(sequence) % len(SESSION)]
        if isinstance(slot, int):
            session_start = len(sequence) - len(sequence) % len(SESSION)
            sequence.append(sequence[session_start + slot])
        else:
            sequence.append(draw(*slot))
    # warm-up: the least popular names, none of them in the sequence
    used = {r[0] for r in sequence}
    warmup = [
        (next(n for n in reversed(pools[t]) if n not in used), t, level, BUDGET)
        for t, level in (("actor", 2), ("movie", 3))
    ]
    for req in warmup:
        admit(req)
    return Workload(sequence, expected, warmup)


def repeat_share(requests: list[Request]) -> float:
    seen: set[Request] = set()
    repeats = 0
    for r in requests:
        repeats += r in seen
        seen.add(r)
    return repeats / max(1, len(requests))


# ---------------------------------------------------------------------------
# Reply classification
# ---------------------------------------------------------------------------

_REFUSAL = re.compile(
    r"BfsBudgetExceeded: BFS budget exceeded: (\d+) "
    r"(estimated expansion work|vertices reached) at level (\d+)"
)


@dataclass
class Verdict:
    outcome: str  # answered | exact_refusal | estimated_refusal | error
    ok: bool
    false_refusal: bool = False
    rounds: int = 0
    detail: str = ""


def classify(req: Request, reply: dict, exp: Expected) -> Verdict:
    level = req[2]
    if "error" not in reply:
        ok = (
            exp.kind == "answer"
            and reply.get("vertices") == exp.vertices
            and [tuple(e) for e in reply.get("edges", [])] == exp.edges
        )
        top = max((e[2] for e in reply.get("edges", [])), default=0)
        rounds = min(level - 1, top + 1)
        return Verdict("answered", ok, rounds=rounds, detail="" if ok else "answer differs")
    m = _REFUSAL.match(reply["error"])
    if not m:
        return Verdict("error", False, detail=reply["error"][:200])
    count, kind, lvl = int(m.group(1)), m.group(2), int(m.group(3))
    if kind.startswith("estimated"):
        return Verdict(
            "estimated_refusal",
            not exp.fits,
            false_refusal=exp.fits,
            rounds=lvl,
            detail="refused a request that fits" if exp.fits else "",
        )
    ok = exp.exact_refusal == (count, lvl) or (
        exp.kind == "estimated" and not exp.fits and count > req[3]
    )
    return Verdict("exact_refusal", ok, rounds=lvl, detail="" if ok else "wrong refusal")


# ---------------------------------------------------------------------------
# Closed-loop clients
# ---------------------------------------------------------------------------


@dataclass
class Served:
    index: int
    request: Request
    start: float  # wall clock, for alignment with Spark job times
    latency_s: float
    reply: dict


def replay(
    port: int,
    requests: list[Request],
    seconds: float,
    after_reply=None,
    min_requests: int = MIN_REQUESTS,
) -> tuple[list[Served], float]:
    """Replay ``requests`` in order over ``CLIENTS`` connections until
    ``seconds`` have passed and at least ``min_requests`` were sent.
    Returns the served requests and the window's wall time."""
    lock = threading.Lock()
    state = {"next": 0}
    served: list[Served] = []
    errors: list[Exception] = []
    t_begin = time.perf_counter()
    deadline = t_begin + seconds

    def client() -> None:
        try:
            with socket.create_connection(("127.0.0.1", port)) as sock, sock.makefile("rwb") as f:
                while True:
                    with lock:
                        i = state["next"]
                        if i >= len(requests) or (
                            i >= min_requests and time.perf_counter() >= deadline
                        ):
                            return
                        state["next"] = i + 1
                    name, node_type, level, budget = requests[i]
                    line = json.dumps(
                        {"name": name, "type": node_type, "level": level, "max_vertices": budget}
                    ).encode() + b"\n"
                    wall = time.time()
                    t0 = time.perf_counter()
                    f.write(line)
                    f.flush()
                    raw = f.readline()
                    dt = time.perf_counter() - t0
                    reply = json.loads(raw) if raw else {"error": "connection closed"}
                    with lock:
                        served.append(Served(i, requests[i], wall, dt, reply))
                    if after_reply is not None:
                        after_reply()
        except Exception as e:  # noqa: BLE001 — re-raised by the caller
            errors.append(e)

    threads = [threading.Thread(target=client, name=f"client-{c}") for c in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t_begin
    if errors:
        raise errors[0]
    served.sort(key=lambda s: s.index)
    return served, wall

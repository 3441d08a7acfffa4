"""Set-up, measurement and checks of the ``costar_serve`` workload (the
request model and its reference live in :mod:`costar`)."""

from __future__ import annotations

import itertools
import threading
import statistics
import time

import costar
import corpus
import instrument
from context import Context, Result

class TracedEngine:
    """Stands in for the engine behind the service in a traced run: each
    request gets a span and its own Spark job group, set on the handler
    thread that runs the BFS."""

    def __init__(self, engine, ctx: Context) -> None:
        self.engine = engine
        self.ctx = ctx
        self.REQUEST_MAX_VERTICES = engine.REQUEST_MAX_VERTICES
        self._ids = itertools.count()

    def request(self, name, node_type="actor", level=2, max_vertices=None):
        op = f"req-{next(self._ids)}"
        self.ctx.spark.sparkContext.setJobGroup(op, "costar request")
        with self.ctx.tracer.span("api.request", op) as sp:
            sp.counts["request"] = [name, node_type, level, max_vertices]
            return self.engine.request(name, node_type, level, max_vertices=max_vertices)


class _Patched:
    """Wraps the layer functions ``ImdbEngine.request`` calls into (the
    module attributes it looks up at call time) with spans, and restores
    them on exit."""

    def __init__(self, tracer: instrument.Tracer) -> None:
        from imdb_mapreduce_spark import api
        from imdb_mapreduce_spark.operators import graph_export

        self.targets = [
            (api, "costar_bfs", "operators.graph.costar_bfs"),
            (graph_export, "sorted_vertices", "operators.graph_export.sorted_vertices"),
        ]
        self.tracer = tracer
        self.saved = []

    def __enter__(self):
        for mod, attr, span_name in self.targets:
            orig = getattr(mod, attr)
            self.saved.append((mod, attr, orig))

            def wrapped(*a, _orig=orig, _name=span_name, **k):
                with self.tracer.span(_name):
                    return _orig(*a, **k)

            setattr(mod, attr, wrapped)
        return self

    def __exit__(self, *exc):
        for mod, attr, orig in self.saved:
            setattr(mod, attr, orig)


def _setup(ctx: Context):
    from imdb_mapreduce_spark.api import ImdbEngine

    t0 = time.perf_counter()
    paths, graph = corpus.write_imdb_tsvs(ctx.corpus_dir("imdb"), ctx.seed)
    t1 = time.perf_counter()
    engine = ImdbEngine.from_tsv(ctx.spark, paths["basics"], paths["principals"], paths["names"])
    rows = engine.cast_edges.count()  # materializes the cached edge table
    t2 = time.perf_counter()
    return engine, graph, rows, t2 - t0, t2 - t1


def _engine_degrees(engine) -> dict[str, float]:
    """The average degrees ``bipartite_bfs`` computes for its pre-join
    work estimate, by the same aggregate over the same table."""
    from pyspark.sql import functions as F

    row = engine.cast_edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("actor").alias("actors"),
        F.approx_count_distinct("title").alias("titles"),
    ).collect()[0]
    return {"actor": row["n"] / max(1, row["actors"]), "movie": row["n"] / max(1, row["titles"])}


def _verify(served, workload) -> tuple[list[costar.Verdict], list[str]]:
    verdicts, failures = [], []
    for s in served:
        v = costar.classify(s.request, s.reply, workload.expected[s.request])
        verdicts.append(v)
        if not v.ok:
            failures.append(f"{s.request}: {v.detail}")
    return verdicts, failures


def _e2e(served, wall: float) -> dict:
    lat_ms = [s.latency_s * 1000.0 for s in served]
    return {
        "req_p50_ms": instrument.quantile(lat_ms, 0.5),
        "req_tail_ms": instrument.quantile(lat_ms, instrument.TAIL_QUANTILE),
        # the inverse of throughput: seconds per full request session
        "pass_s": len(costar.SESSION) * wall / len(served),
        "query_geomean_ms": statistics.geometric_mean(lat_ms),
    }


def run(ctx: Context) -> Result:
    from imdb_mapreduce_spark.operators.graph import BFS_WORK_SLACK
    from imdb_mapreduce_spark.service import serve_background

    engine, graph, rows, corpus_s, ingest_s = _setup(ctx)

    workload = costar.make_workload(graph, _engine_degrees(engine), ctx.seed, BFS_WORK_SLACK)

    t0 = time.perf_counter()
    srv, port = serve_background(engine)
    try:
        warm, _ = costar.replay(port, workload.warmup, 0.0)
        warm_s = time.perf_counter() - t0
        print(f"setup: corpus + ingest {corpus_s:.3f} s, service + warm-up {warm_s:.3f} s")
        # the measured window; a traced run then replays the start of the
        # sequence untraced and traced once more, and compares the two
        windows = [_window(ctx, srv, engine, workload, ctx.trace, costar.MIN_REQUESTS)]
        if ctx.trace:
            half = costar.MIN_REQUESTS // 2
            windows += [_window(ctx, srv, engine, workload, t, half) for t in (False, True)]
    finally:
        srv.shutdown()
        srv.server_close()

    served, wall, reqs = windows[0]
    values = _e2e(served, wall)
    if ctx.trace:
        values.update(_per_layer(ctx.tracer, served, reqs))
        untraced, traced = (_e2e(w[0], w[1])["req_p50_ms"] for w in windows[1:])
        values["trace.overhead_share"] = traced / untraced - 1.0
    verdicts, failures = _verify(warm + [s for w in windows for s in w[0]], workload)
    counted = verdicts[len(warm) : len(warm) + len(served)]
    print(
        f"window {wall:.3f} s: "
        + " ".join(
            f"{s.request[1][0]}{s.request[2]}{v.outcome[0]}={s.latency_s:.3f}"
            for s, v in zip(served, counted)
        )
    )
    values.update(
        {
            "setup_s": ctx.session_start_s + corpus_s + warm_s,
            "session.start_s": ctx.session_start_s,
            "ingest.cast_edges_s": ingest_s,
            "ingest.cast_edges_rows": rows,
            "setup.warm_pass_s": warm_s,
            "bfs.answered": sum(v.outcome == "answered" for v in counted),
            "bfs.budget_refusals": sum(v.outcome.endswith("refusal") for v in counted),
            "bfs.false_refusals": sum(v.false_refusal for v in counted),
            "bfs.repeat_share": costar.repeat_share([s.request for s in served]),
            "operators.graph.rounds": sum(v.rounds for v in counted) / len(counted),
            "error_share": len(failures) / len(verdicts),
        }
    )
    return Result(len(verdicts), len(failures), values, failures)


def _window(ctx: Context, srv, engine, workload, traced: bool, min_requests: int):
    """One replay of the sequence. Traced: the service runs a
    :class:`TracedEngine`, layer functions are wrapped in spans, and each
    request's Spark jobs are read from the status store between the
    client's requests, before the store evicts them. Returns the served
    requests, the window's wall time and, traced, each request's
    ``api.request`` span with its job stats."""
    port = srv.server_address[1]
    if not traced:
        served, wall = costar.replay(port, workload.sequence, ctx.seconds, None, min_requests)
        return served, wall, []
    first = len(ctx.tracer.spans)
    harvested: dict[int, instrument.JobStats] = {}
    lock = threading.Lock()

    def harvest() -> None:
        with lock:
            ctx.stats.settle()
            for sp in ctx.tracer.spans[first:]:
                if sp.name == "api.request" and sp.end and sp.span_id not in harvested:
                    harvested[sp.span_id] = ctx.stats.collect(ctx.stats.group_job_ids(sp.op))

    srv.engine = TracedEngine(engine, ctx)
    try:
        with _Patched(ctx.tracer):
            served, wall = costar.replay(port, workload.sequence, ctx.seconds, harvest, min_requests)
    finally:
        srv.engine = engine
    harvest()
    reqs = [s for s in ctx.tracer.spans[first:] if s.name == "api.request"]
    return served, wall, [(r, harvested[r.span_id]) for r in reqs]


def _per_layer(tracer: instrument.Tracer, served, reqs) -> dict:
    """Per-request means, so the request-path parts add up to
    ``api.request_ms``: BFS + vertex fetch + self time (the edge fetch)."""
    children: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def child_s(sp, name):
        return sum(c.seconds for c in children.get(sp.span_id, []) if c.name == name)

    n = len(reqs)
    req_s = [r.seconds for r, _ in reqs]
    bfs = [child_s(r, "operators.graph.costar_bfs") for r, _ in reqs]
    verts = [child_s(r, "operators.graph_export.sorted_vertices") for r, _ in reqs]
    wire = _wire_ms(served, [r for r, _ in reqs])
    return {
        "api.request_ms": 1000 * sum(req_s) / n,
        "operators.graph.bfs_ms": 1000 * sum(bfs) / n,
        "operators.graph_export.vertices_ms": 1000 * sum(verts) / n,
        "api.edges_fetch_ms": 1000 * (sum(req_s) - sum(bfs) - sum(verts)) / n,
        "service.wire_ms": sum(wire) / len(wire) if wire else 0.0,
        "spark.jobs_per_req": sum(j.jobs for _, j in reqs) / n,
        "spark.task_run_ms_per_req": sum(j.task_run_ms for _, j in reqs) / n,
        "spark.driver_gap_ms_per_req": 1000 * sum(j.driver_gap_s(r.start, r.end) for r, j in reqs) / n,
        "spark.shuffle_mb_per_req": instrument.mb(sum(j.shuffle_bytes for _, j in reqs)) / n,
        "spark.spill_mb_per_req": instrument.mb(sum(j.spill_bytes for _, j in reqs)) / n,
    }


def _wire_ms(served, reqs) -> list[float]:
    """Client latency minus the engine's time for the same request: the
    server span with the same request parameters that lies inside the
    client's interval."""
    by_key: dict[tuple, list] = {}
    for r in reqs:
        by_key.setdefault(tuple(r.counts["request"]), []).append(r)
    out = []
    for s in served:
        end = s.start + s.latency_s
        for r in by_key.get(tuple(s.request), []):
            if r.start >= s.start and r.end <= end + 1e-3:
                out.append((s.latency_s - r.seconds) * 1000.0)
                by_key[tuple(s.request)].remove(r)
                break
    return out

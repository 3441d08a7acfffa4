"""``batch_mixed``: sequential passes over registry queries from every query
module, read-only families (relational, graph, sketch, dedup, text,
multimodal) beside write-heavy ones (erasure repair, IVF delete-in-place,
upsert, history, realtime reads over staged state).

Set-up copies the engine's star test corpus under a fresh name,
cold-builds the silver co-purchase tables it needs and runs an untimed
warm-up. The seed sets the order of the queries within each timed pass.
One client runs one query at a time, so
every Spark job launched between an operation's start and end belongs to
it: jobs are attributed by the DAG scheduler's job-id range, which also
catches jobs submitted from helper threads outside the caller's job group.

Each query is timed from the ``spark_fn`` call to the end of ``toPandas``:
``build`` is the call (plan construction plus any eager actions inside the
builder), ``collect`` the fetch. The first timed pass is checked against
each query's DuckDB oracle after the pass, outside the timed region; a
query that raises in any pass is a failure.
"""

from __future__ import annotations

import contextlib
import random
import statistics
import time

import corpus
import instrument
from context import Context, Result

# One pass: every query module of the engine, one query each, so that one
# pass fits the per-run budget.
QUERIES = (
    # plans.relational
    "pricing_summary",
    # plans.events: per-user erasure repair
    "events_rollup_user_erasure",
    # plans.graph_queries: iterative joins over the silver edge table
    "pagerank_coparts",
    # plans.quality: the 25-exchange sketch set-ops plan
    "kmv_set_ops",
    # plans.temporal_queries: history build
    "user_state_scd2",
    # pipeline.dedup
    "simhash_near_dups",
    # pipeline.similarity: IVF index write with in-place delete
    "ann_ivf_erasure_topk",
    # pipeline.text
    "tfidf_top_terms",
    # pipeline.multimodal
    "media_phash_dedup",
    # pipeline.curation: upsert
    "cdc_orders_upsert",
    # streaming.jobs: realtime read over staged state and folds
    "events_multires_rollup_realtime",
)
# Untimed warm-up in set-up. A one-time cost that the first query to need it
# pays would otherwise move between queries with the seeded order: the
# JVM's first-query JIT (pricing_summary), the Python worker start, ~1.7 s
# (media_metadata_stats, the cheapest query with a Python UDF), and the
# cold IVF index build with its first-use JIT, ~1.5 s (ann_ivf_erasure_topk).
# A full warm pass would cost another ~30 s per run.
WARMUP = ("pricing_summary", "media_metadata_stats", "ann_ivf_erasure_topk")


def module_of(query) -> str:
    return query.spark_fn.__module__.removeprefix("imdb_mapreduce_spark.")


def _leg_seconds() -> dict[str, float]:
    """Totals of the engine's process-global leg timings."""
    from imdb_mapreduce_spark.plans import events
    from imdb_mapreduce_spark.streaming import jobs

    return {
        "streaming.jobs.realtime_read_s": sum(sum(v) for v in jobs.REALTIME_READ_SEC.values()),
        "plans.events.erasure_state_s": sum(sum(v) for v in events.ERASURE_STATE_SEC.values()),
    }


def _setup(ctx: Context) -> tuple[str, float, float]:
    """The star corpus under a fresh name, then the engine's cold builds
    of the silver tables the queries read."""
    from imdb_mapreduce_spark.sources import silver

    t0 = time.perf_counter()
    sf_dir = corpus.copy_star_corpus(ctx.corpus_dir("star"))
    t1 = time.perf_counter()
    silver.copurchase_pairs(ctx.spark, sf_dir)
    silver.copurchase_edges(ctx.spark, sf_dir)
    t2 = time.perf_counter()
    return sf_dir, t2 - t0, t2 - t1


class _Op:
    """One timed query execution."""

    __slots__ = ("name", "module", "wall_s", "build_s", "pdf", "error", "jobs", "io", "legs", "span")

    def __init__(self, name: str, module: str) -> None:
        self.name, self.module = name, module
        self.pdf, self.error = None, None


def _run_op(ctx: Context, q, sf_dir: str, traced: bool, jvm: int) -> _Op:
    op = _Op(q.name, module_of(q))
    span = ctx.tracer.span if traced else (lambda *a, **k: contextlib.nullcontext())
    if traced:
        io0, legs0, first_job = instrument.io_chars(jvm), _leg_seconds(), ctx.stats.next_job_id()
    with span(f"query.{q.name}", op=q.name) as op.span:
        t0 = t1 = time.perf_counter()
        try:
            with span(f"{op.module}.build"):
                df = q.spark_fn(ctx.spark, sf_dir)
                t1 = time.perf_counter()
            with span(f"{op.module}.collect"):
                op.pdf = df.toPandas()
        except Exception as e:  # noqa: BLE001 — a failed query is a failed operation
            op.error = f"{type(e).__name__}: {e}"
        t2 = time.perf_counter()
    op.wall_s, op.build_s = t2 - t0, t1 - t0
    if traced:
        last_job = ctx.stats.next_job_id()
        ctx.stats.settle()
        op.jobs = ctx.stats.collect(range(first_job, last_job))
        io1, legs1 = instrument.io_chars(jvm), _leg_seconds()
        op.io = (io1[0] - io0[0], io1[1] - io0[1])
        op.legs = {k: legs1[k] - legs0[k] for k in legs1}
        op.span.counts.update({"jobs": op.jobs.jobs, "first_job": first_job, "last_job": last_job})
    return op


def _pass(ctx, queries, order, sf_dir, traced, jvm) -> tuple[list[_Op], float]:
    t0 = time.perf_counter()
    ops = [_run_op(ctx, queries[n], sf_dir, traced, jvm) for n in order]
    return ops, time.perf_counter() - t0


def _check(first, passes, sf_dir: str) -> list[str]:
    """Failures over every pass: each query that raised, and each answer of
    the ``first`` pass that differs from its DuckDB oracle."""
    from check_correctness import compare, duck_connection
    from imdb_mapreduce_spark.plans.registry import all_queries

    failures = [f"{op.name}: {op.error[:300]}" for ops, _ in passes for op in ops if op.error]
    reg = all_queries()
    con = duck_connection(sf_dir)
    try:
        for op in first:
            if op.error is None:
                odf = con.execute(reg[op.name].oracle).df()
                problems = compare(op.name, op.pdf, odf)
                if problems:
                    failures.append(f"{op.name}: {'; '.join(problems)[:300]}")
    finally:
        con.close()
    return failures


def _timed(ctx, queries, sf_dir, traced, jvm, rng):
    """Passes until ``ctx.seconds`` have passed (at least one); each pass
    runs every query once, in an order drawn from ``rng``."""
    passes = []
    t_end = time.perf_counter() + ctx.seconds
    while not passes or time.perf_counter() < t_end:
        order = rng.sample(QUERIES, len(QUERIES))
        passes.append(_pass(ctx, queries, order, sf_dir, traced, jvm))
    for ops, wall in passes:
        print(f"pass {wall:.3f} s: " + " ".join(f"{op.name}={op.wall_s:.3f}" for op in ops))
    return passes


def _e2e(passes) -> dict:
    wall_ms = [op.wall_s * 1000.0 for ops, _ in passes for op in ops]
    return {
        "pass_s": statistics.median([w for _, w in passes]),
        "query_geomean_ms": statistics.geometric_mean(wall_ms),
        "req_p50_ms": instrument.quantile(wall_ms, 0.5),
        "req_tail_ms": instrument.quantile(wall_ms, instrument.TAIL_QUANTILE),
    }


def run(ctx: Context) -> Result:
    from imdb_mapreduce_spark.plans.registry import all_queries

    reg = all_queries()
    queries = {n: reg[n] for n in QUERIES + WARMUP}
    jvm = instrument.jvm_pid(ctx.spark)

    sf_dir, corpus_s, silver_s = _setup(ctx)

    warm = _pass(ctx, queries, WARMUP, sf_dir, False, jvm)
    print(f"setup: corpus + silver {corpus_s:.3f} s, warm-up {warm[1]:.3f} s")

    rng = random.Random(ctx.seed)
    passes = _timed(ctx, queries, sf_dir, ctx.trace, jvm, rng)
    values = _e2e(passes)
    extra = []
    if ctx.trace:
        values.update(_per_layer(passes, queries))
        # tracing overhead: one more untraced and one more traced pass, in
        # the first pass's order; both run warmer than the first pass did
        order = [op.name for op in passes[0][0]]
        extra = [_pass(ctx, queries, order, sf_dir, t, jvm) for t in (False, True)]
        values["trace.overhead_share"] = extra[1][1] / extra[0][1] - 1.0
    ran = [warm] + passes + extra
    failures = _check(passes[0][0], ran, sf_dir)
    attempted = sum(len(ops) for ops, _ in ran)
    values.update(
        {
            "setup_s": ctx.session_start_s + corpus_s + warm[1],
            "session.start_s": ctx.session_start_s,
            "sources.silver.build_s": silver_s,
            "setup.warm_pass_s": warm[1],
            "error_share": len(failures) / attempted,
        }
    )
    return Result(attempted, len(failures), values, failures)


def _per_layer(passes, queries) -> dict:
    n_pass = len(passes)
    ops = [op for ops, _ in passes for op in ops]
    out: dict[str, float] = {}
    for mod in {module_of(q) for q in queries.values()}:
        mine = [op for op in ops if op.module == mod]
        gaps = [op.jobs.driver_gap_s(op.span.start, op.span.end) for op in mine]
        sums = {
            "wall_s": sum(op.wall_s for op in mine),
            "build_s": sum(op.build_s for op in mine),
            "jobs": sum(op.jobs.jobs for op in mine),
            "task_run_s": sum(op.jobs.task_run_ms for op in mine) / 1000.0,
            "shuffle_mb": instrument.mb(sum(op.jobs.shuffle_bytes for op in mine)),
            "driver_gap_s": sum(gaps),
        }
        for k, v in sums.items():
            out[f"{mod}.{k}"] = v / n_pass
    for n in QUERIES:
        out[f"query.{n}.wall_s"] = sum(op.wall_s for op in ops if op.name == n) / n_pass
    for leg in ("streaming.jobs.realtime_read_s", "plans.events.erasure_state_s"):
        out[leg] = sum(op.legs[leg] for op in ops) / n_pass
    out["io.read_mb"] = instrument.mb(sum(op.io[0] for op in ops)) / n_pass
    out["io.written_mb"] = instrument.mb(sum(op.io[1] for op in ops)) / n_pass
    out["spark.jobs_per_req"] = sum(op.jobs.jobs for op in ops) / len(ops)
    out["spark.task_run_ms_per_req"] = sum(op.jobs.task_run_ms for op in ops) / len(ops)
    out["spark.driver_gap_ms_per_req"] = 1000.0 * sum(
        op.jobs.driver_gap_s(op.span.start, op.span.end) for op in ops
    ) / len(ops)
    out["spark.shuffle_mb_per_req"] = instrument.mb(sum(op.jobs.shuffle_bytes for op in ops)) / len(ops)
    out["spark.spill_mb_per_req"] = instrument.mb(sum(op.jobs.spill_bytes for op in ops)) / len(ops)
    return out

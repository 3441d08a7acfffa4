"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed end-to-end (plan build + execution + driver fetch of the
result), after one untimed warm-up query to exclude JVM/session start from
per-query numbers (session startup is reported separately as "startup_sec").
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Headline set: one per operator family — scan/agg, join/topk, star join,
# window analytics, sessionization, time buckets, graph BFS, co-occurrence,
# dedup (exact + near), ANN, text, multimodal. Deliberately excludes the
# all-pairs-heavy embedding_label_dups at bench scale (bench is about the
# scalable paths).
HEADLINE = (
    "pricing_summary",
    "revenue_topk",
    "supplier_part_facts",
    "region_rollup",
    "orders_per_customer",
    "user_running_stats",
    "user_sessions",
    "events_10min_windows",
    "events_json_stats",
    "copurchase_bfs_l3",
    "copart_pairs_topk",
    "dedup_exact_groups",
    "ngram_jaccard_pairs",
    "corpus_keep_list",
    "minhash_lsh_dups",
    "embedding_lsh_dups",
    "ann_cosine_topk",
    "doc_quality_stats",
    "media_metadata_stats",
    # added r03 (new ops; per-query r2 comparisons unaffected)
    "ann_lsh_topk",
    "tfidf_top_terms",
    "token_pack_assignment",
    # added r04 (curation family; the two with nontrivial cost)
    "benchmark_decontam",
    "cdc_orders_upsert",
    # added r04 (quality + time-series; sub-second but perf-tracked so a
    # regression in the conditional-agg / grid-join plans is visible)
    "dq_expectations",
    "events_sliding_windows",
    "events_gapfill_zero",
    # added r05 (length-prefiltered pair join; portable 60-bit simhash)
    "ngram_jaccard_thresholded",
    "simhash_near_dups",
    # added r05 (new operators with nontrivial cost: pruned cubic triangle
    # join; paragraph explode + fingerprint join; range-exchange global rank)
    "copurchase_triangles",
    "paragraph_dedup_stats",
    "training_shuffle_order",
    # added r05 (the composed END PRODUCT: keep -> shuffle -> pack)
    "corpus_build_manifest",
    # added r05 session 2 (deterministic IVF probe path; portable sketch
    # family: count-min, bloom prune, theta set-ops; SCD2 history build)
    "ann_ivf_det_topk",
    "cm_sketch_heavy_hitters",
    "bloom_filter_prune",
    "kmv_set_ops",
    "user_state_scd2",
    # added r05 session 2 (second batch: pair-join dedup variants over
    # shingles and binary payloads; eval-integrity audits; featurizers)
    "ngram_containment_pairs",
    "media_phash_dedup",
    "split_leakage_audit",
    "text_feature_hashing",
    "embedding_random_projection",
    "zone_map_prune_audit",
    # added r05 session 3 (portable-register HLL; exact-substring span
    # dedup — gram self-join + gaps-and-islands run merge)
    "hll_distinct_users",
    "duplicate_span_pairs",
    "bpe_merge_candidates",
    "copurchase_sssp",
    "weighted_sample_tokens",
    "user_state_asof",
    "paragraph_scrub_rebuild",
    # added r06: the graph family now amortizes one shared silver edge
    # build; PageRank (10 integer power iterations) joins the headline so
    # the iterative-join family is perf-tracked end to end
    "pagerank_coparts",
    # added r06 session 4: SemDeDup (centroid-blocked embedding dedup),
    # batch-vs-corpus incremental dedup, unigram-LM rarity scoring, and
    # cross-label hard-negative mining — the new-coverage queries with
    # nontrivial cost (streaming queries stay out of the bench by
    # convention: their wall time is trigger/checkpoint overhead, not
    # operator throughput)
    "semdedup_clusters",
    "incremental_dedup_verdicts",
    "doc_rarity_scores",
    "hard_negative_mining",
    # added r06 session 4 batch 2: a-priori rule readout over the silver
    # pair table; per-dimension normalization stats
    "basket_association_rules",
    "embedding_dim_profile",
    # added r06 session 4 batch 3: the bucket-bounded hard-negative miner;
    # the semdedup family's bounded-sample recall audit
    "hard_negative_lsh",
    "semdedup_eval_metrics",
    "ann_recall_eval",
    # added r12: the large-large binned interval overlap join (temporal
    # trilogy's third member) — perf-tracked so the explode + bin-join
    # plan's cost is visible round over round — and the two-phase
    # sweep-line peak-concurrency readout over the same session intervals
    "session_overlap_topk",
    "peak_concurrent_sessions",
    # added r12: the 3-tier continuous-aggregate cascade (minute from
    # raw, hour from minute, day from hour)
    "events_multires_rollup",
    # added r14 (VERDICT r13 item 1): the NON-additive sketch cascade —
    # keeps the salted minute-rank plan perf-visible round over round —
    # and the read-time state ⊎ tail union (the hypertable triple's
    # serving leg; its fold runs per-read, so its cost belongs in bench)
    "events_multires_distinct_rollup",
    "events_multires_rollup_realtime",
    # added r14 mid-round with the query: the sketch family's realtime
    # read (same per-read fold convention as its additive twin above)
    "events_multires_distinct_realtime",
    # added r14: the erasure-repair pair — subtract-repair (additive
    # inverse) and membership-triggered sketch re-derivation; tracked so
    # the repair paths' cost stays perf-visible round over round
    "events_rollup_user_erasure",
    "events_distinct_user_erasure",
    # added r15: erasure for the persisted ANN index — index build +
    # delete-in-place (touched-cells-only rewrite) + pruned top-k read;
    # tracked so the partition-overwrite repair path stays perf-visible.
    # The two erasure-INCREMENTAL queries stay out by the streaming
    # convention (their wall time is versioned-state IO + foreachBatch
    # trigger overhead, not operator throughput — the probes carry that
    # signal).
    "ann_ivf_erasure_topk",
    # added r15 session 2: the quantile (bottom-K row sample) hypertable
    # family — batch cascade (keeps the salted sample-rank plan
    # perf-visible), realtime read (per-read fold convention, read leg
    # split out via realtime_read_sec), and the sample-family erasure
    # repair (user-membership trigger). The two quantile-INCREMENTAL
    # queries stay out by the streaming convention.
    "events_multires_quantile_rollup",
    "events_multires_quantile_realtime",
    "events_quantile_user_erasure",
)


# Drift canaries (VERDICT r08 item 6): pure-JVM queries whose code has not
# changed since r06, each with a pinned sf0.1 reference. "drift_factor" =
# mean(current_min / reference) over the three — host-period variance that
# cross-round comparisons divide out BEFORE attributing per-query deltas to
# code (the r06↔r08 comparison cost a manual A/B to separate ~1.5× uniform
# sub-second drift from real plan changes). The references are pinned on a
# 4-core host (local[4]): each is the median, over three runs of this bench
# on an otherwise idle box, of that run's min-of-3 (the r06 references were
# 32-core readings, so every 4-core run read ~1.06-1.6 against them). Only
# meaningful at sf=0.1; null elsewhere. Re-pin the references if a
# canary's code or the bench host changes, and say so in the change notes.
DRIFT_CANARIES = {
    "hll_distinct_users": 0.517,
    "user_running_stats": 0.809,
    "bloom_filter_prune": 0.686,
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    t0 = time.time()
    from imdb_mapreduce_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark("bench")
    spark.range(1).count()  # force session up
    startup = time.time() - t0

    # Reset the in-process detail channels (ADVICE r15): these are
    # process-global dicts, so executions outside the bench passes (e.g. a
    # correctness sweep run in the same interpreter before bench) would
    # otherwise mix into the min-of-passes splits reported below.
    try:
        from imdb_mapreduce_spark.streaming.jobs import REALTIME_READ_SEC

        REALTIME_READ_SEC.clear()
    except Exception:  # noqa: BLE001 — detail channel must not kill bench
        pass
    try:
        from imdb_mapreduce_spark.plans.events import ERASURE_STATE_SEC

        ERASURE_STATE_SEC.clear()
    except Exception:  # noqa: BLE001 — detail channel must not kill bench
        pass

    qs = entrymod.queries()
    timings: dict[str, float] = {}
    all_passes: dict[str, list[float]] = {}
    row_counts: dict[str, int] = {}
    errors: dict[str, str] = {}
    # Warm-up (untimed): a small query to JIT the read path, then one pass
    # of the first headline query, so no JIT warm-up left after the small
    # query is charged to the first headline row.
    try:
        qs["priority_segment_union"](spark, sf_dir).collect()
        qs[HEADLINE[0]](spark, sf_dir).collect()
    except Exception as exc:  # noqa: BLE001 — warm-up must never kill the run
        errors["_warmup"] = repr(exc)[:800]

    # Min-of-3 per query, every query: single-run jitter on this box
    # reaches 2-3x at sub-second scale (r02 flagged a 2.04x reading on
    # unchanged code), so one pass can cross any regression threshold on
    # its own. Per-pass times are emitted so a noisy pass is visible in
    # the recorded JSON instead of silently shaping the headline number.
    #
    # Warm-pass protocol (VERDICT r11 item 2, codifying the kmv_set_ops
    # r10 / basket_association_rules r11 attributions): codegen-heavy
    # queries need up to ~6-10 passes to reach steady state, so a
    # min-of-3 band-edge reading on one is usually warm-up, not
    # regression. Rule, wired here instead of a notes footnote: any
    # query whose pass curve is STILL IMPROVING after the base 3 passes
    # (running best improved by >3% without 2 consecutive flat passes)
    # gets extra passes until it flattens (max 10 total). The trigger is
    # deliberately time-scale-free — r12 showed an absolute sub-second
    # threshold lets host drift push a warming query (basket at 1.77 s
    # on a 1.2x-drifted box) out of eligibility exactly when attribution
    # is needed most. Flat expensive queries (pagerank at 4.2 s) seed 2
    # stale passes from the base 3 and extend ZERO passes, so the cost
    # lands only on still-warming curves.
    # `timings` (and the headline total) stay MIN-OF-THE-FIRST-3 so every
    # cross-round comparison and the r06-pinned canary references keep
    # their meaning; the steady-state asymptote is recorded per query in
    # `warm_mins` — a future band-edge reading is attributed by READING
    # the same round's artifact, not by a dedicated min-of-10 session.
    #
    # Per-query isolation (VERDICT r03 item 2): one broken query records an
    # {"err": ...} entry and the harness moves on — the JSON line is ALWAYS
    # emitted. A bench must degrade, not die; r03's artifact was zeroed by
    # a single AnalysisException aborting the whole process.
    MAX_PASSES = 10
    # Extension wall-time cap (ADVICE r12): with the absolute-seconds
    # eligibility threshold gone, a LONG query whose ordinary pass-to-pass
    # noise exceeds 3% (not a warming curve) could extend to 10 passes and
    # add minutes per run. The cap bounds the total EXTRA time any one
    # query may spend warming: cheap warming queries still reach their
    # floor (~7 extension passes at 2 s each), while a noisy 10 s query
    # burns at most ~2 extra passes instead of 7. A capped-out query
    # simply records the best warm floor reached so far — attribution
    # degrades to the r11-era min-of-N reading, never blocks the bench.
    WARM_EXTEND_MAX_EXTRA_SEC = 15.0
    warm_mins: dict[str, float] = {}
    for name in HEADLINE:
        try:
            fn = qs[name]
            passes: list[float] = []

            def one_pass() -> None:
                t = time.time()
                rows = fn(spark, sf_dir).collect()
                passes.append(round(time.time() - t, 3))
                row_counts[name] = len(rows)

            for _ in range(3):
                one_pass()
            timings[name] = min(passes)
            # seed the convergence counter from the base passes: count
            # trailing passes that failed to improve the running best
            # by >3% (a flat curve earns 2 and extends zero passes)
            stale = 0
            for i in range(1, len(passes)):
                improved = passes[i] < 0.97 * min(passes[:i])
                stale = 0 if improved else stale + 1
            extra = 0.0
            while (
                stale < 2
                and len(passes) < MAX_PASSES
                and extra < WARM_EXTEND_MAX_EXTRA_SEC
            ):
                best = min(passes)
                one_pass()
                extra += passes[-1]
                stale = 0 if passes[-1] < 0.97 * best else stale + 1
            all_passes[name] = passes
            warm_mins[name] = min(passes)
        except Exception as exc:  # noqa: BLE001 — isolate; record; continue
            errors[name] = repr(exc)[:800]
        # Drop Python-side DataFrame refs NOW so the JVM ContextCleaner can
        # reclaim checkpoint/broadcast blocks between queries — otherwise
        # blocks from checkpoint-heavy queries (BFS, PageRank) pile up and
        # late-bench queries pay their eviction (r05: text_feature_hashing
        # recorded 7.4 s warm passes late in the run vs 0.6 s in isolation).
        import gc

        gc.collect()

    # Harness-vs-read split for the realtime rows (VERDICT r14 item 3):
    # the two realtime queries build their fixture (4 parquet slices + 3
    # state folds) inside the timed body; their end-to-end number is
    # therefore a state-IO floor, not read-plan signal. The queries
    # record their read-leg seconds per pass in REALTIME_READ_SEC;
    # emit min + passes so a read-plan regression is directly visible.
    try:
        from imdb_mapreduce_spark.streaming.jobs import REALTIME_READ_SEC

        realtime_read_sec = {
            n: {"min": min(ps), "passes": ps}
            for n, ps in REALTIME_READ_SEC.items()
            if ps
        }
    except Exception:  # noqa: BLE001 — detail channel must not kill bench
        realtime_read_sec = {}

    # Harness-vs-repair split for the erasure rows (r15 opt session 3,
    # mirroring realtime_read_sec): each erasure query records the wall
    # seconds of its in-query PRE-erasure state build (state that
    # already exists in production), so the repair leg's cost =
    # end-to-end minus this stays visible round over round.
    try:
        from imdb_mapreduce_spark.plans.events import ERASURE_STATE_SEC

        erasure_state_sec = {
            n: {"min": min(ps), "passes": ps}
            for n, ps in ERASURE_STATE_SEC.items()
            if ps
        }
    except Exception:  # noqa: BLE001 — detail channel must not kill bench
        erasure_state_sec = {}

    # "value" is the steady-state total: sum of per-query min-of-3 wall
    # times, session startup excluded (reported separately) — directly
    # comparable round over round per query.
    total = round(sum(timings.values()), 3)
    # Canary v2 (VERDICT r09 item 4): the 3-sample mean is
    # heteroscedastic (sub-second queries inflate the most), so the
    # PER-CANARY ratios and the min/max band are recorded alongside the
    # mean — cross-round comparisons should quote the band
    # (best/worst-case normalization), not lean on one divisor.
    at_ref_sf = abs(sf - 0.1) < 1e-9
    drift_each = (
        {
            n: round(timings[n] / ref, 3)
            for n, ref in DRIFT_CANARIES.items()
            if n in timings
        }
        if at_ref_sf
        else {}
    )
    drift_factor = (
        round(sum(drift_each.values()) / len(drift_each), 3)
        if drift_each
        else None
    )
    drift_band = (
        [min(drift_each.values()), max(drift_each.values())]
        if drift_each
        else None
    )
    # No "metric" key here (ADVICE r07): exactly ONE stdout line — the
    # compact final summary below — carries the canonical metric name, so
    # a take-first or take-all consumer can never grab this ~10 KB dict
    # or double-count the total.
    print(
        json.dumps(
            {
                "detail": "per_query_timings",
                "queries": timings,
                "passes": all_passes,
                "warm_mins": warm_mins,
                "rows": row_counts,
                "sf": sf,
                "steady_total_sec": total,
                "startup_sec": round(startup, 2),
                "n_queries": len(timings),
                "drift_factor": drift_factor,
                "drift_canaries": drift_each,
                "drift_band": drift_band,
                "realtime_read_sec": realtime_read_sec,
                "erasure_state_sec": erasure_state_sec,
                "errors": errors,
            }
        )
    )
    # FINAL stdout line: the canonical summary the driver parses. It now
    # carries the per-query seconds dict itself (VERDICT r15 item 1: the
    # driver parses ONLY the last line, so PERF per-query/geomean/scaling
    # tables were empty while "queries" rode the detail line above —
    # despite the module docstring promising it in the one-line JSON).
    # The dict is min-of-3 seconds per query, ~2.5 KB at 73 queries; the
    # ~10 KB diagnostics (passes, warm_mins, rows, splits) stay on the
    # detail line so the final line remains compact and tail-safe.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "total_sec": total,
                "queries": timings,
                "n_queries": len(timings),
                "n_errors": len(errors),
                "error_queries": sorted(errors)[:10],
                "startup_sec": round(startup, 2),
                "drift_factor": drift_factor,
                "drift_band": drift_band,
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()

"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale factor>}

Each query is forced end-to-end with a noop sink (no driver collect,
no result materialization on the driver — executor-side completion
only), which is the honest distributed cost.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time


def timed_cold_run(spark, fn, sf_dir: str) -> tuple[float, float]:
    """ONE cold measurement under the repo's standard protocol —
    shared by bench.py and scripts/stress_times.py so the stress
    ledger and the headline bench can't drift apart (round-8 review
    finding; the BUCKET/_star_expectations lesson applied to the
    measurement harness itself). Quiesce: drop cached frames, force
    both GCs so the previous query's deferred shuffle cleanup runs
    now, settle 2 s; returns (seconds, 1-min load sampled at start).
    """
    import gc as _gc
    import time as _time

    spark.catalog.clearCache()
    _gc.collect()
    spark._jvm.System.gc()
    _time.sleep(2.0)
    load = round(os.getloadavg()[0], 2)
    t0 = _time.monotonic()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    return round(_time.monotonic() - t0, 3), load


CANARY_N = 10_000_000


def canary_ms() -> float:
    """In-band CPU-steal canary (round-10 verdict ask #4): one fixed
    single-core integer spin, timed. Loadavg cannot see container CPU
    steal — this can: the loop's wall time is inversely proportional
    to the CPU share this process actually received, so cross-round
    wall ratios can be normalized by the canary ratio (rule in
    SCALE.md §canary). ~0.4 s on an idle host; sampled at bench
    start/end and before every query's timed pair."""
    t0 = time.monotonic()
    x = 0
    for i in range(CANARY_N):
        x += i
    return round((time.monotonic() - t0) * 1000.0, 1)


def wait_for_quiesce(max_wait_s: float, gate: float) -> dict:
    """Block until the host 1-min load average drops below ``gate``
    (or ``max_wait_s`` elapses) so the timed section is
    idle-comparable across rounds without manual re-runs.

    Round-8 rationale: the r7 bench file recorded a start load of
    6.02 and first-run inflation up to 3.6× from co-tenant noise; the
    min-of-2 protocol self-diagnosed it, but the round ledger then
    needed a manual idle re-run. The gate makes the recorded file the
    idle measurement. Returns a small dict recorded in the JSON line
    so a gated (or timed-out) wait is visible to the reader.
    """
    t0 = time.monotonic()
    waited = 0.0
    load = os.getloadavg()[0]
    while load >= gate and waited < max_wait_s:
        time.sleep(min(15.0, max_wait_s - waited))
        waited = time.monotonic() - t0
        load = os.getloadavg()[0]
    return {
        "gate": gate,
        "waited_s": round(waited, 1),
        "load_at_start": round(load, 2),
        "timed_out": load >= gate,
    }

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: one per operator family, weighted toward the
# shuffle/join/window-heavy shapes that dominate at scale.
HEADLINE = [
    "q1_pricing_summary",
    "agg_rollup",
    "join_q3_shipping_priority",
    "join_q5_region_revenue",
    "tpch_q9_profit",
    "window_top_per_customer",
    "events_sessionize",
    "events_asof_join",
    "text_quality_scores",
    "dedup_minhash_lsh_candidates",
    "dedup_duplicate_clusters",
    "sim_cosine_topk_bruteforce",
    "events_funnel",
    "pipeline_corpus_prep",
    "text_tfidf",
    # round 3: the heaviest rewritten two-stage-rank query — holds the
    # no-global-window fix in the bench, not just in plan tests
    "window_rfm_segments",
    # round 3 late addition: passage-level first-wins dedup — the
    # corpus-wide fingerprint shuffle shape (CCNet line dedup)
    "dedup_chunk_first_wins",
    # round-3 session 2: the two-stage prefix-sum + prefix-MAX
    # primitive (running peak / drawdown) — holds the new global
    # running-aggregate path in the bench
    "window_max_drawdown",
    # round-3 session 3: grid-bucketed spatial kNN — holds the
    # cell-ring equi-join candidate shape (no nested-loop) in the
    # bench
    "geo_knn_comps",
    # round 4: the model-serving path — the MLP scored through the one
    # Arrow mapInPandas scorer (weights in its closure); holds the
    # zero-shuffle narrow-pipeline serving shape in the bench
    "ml_mlp_batch_inference",
    # round 4: PQ asymmetric-distance search — the compressed-code
    # ANN scan (codes + broadcast LUT + salted two-stage rank)
    "sim_pq_adc_topk",
    # round 5: CDC MERGE INTO post-image — latest-change window + one
    # full-outer pk join; holds the lakehouse mutation shape
    "io_cdc_merge_apply",
    # round 5: count-min sketch top-k — constant-size additive state
    # (measured 1.1x wall at 10x data); holds the sketch shape
    "agg_countmin_topk",
    # round 5: exact repeated-substring spans (ExactSubstr) — gram
    # explode + ONE digest-key min/max window + per-doc islands; holds
    # the explode-index-then-hash-per-row lesson in the bench
    "dedup_substring_spans",
    # round 5: RRF hybrid retrieval — lexical + dense arms fused in
    # integer nanos over bounded candidate lists; holds the
    # tokenize-once / TakeOrderedAndProject-per-arm shape (measured
    # 1.2x wall at 10x data)
    "sim_rrf_hybrid_rank",
    # round 6: REAL media codec — pure-Python PNG encode/decode per
    # row inside spread() + mapInPandas; holds the
    # per-row-expensive-Python-stage parallelism lesson in the bench
    # (serialized on 1 core before spread: 7.2x wall at 10x)
    "media_png_roundtrip",
    # round 7: the one family whose cost carries a per-row Python
    # constant (numpy mapInPandas forward pass + decile windows;
    # 7.0x wall at 10x in SCALE.md) — tracked in the headline so the
    # Python-envelope cost is measured round-over-round, per the
    # round-6 verdict
    "ml_mlp_calibration_deciles",
    # round 8: the exact-dedup-first star contract + cogrouped Arrow
    # cosine kernel (bit-exact left-to-right summation vectorized
    # across pairs) — holds the Zipf-stress fix in the bench: this
    # entry went 298 s -> 4.2 s at 10x duplication scale
    "dedup_embedding_neardup",
    # round 11: SemDeDup with the star contract applied to the
    # within-cluster pair join (the last quadratic-in-duplication
    # path; Zipf 49.9 s -> 7.95 s) — tracked so the rep-window cost
    # at zero-duplication sf0.1 is measured round-over-round
    "dedup_semantic_semdedup",
    # round 11: the K_CAP face of the overlap join — bounded output
    # (<=5 rows/user) over the banded pair rollup; holds the
    # first-shared-bin emission (distinct-free pair set) in the bench
    "events_overlap_topk",
]


def main() -> None:
    from backend_model_spark.plans import registry
    from backend_model_spark.session import get_spark

    spark = get_spark("backend_model_spark-bench")
    qs = registry.queries()

    # untimed warmup: JVM JIT + codegen + parquet footer caches
    qs["q1_pricing_summary"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()

    # quiesce gate (round 8): don't start timing on a busy host.
    # Gate 1.5 ≈ "only this process"; the warmup above contributes
    # its own tail, so give it a beat to decay before sampling.
    quiesce = wait_for_quiesce(
        max_wait_s=float(os.environ.get("BENCH_QUIESCE_MAX_WAIT", "180")),
        gate=float(os.environ.get("BENCH_QUIESCE_GATE", "1.5")),
    )

    load_before = os.getloadavg()
    canary_start = canary_ms()
    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    run_canaries: dict[str, float] = {}
    run_loads: dict[str, list[float]] = {}
    between: dict[str, dict] = {}
    # round 9 (verdict ask #5): the r8 file's run_loads climbed to 6+
    # mid-bench — the previous heavy query's own decay tail (1-min
    # loadavg halves in ~1 min) inflating the NEXT query's runs. The
    # between-queries gate waits for that tail to decay before timing
    # the next entry; skipped after sub-2 s queries (no debris worth
    # waiting out). Recorded per-query when it actually waited.
    between_gate = float(os.environ.get("BENCH_BETWEEN_GATE", "2.5"))
    between_wait = float(os.environ.get("BENCH_BETWEEN_MAX_WAIT", "45"))
    prev_sec = 0.0
    for name in HEADLINE:
        fn = qs[name]
        if prev_sec > 2.0 and os.getloadavg()[0] >= between_gate:
            q = wait_for_quiesce(max_wait_s=between_wait, gate=between_gate)
            if q["waited_s"] > 0:
                between[name] = q
        # two independent cold runs, report the min (JMH-style): the
        # host VM shows ±20% run-to-run noise, and min-of-2 of a
        # cold-cache measurement keeps the semantics (every timed run
        # starts with caches dropped) while halving the noise. Both
        # raw runs are recorded ("runs") so a co-tenant-noise artifact
        # is self-diagnosing: a large run1/run2 spread (or a high
        # load_avg line) means the machine, not the code, regressed.
        runs[name] = []
        run_loads[name] = []
        run_canaries[name] = canary_ms()
        for _ in range(2):
            # min-of-2 cold runs under the shared protocol (see
            # timed_cold_run for the quiesce rationale)
            sec, load = timed_cold_run(spark, fn, SF_DIR)
            run_loads[name].append(load)
            runs[name].append(sec)
        timings[name] = min(runs[name])
        prev_sec = timings[name]

    # Round 12 (r11 verdict ask #9): canary-gated re-runs. The r11
    # driver bench was judged through a CPU-steal episode — per-query
    # canaries 410-594 ms vs ~400 idle — and three regressions turned
    # out to be measurement artifacts. Measurement hygiene, not
    # harness semantics: any query whose pre-pair canary exceeded
    # 1.25x the run median gets ONE more cold run after the sweep,
    # gated on the canary having recovered, and min() folds it into
    # the same per-query minimum. Additions-only: no entry removed or
    # renamed, raw extra runs recorded under "reruns".
    rerun_info: dict[str, dict] = {}
    med_canary = sorted(run_canaries.values())[len(run_canaries) // 2]
    for name in HEADLINE:
        if run_canaries[name] <= 1.25 * med_canary:
            continue
        c2 = canary_ms()
        if c2 > 1.25 * med_canary:
            wait_for_quiesce(max_wait_s=between_wait, gate=between_gate)
            c2 = canary_ms()
            if c2 > 1.25 * med_canary:
                rerun_info[name] = {"skipped_still_noisy": c2}
                continue
        sec, load = timed_cold_run(spark, qs[name], SF_DIR)
        rerun_info[name] = {
            "canary_ms": c2,
            "sec": sec,
            "noisy_canary_ms": run_canaries[name],
        }
        runs[name].append(sec)
        run_loads[name].append(load)
        timings[name] = min(timings[name], sec)
    load_after = os.getloadavg()
    canary_end = canary_ms()

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                # co-tenancy sanity: 1-min load average sampled before
                # and after the timed section (32-core host; >~34 while
                # this process is the only load means noisy neighbors —
                # expect min-of-2 totals inflated accordingly)
                "load_avg_1m": [round(load_before[0], 2), round(load_after[0], 2)],
                "quiesce": quiesce,
                # round 9: between-queries decay waits (only entries
                # that actually waited appear)
                "between_quiesce": between,
                # per-run 1-min load sampled just before each timed
                # run — pinpoints WHICH measurement a noise spike hit
                "run_loads": run_loads,
                "runs": runs,
                # round 10: in-band CPU-steal canary (single-core spin
                # wall ms) at start/end and before each query — loadavg
                # cannot see container CPU steal, this can. Normalize
                # cross-round ratios by canary ratio (SCALE.md §canary).
                "canary_ms": {
                    "start": canary_start,
                    "end": canary_end,
                    "per_query": run_canaries,
                },
                # round 12: canary-gated re-run bookkeeping (verdict
                # ask #9) — which queries were re-measured after the
                # sweep because their canary showed steal, and the
                # quiet-window number that was folded into the min
                "reruns": rerun_info,
            }
        )
    )


if __name__ == "__main__":
    main()

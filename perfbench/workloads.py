"""Workload definitions: which registry entries run, at which scale, and why."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    entries: tuple[str, ...]
    sf: float
    # wall seconds of one timed pass, resets included, on a 4-core
    # host; ``--seconds`` becomes a fixed number of passes through it,
    # so both sides of an A/B run the same work
    pass_s: float


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="lineage",
            why=(
                "pure-lineage queries: builds run no jobs after warm-up, so "
                "planner, executor, shuffle and scan changes show and build "
                "or memo changes should not"
            ),
            entries=(
                "q1_pricing_summary",
                "join_q5_region_revenue",
                "window_top_per_customer",
                "text_tfidf",
                "sim_cosine_topk_bruteforce",
            ),
            sf=0.01,
            pass_s=2.9,
        ),
        Workload(
            name="corpus",
            why=(
                "memo-warm, cache-cold entries that run Spark jobs while "
                "building, an Arrow Python stage and file writes: build, "
                "memo, Python-worker and sink changes show here"
            ),
            entries=(
                "window_max_drawdown",
                "ml_mlp_batch_inference",
                "io_csv_roundtrip",
                "io_append_sink",
                "io_dynamic_partition_overwrite",
            ),
            sf=0.01,
            pass_s=3.6,
        ),
    )
}

# A fit of the distributed MLP trainer, run once per traced run in a
# fresh application (its fit memo is keyed on the application), so the
# trainer loop's job count and per-job time are measured memo-cold.
TRAINER_PROBE = "ml_mlp_train_distributed"

# At least six passes of five entries: of 30 executions the median
# (mean of the 15th and 16th) is the median of the third-fastest
# entry's six, and the tail sample (20th: the highest percentile with
# ten executions above it, p66) the second of the fourth-fastest
# entry's six. With five passes both were the third-fastest entry's
# middle and slowest executions, and the tail spread more from run to
# run.
MIN_PASSES = 6

# Applications started per run: the first launches the JVM, the others
# restart the application in it. ``setup_s`` is their median.
SETUP_SAMPLES = 3

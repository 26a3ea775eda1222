"""Hand-crafted edge-case fixtures for the trickiest operators.

The oracle harness proves Spark == DuckDB on the driver's data; these
tests prove both are computing the *intended* semantics on inputs
chosen to sit exactly on the boundaries: session gaps exactly at the
threshold, duplicate timestamps, duplicated documents, empty/short
documents. Fixtures are written as parquet into the scratch dir so the
operators run through their real scan path.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from backend_model_spark.sources.tables import table_path

SCRATCH_SF = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    ".scratch",
    "edge_sf",
)

MIN30 = 30 * 60  # session gap, seconds


@pytest.fixture(scope="module")
def edge_sf_dir():
    os.makedirs(SCRATCH_SF, exist_ok=True)
    base = pd.Timestamp("2024-01-01 00:00:00")

    def ev(eid, user, sec, etype="click", value=1.0):
        return {
            "event_id": eid,
            "ts": base + pd.Timedelta(seconds=sec),
            "user_id": user,
            "event_type": etype,
            "value": value,
            "props": "{}",
        }

    events = pd.DataFrame(
        [
            # user 1: gap exactly == 30 min stays ONE session; +1s breaks it
            ev(1, 1, 0),
            ev(2, 1, MIN30),            # same session (gap == threshold)
            ev(3, 1, MIN30 + MIN30 + 1),  # new session (gap = 30min + 1s)
            # user 2: duplicate timestamps — tiebreak by event_id, one session
            ev(4, 2, 0),
            ev(5, 2, 0),
            ev(6, 2, 0),
            # user 3: single event
            ev(7, 3, 0),
        ]
    )
    # match the driver testdata's physical type: TIMESTAMP(MICROS,
    # isAdjustedToUTC=false) — pandas defaults to nanos, which Spark's
    # reader rejects without a legacy session flag
    events["ts"] = events["ts"].astype("datetime64[us]")
    events.to_parquet(table_path(SCRATCH_SF, "events"))

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [
                "alpha beta gamma delta epsilon zeta",   # base doc
                "alpha beta gamma delta epsilon zeta",   # exact duplicate
                "alpha beta gamma delta epsilon ETA",    # near duplicate
                "one two",                               # < 3 tokens: no shingles
                "",                                      # empty
            ],
            "lang": ["en"] * 5,
            "source": ["s0"] * 5,
            "n_chars": [36, 36, 36, 7, 0],
        }
    )
    docs.to_parquet(table_path(SCRATCH_SF, "documents"))
    return SCRATCH_SF


def test_sessionize_gap_boundary_and_ties(spark, edge_sf_dir):
    from backend_model_spark.operators.events_ops import sessionize_users

    rows = {
        r["user_id"]: (r["n_sessions"], r["n_events"], r["max_session_events"])
        for r in sessionize_users(spark, edge_sf_dir).collect()
    }
    assert rows[1] == (2, 3, 2), "gap==30min must NOT split; gap>30min must"
    assert rows[2] == (1, 3, 3), "duplicate timestamps stay one session"
    assert rows[3] == (1, 1, 1), "single event forms one session"


def test_minhash_signature_invariant_to_duplication(spark, edge_sf_dir):
    from backend_model_spark.operators.dedup import minhash_signatures

    sigs = {r["doc_id"]: tuple(r)[1:] for r in minhash_signatures(spark, edge_sf_dir).collect()}
    assert sigs[0] == sigs[1], "identical text must produce identical signatures"
    assert sigs[0] != sigs[2], "different text must (here) differ"
    # docs with <3 tokens or empty text produce no shingles → no signature row
    assert 3 not in sigs and 4 not in sigs


def test_exact_dedup_groups_duplicates(spark, edge_sf_dir):
    from backend_model_spark.operators.dedup import exact_dedup_groups

    groups = {
        r["canonical_doc_id"]: r["n_duplicates"]
        for r in exact_dedup_groups(spark, edge_sf_dir).collect()
    }
    assert groups[0] == 2, "doc 0 and its exact dup collapse to canonical 0"
    assert groups[2] == 1 and groups[3] == 1 and groups[4] == 1


def test_stateful_streaming_on_edge_events(spark, edge_sf_dir):
    # ties on ts resolved by event_id; per-user fold must still count all
    from backend_model_spark.streaming.jobs import streaming_stateful_user_stats

    rows = {
        r["user_id"]: (r["n_events"], r["max_value_cents"])
        for r in streaming_stateful_user_stats(spark, edge_sf_dir).collect()
    }
    assert rows[1][0] == 3 and rows[2][0] == 3 and rows[3][0] == 1


def test_stateful_fold_chunk_order_invariant(spark, sf_dir):
    """Force MULTI-CHUNK groups (arrow.maxRecordsPerBatch=8) through
    the applyInPandasWithState fold and check n_max_updates against a
    pandas reference on the same parquet.  Regression for the round-4
    driver hash-fail: a fold that sorts each Arrow chunk independently
    makes n_max_updates depend on chunk boundaries/order."""
    import pandas as pd

    from backend_model_spark.streaming.jobs import streaming_stateful_user_stats

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "8")
    try:
        rows = {
            r["user_id"]: (r["n_events"], r["n_max_updates"])
            for r in streaming_stateful_user_stats(spark, sf_dir).collect()
        }
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)

    ev = pd.read_parquet(os.path.join(sf_dir, "events.parquet"))
    ref = {}
    for uid, g in ev.sort_values(["ts", "event_id"]).groupby("user_id"):
        vals = g["value"].to_numpy(dtype="float64")
        mx, upd = float("-inf"), 0
        for v in vals:
            if v > mx:
                mx, upd = v, upd + 1
        ref[int(uid)] = (len(vals), upd)
    checked = 0
    for uid, expect in sorted(ref.items())[:500]:
        assert rows[uid] == expect, f"user {uid}: {rows[uid]} != {expect}"
        checked += 1
    assert checked > 0
    # at least one user must genuinely straddle chunks for the test to bite
    assert max(n for n, _ in ref.values()) > 8


def test_transform_with_state_gated(spark, sf_dir):
    """transformWithStateInPandas runs (and matches its oracle) wherever
    google.protobuf is available; in containers without it the operator
    is unregistered (catalog gate) and this test documents the skip."""
    import pytest

    from backend_model_spark.plans.catalog import HAS_PROTOBUF
    from backend_model_spark.plans import registry

    if not HAS_PROTOBUF:
        assert "streaming_transform_with_state" not in registry.queries()
        pytest.skip("google.protobuf absent: transformWithState gated off")
    from backend_model_spark.streaming.jobs import (
        STREAMING_TWS_ORACLE,
        streaming_transform_with_state,
    )
    from backend_model_spark.testing.oracle import compare

    result = compare(
        "streaming_transform_with_state",
        spark,
        streaming_transform_with_state,
        STREAMING_TWS_ORACLE,
        sf_dir,
    )
    assert result.ok, str(result)


def test_foreach_batch_sink_exactly_once_restart(spark, sf_dir):
    """Re-triggering an availableNow foreachBatch query on the SAME
    checkpoint with no new input must process zero batches — the
    checkpoint's committed offsets make restarts exactly-once at the
    sink (no duplicate partitions, no re-landed files)."""
    import os
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from backend_model_spark.streaming.jobs import (
        _CKPT_ROOT,
        read_events_stream,
    )

    sink_dir = os.path.join(_CKPT_ROOT, f"restart_sink_{uuid.uuid4().hex[:8]}")
    ckpt = os.path.join(_CKPT_ROOT, f"restart_ckpt_{uuid.uuid4().hex[:8]}")
    os.makedirs(sink_dir, exist_ok=True)

    def write_batch(batch_df, batch_id):
        (
            batch_df.withColumn("p_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("p_batch")
            .parquet(sink_dir)
        )

    def run_once():
        ev = read_events_stream(spark, sf_dir).select(
            "event_id", "event_type", "value"
        )
        q = (
            ev.writeStream.foreachBatch(write_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        run_once()
        first = spark.read.parquet(sink_dir)
        n_rows_1 = first.count()
        files_1 = sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(sink_dir)
            for f in fs
            if f.endswith(".parquet")
        )
        run_once()  # same checkpoint, no new input
        second = spark.read.parquet(sink_dir)
        files_2 = sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(sink_dir)
            for f in fs
            if f.endswith(".parquet")
        )
        assert second.count() == n_rows_1, "restart must not duplicate rows"
        assert files_1 == files_2, "restart must not re-land files"
    finally:
        shutil.rmtree(sink_dir, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_schema_evolution_merge_on_read(spark, tmp_path):
    """Schema-on-read evolution: files written before a column existed
    read as NULL for that column under mergeSchema — the additive
    evolution contract a long-lived 100 TB table relies on."""
    d = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "a")], "id bigint, name string"
    ).write.parquet(d + "/v=1")
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, name string, score double"
    ).write.parquet(d + "/v=2")
    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"id", "name", "score", "v"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5


def test_observe_metrics_on_query(spark, sf_dir):
    """`df.observe` attaches accumulator-style metrics to a lineage —
    pipeline health counters collected during the SAME pass as the
    real work (no second scan), retrieved via the observation handle."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from backend_model_spark.sources.tables import load_table

    obs = Observation("orders_health")
    orders = load_table(spark, "orders", sf_dir).observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").isNull().cast("long")).alias("n_null_price"),
    )
    result = orders.groupBy("o_orderstatus").count()
    n_out = result.count()  # triggers the single pass
    assert n_out > 0
    got = obs.get
    assert got["n_rows"] > 0 and got["n_null_price"] == 0


def test_ansi_semantics_pin(spark):
    """The session runs ANSI ON (the Spark 4 default): arithmetic
    errors RAISE, exactly like the DuckDB oracle — so a query that
    divides by a possibly-zero denominator must guard explicitly, and
    the sanctioned tolerant path is the try_* family. Pin both halves
    so a config drift to ANSI OFF (which would silently null-fill
    errors and desync us from the oracle) fails here."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import AnalysisException  # noqa: F401

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        spark.range(1).select((F.lit(1) / F.lit(0)).alias("x")).collect()
    row = (
        spark.range(1)
        .select(
            F.try_divide(F.lit(1), F.lit(0)).alias("div0"),
            F.expr("try_cast('abc' AS int)").alias("badcast"),
            F.try_element_at(F.array(F.lit(1)), F.lit(5)).alias("oob"),
        )
        .collect()[0]
    )
    assert row["div0"] is None
    assert row["badcast"] is None
    assert row["oob"] is None


def test_foreach_batch_sink_multi_batch(spark, sf_dir, tmp_path):
    """The foreachBatch sink must accumulate correctly across SEVERAL
    micro-batches (maxFilesPerTrigger=1 over a multi-file copy of
    events), one parquet partition per batch, totals preserved."""
    import os

    from pyspark.sql import functions as F

    from backend_model_spark.sources.tables import load_table

    src = str(tmp_path / "events_split")
    ev_batch = load_table(spark, "events", sf_dir)
    n_total = ev_batch.count()
    # three files -> three micro-batches under maxFilesPerTrigger=1
    ev_batch.repartition(3).write.parquet(src)

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(sink, exist_ok=True)

    def write_batch(batch_df, batch_id):
        (
            batch_df.withColumn("p_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("p_batch")
            .parquet(sink)
        )

    stream = (
        spark.readStream.schema(ev_batch.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    landed = spark.read.parquet(sink)
    assert landed.count() == n_total, "no loss/duplication across batches"
    n_batches = landed.select("p_batch").distinct().count()
    assert n_batches == 3, f"expected 3 micro-batches, got {n_batches}"


def test_incremental_aggregation_maintenance(spark, sf_dir, tmp_path):
    """Incremental ETL pattern: a materialized daily rollup is
    advanced by aggregating ONLY the new partition and merging
    (union -> re-aggregate), never rescanning history. The merged
    state must be bit-identical to a full recompute — valid because
    count/sum are distributive; avg/distinct would need sufficient
    statistics (sum+count / sketches) instead."""
    from pyspark.sql import functions as F

    from backend_model_spark.sources.tables import load_table

    ev = load_table(spark, "events", sf_dir).select(
        F.to_date("ts").alias("day"),
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    days = sorted(r["day"] for r in ev.select("day").distinct().collect())
    cutoff, new_day = days[-2], days[-1]

    def rollup(df):
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents")
        )

    state_dir = str(tmp_path / "rollup_state")
    rollup(ev.filter(F.col("day") <= cutoff)).write.parquet(state_dir)

    # day N arrives: aggregate the increment only, merge states
    state = spark.read.parquet(state_dir)
    increment = rollup(ev.filter(F.col("day") == new_day))
    merged = (
        state.unionByName(increment)
        .groupBy("day", "event_type")
        .agg(F.sum("n").alias("n"), F.sum("cents").alias("cents"))
    )

    full = rollup(ev)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_parquet_codec_tradeoff(spark, sf_dir, tmp_path):
    """Storage tuning evidence: zstd compresses the lineitem sample
    smaller than snappy and both read back identically — codec choice
    is a per-write option, not a schema property."""
    import os

    from backend_model_spark.sources.tables import load_table

    li = load_table(spark, "lineitem", sf_dir).limit(20000)
    sizes = {}
    for codec in ("snappy", "zstd"):
        p = str(tmp_path / codec)
        li.coalesce(1).write.option("compression", codec).parquet(p)
        sizes[codec] = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(p)
            for f in fs
            if f.endswith(".parquet")
        )
        assert spark.read.parquet(p).count() == li.count()
    assert sizes["zstd"] < sizes["snappy"], sizes


def test_winnowing_guarantee(spark, tmp_path):
    """Winnowing property: two docs sharing a run of >= K + W - 1
    tokens MUST share at least one fingerprint; disjoint-vocabulary
    docs must share none."""
    import pandas as pd

    from backend_model_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    run = " ".join(f"tok{i}" for i in range(WINNOW_K + WINNOW_W - 1))
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                f"aaa bbb {run} ccc ddd",
                f"eee fff ggg {run} hhh",
                "zz yy xx ww vv uu tt ss rr qq pp oo",  # disjoint vocab
            ],
            "lang": ["en"] * 3,
            "source": ["s0"] * 3,
            "n_chars": [0, 0, 0],
        }
    )
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")

    fps = winnow_fingerprints(spark, sf).toPandas()
    by_doc = {d: set(g["fingerprint"]) for d, g in fps.groupby("doc_id")}
    assert by_doc[0] & by_doc[1], "shared run must yield a shared fingerprint"
    assert not (by_doc[0] & by_doc[2]) and not (by_doc[1] & by_doc[2])


def test_cc_strategy_parity(spark, monkeypatch):
    """All three cost-based CC strategies — single-task union-find,
    plain label propagation, contraction + propagation — must produce
    identical components."""
    import backend_model_spark.operators.dedup as D

    sf = "/root/testdata/sf0.001"
    key = ["doc_id", "component", "n_members"]
    single_task = D.duplicate_clusters(spark, sf).toPandas()[key]
    monkeypatch.setattr(D, "SINGLE_TASK_MAX_EDGES", -1)
    iterative = D.duplicate_clusters(spark, sf).toPandas()[key]
    monkeypatch.setattr(D, "CONTRACTION_MIN_EDGES", 0)
    contracted = D.duplicate_clusters(spark, sf).toPandas()[key]
    assert single_task.values.tolist() == iterative.values.tolist()
    assert single_task.values.tolist() == contracted.values.tolist()


def test_embedding_cc_strategies_shared(spark, monkeypatch):
    """Round-2 advice: embedding_duplicate_clusters hard-failed above
    the single-task edge bound. The CC strategy is now a shared helper
    — forcing the iterative (and contraction) paths must produce the
    same components as single-task union-find, not raise."""
    import backend_model_spark.operators.dedup as D

    sf = "/root/testdata/sf0.001"
    key = ["vec_id", "component", "n_members"]
    single_task = D.embedding_duplicate_clusters(spark, sf).toPandas()[key]
    monkeypatch.setattr(D, "SINGLE_TASK_MAX_EDGES", -1)
    iterative = D.embedding_duplicate_clusters(spark, sf).toPandas()[key]
    monkeypatch.setattr(D, "CONTRACTION_MIN_EDGES", 0)
    contracted = D.embedding_duplicate_clusters(spark, sf).toPandas()[key]
    assert single_task.values.tolist() == iterative.values.tolist()
    assert single_task.values.tolist() == contracted.values.tolist()


def _label_grid_pairs_spec(v, m):
    """JVM-join reference formulation of the (label, i, j) grid cell
    scheme — the executable SPEC of how `_cell_cosine_kernel`'s
    cogroup keys partition the within-label pair set (side A
    replicates over its block row's m column cells, side B over its
    block column's m row cells; a pair meets in exactly one cell with
    a.vec_id < b.vec_id). Lives in the tests since round 8: the
    production path is the cogrouped Arrow kernel, but this join IS
    the cell scheme, and the test below proves it a pure repartition
    of the naive pair set."""
    from pyspark.sql import functions as F

    cell = F.explode(F.array(*[F.lit(i) for i in range(m)]))
    a = (
        v.withColumn("__blk", F.pmod(F.hash("vec_id"), F.lit(m)))
        .withColumn("__cj", cell)
        .alias("a")
    )
    b = (
        v.withColumn("__blk", F.pmod(F.hash("vec_id"), F.lit(m)))
        .withColumn("__ci", cell)
        .alias("b")
    )
    return a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.__cj") == F.col("b.__blk"))
        & (F.col("a.__blk") == F.col("b.__ci"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )


def test_grid_pairs_bound_per_cell_and_exact(spark):
    """The blocked pairwise compare must (a) emit exactly the naive
    within-label ordered pair set and (b) bound any one join cell's
    pair work well below the naive single-cell label² — the skew
    guarantee that lets a giant label survive at 100 TB. Since round 8
    this pins the cell scheme the cogrouped Arrow kernel keys on."""
    from pyspark.sql import functions as F

    import backend_model_spark.operators.dedup as D

    rows = [(i, "big" if i < 80 else "small") for i in range(100)]
    v = spark.createDataFrame(rows, "vec_id long, label string")
    m = D.EMBED_PAIR_BLOCKS
    grid = _label_grid_pairs_spec(v, m).select(
        F.col("a.vec_id").alias("x"),
        F.col("b.vec_id").alias("y"),
        F.col("a.label").alias("label"),
        F.col("a.__blk").alias("i"),
        F.col("b.__blk").alias("j"),
    )
    pairs = {(r["x"], r["y"]) for r in grid.collect()}
    naive = {
        (a, b)
        for a, la in rows
        for b, lb in rows
        if la == lb and a < b
    }
    assert pairs == naive, "grid join must be a pure repartition of the pair set"
    # per-cell work: worst cell ≤ ceil(label/m)² with hash slack,
    # always far under the naive label²/2 single-cell bound
    cell_counts = (
        grid.groupBy("label", "i", "j").count().agg(F.max("count")).collect()[0][0]
    )
    naive_worst = 80 * 79 // 2
    assert cell_counts < naive_worst / 2, (cell_counts, naive_worst)
    # and the skewed label's work actually spreads across m² cells
    n_cells_big = (
        grid.filter(F.col("label") == "big")
        .select("i", "j")
        .distinct()
        .count()
    )
    assert n_cells_big == m * m


def test_cell_cosine_kernel_carry_passes_payload():
    """The grid-cell kernel emits the same pairs and raw cosines with
    and without carried columns, and each carried ``a_<c>``/``b_<c>``
    is the payload of that pair's own row — on random cells holding a
    zero vector, and on cells with an empty side."""
    import numpy as np

    from backend_model_spark.operators.dedup import _cell_cosine_kernel

    rng = np.random.default_rng(14)
    base = rng.normal(size=64)

    def side(n, pre):
        ids = rng.choice(1000, size=n, replace=False).astype("int64")
        # shared direction + per-row noise: cosines straddle the gate
        vs = [base + rng.normal(scale=s, size=64) for s in rng.uniform(0.1, 2.5, n)]
        if n:
            vs[0] = np.zeros(64)
        return pd.DataFrame(
            {
                pre + "vec_id": ids,
                pre + "label": np.full(n, 3, dtype="int32"),
                pre + "v": vs,
                pre + "ctr": ids * 7 + 3,
            }
        )

    core = ["vec_a", "vec_b", "label", "cos_raw"]
    for n_left, n_right in [(40, 50), (0, 6), (6, 0)]:
        left, right = side(n_left, ""), side(n_right, "b")
        plain = _cell_cosine_kernel(left, right)
        carried = _cell_cosine_kernel(left, right, carry=("ctr",))
        assert list(plain.columns) == core
        assert list(carried.columns) == core + ["a_ctr", "b_ctr"]
        pd.testing.assert_frame_equal(carried[core], plain)
        assert (carried["a_ctr"] == carried["vec_a"] * 7 + 3).all()
        assert (carried["b_ctr"] == carried["vec_b"] * 7 + 3).all()
        if n_left and n_right:
            # non-vacuous: pairs clear the gate, zero vectors never do
            assert len(plain) > 0
            assert (plain["vec_a"] < plain["vec_b"]).all()
            zeros = {left["vec_id"].iloc[0], right["bvec_id"].iloc[0]}
            assert not set(plain["vec_a"]) & zeros
            assert not set(plain["vec_b"]) & zeros
        else:
            assert len(plain) == 0


def test_global_rank_empty_and_single_row(spark):
    """The two-stage rank primitive on degenerate inputs: empty frame
    stays empty (no null-offset join explosions); single row ranks 1,
    tile 1, prefix sum = its own value."""
    from pyspark.sql import functions as F

    from backend_model_spark.operators.scale_utils import (
        with_global_ntile,
        with_global_rank,
    )

    empty = spark.createDataFrame([], "k int, v int")
    order = [F.col("v").asc(), F.col("k").asc()]
    out = with_global_ntile(
        with_global_rank(empty, order, "r", total_col="n", prefix_sum=("v", "c")),
        5,
        order,
        "t",
    )
    assert out.count() == 0

    one = spark.createDataFrame([(7, 42)], "k int, v int")
    row = with_global_ntile(
        with_global_rank(one, order, "r", total_col="n", prefix_sum=("v", "c")),
        5,
        order,
        "t",
    ).collect()[0]
    assert (row["r"], row["n"], row["c"], row["t"]) == (1, 1, 42, 1)


def test_repetition_signals_flags_degenerate_doc(spark, tmp_path):
    """A doc that is one word repeated must trip every Gopher gate;
    a normal varied doc must pass all three."""
    import pandas as pd

    from backend_model_spark.operators.text import repetition_signals

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [
                "spam " * 50,
                "the quick brown fox jumps over a lazy dog near the river bank today",
            ],
            "lang": ["en", "en"],
            "source": ["s0", "s0"],
            "n_chars": [250, 68],
        }
    )
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    out = {r["doc_id"]: r for r in repetition_signals(spark, sf).collect()}
    assert out[0]["top_word_share"] == 1.0
    assert out[0]["dup_2gram_frac"] > 0.9
    assert not out[0]["keep"]
    assert out[1]["keep"], dict(out[1].asDict())


def test_chunk_first_wins_dedups_shared_passage(spark, tmp_path):
    """Two docs sharing an identical 20-token passage: the earlier doc
    keeps it, the later doc loses exactly that chunk (and its tokens);
    a unique doc retains everything."""
    import pandas as pd

    from backend_model_spark.operators.dedup import chunk_first_wins

    shared = " ".join(f"w{i}" for i in range(20))
    uniq_a = " ".join(f"a{i}" for i in range(20))
    uniq_b = " ".join(f"b{i}" for i in range(20))
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                shared + " " + uniq_a,      # chunks: [shared, uniq_a]
                shared + " " + uniq_b,      # shared chunk is a dup of doc 0's
                " ".join(f"c{i}" for i in range(10)),  # one short unique chunk
            ],
            "lang": ["en"] * 3,
            "source": ["s0"] * 3,
            "n_chars": [0, 0, 0],
        }
    )
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    out = {r["doc_id"]: r for r in chunk_first_wins(spark, sf).collect()}
    assert out[0]["n_chunks"] == 2 and out[0]["kept_chunks"] == 2
    assert out[0]["retained_ratio"] == 1.0
    assert out[1]["n_chunks"] == 2 and out[1]["kept_chunks"] == 1
    assert out[1]["kept_toks"] == 20 and out[1]["n_toks"] == 40
    assert out[1]["retained_ratio"] == 0.5
    assert out[2]["n_chunks"] == 1 and out[2]["kept_chunks"] == 1


def test_quality_classifier_decision_is_integer_exact(spark, sf_dir):
    """keep must equal the integer-space biased decision
    DEN·Σw ≥ NUM·n·P for every document (never a rounded-float
    comparison), and mean_w — the monotone stand-in for the logistic
    score, which stays OUT of the hashed projection because per-row
    rounded exp() is the func_math libm flip class — must sit on the
    matching side of 0."""
    from backend_model_spark.operators.text import (
        CLS_BIAS_DEN,
        CLS_BIAS_NUM,
        CLS_P,
        quality_classifier,
    )

    rows = quality_classifier(spark, sf_dir).collect()
    assert rows
    assert "score" not in rows[0].asDict(), "libm score must stay unhashed"
    keeps = sum(r["keep"] for r in rows)
    assert 0 < keeps < len(rows), "biased decision should split the corpus"
    for r in rows:
        expect = (
            1
            if CLS_BIAS_DEN * r["w_sum"] >= CLS_BIAS_NUM * CLS_P * r["n_tokens"]
            else 0
        )
        assert r["keep"] == expect
        if r["keep"]:
            assert r["mean_w"] >= -1e-6  # rounded mean_w, σ(4·mean_w) ≥ 0.5
        else:
            assert r["mean_w"] < 1e-6


def test_curriculum_order_interleaves_sources(spark, sf_dir):
    """Positions are a 1..N permutation, and the first |sources|
    positions contain exactly every source's rank-1 document."""
    from backend_model_spark.operators.sampling import curriculum_order

    rows = curriculum_order(spark, sf_dir).collect()
    n = len(rows)
    assert sorted(r["curriculum_pos"] for r in rows) == list(range(1, n + 1))
    sources = {r["source"] for r in rows}
    head = [r for r in rows if r["curriculum_pos"] <= len(sources)]
    assert {r["source"] for r in head} == sources
    assert all(r["rank_in_source"] == 1 for r in head)
    # within one source, positions must be strictly increasing in rank
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(
            (r["rank_in_source"], r["curriculum_pos"])
        )
    for pairs in by_src.values():
        pairs.sort()
        assert all(
            p1 < p2 for (_, p1), (_, p2) in zip(pairs, pairs[1:])
        )


def test_graph_triangles_star_contract(spark, tmp_path):
    """Round-8 star contract: three identical docs form a rep-centered
    STAR in the candidate graph (2 edges, 1 wedge, 0 triangles), not
    a 3-clique — exact-duplicate groups must contribute linear edges.
    A genuinely near-identical DISTINCT doc still band-joins the rep,
    so near-dup candidate generation is intact."""
    import pandas as pd

    from backend_model_spark.operators.dedup import (
        graph_triangles,
        lsh_candidate_pairs,
    )

    txt = " ".join(f"tok{i}" for i in range(30))
    near = txt + " extra"  # 28/29 shared shingles: Jaccard ≈ 0.966
    other = " ".join(f"zz{i}" for i in range(30))
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3, 4],
            "text": [txt, txt, txt, other, near],
            "lang": ["en"] * 5,
            "source": ["s0"] * 5,
            "n_chars": [0] * 5,
        }
    )
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(spark, sf).collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs, "star edges must be emitted"
    assert (1, 2) not in pairs, "within-group pair must NOT be emitted"
    assert (0, 4) in pairs, "near-identical distinct doc must band-join the rep"
    row = graph_triangles(spark, sf).collect()[0]
    # nodes {0,1,2,4}; edges star(0-1, 0-2) + band(0-4); all wedges at
    # the rep: C(3,2)=3; no triangle anywhere
    assert row["n_nodes"] == 4 and row["n_edges"] == 3
    assert row["n_triangles"] == 0
    assert row["n_wedges"] == 3
    assert row["transitivity"] == 0.0


def test_session_overlap_join_exact_window_math(spark, tmp_path):
    """Two users with hand-placed sessions: overlap must be the exact
    intersection in µs, a session spanning several hour bins must
    count once, and disjoint users must not pair."""
    import pandas as pd

    from backend_model_spark.operators.events_ops import session_overlap_join

    t0 = pd.Timestamp("2024-01-01 10:00:00")
    rows = []
    # user 1: one session 10:00 → 12:00 (events every 20 min, crosses
    # three hour-bins)
    for i in range(7):
        rows.append((100 + i, t0 + pd.Timedelta(minutes=20 * i), 1, "c", 0.0, "{}"))
    # user 2: one session 11:30 → 11:50 (inside user 1's) → overlap 20 min
    rows.append((200, t0 + pd.Timedelta(minutes=90), 2, "c", 0.0, "{}"))
    rows.append((201, t0 + pd.Timedelta(minutes=110), 2, "c", 0.0, "{}"))
    # user 3: far away, no overlap
    rows.append((300, t0 + pd.Timedelta(days=2), 3, "c", 0.0, "{}"))
    ev = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = str(tmp_path)
    ev.to_parquet(f"{sf}/events.parquet")
    out = session_overlap_join(spark, sf).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["user_a"], r["user_b"]) == (1, 2)
    assert r["n_overlaps"] == 1  # single pair despite shared bins
    assert r["total_overlap_us"] == 20 * 60 * 1_000_000


def test_pattern_sequence_strict_counting(spark, tmp_path):
    """Hand-built histories: contiguous v,c,p runs count exactly,
    interleaved types break strictness, and first-match position is
    1-based (0 = absent)."""
    import pandas as pd

    from backend_model_spark.operators.events_ops import pattern_sequence

    t0 = pd.Timestamp("2024-01-01")
    rows = []

    def emit(user, types):
        for i, ty in enumerate(types):
            rows.append(
                (user * 1000 + i, t0 + pd.Timedelta(seconds=i), user, ty, 0.0, "{}")
            )

    emit(1, ["view", "click", "purchase", "view", "click", "purchase"])  # vcpvcp
    emit(2, ["view", "view", "click", "purchase"])                      # vvcp
    emit(3, ["view", "click", "view", "click", "purchase"])             # vcvcp
    emit(4, ["purchase", "click", "view"])                              # pcv
    ev = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    sf = str(tmp_path)
    ev.to_parquet(f"{sf}/events.parquet")
    out = {r["user_id"]: r for r in pattern_sequence(spark, sf).collect()}
    assert (out[1]["n_strict_vcp"], out[1]["first_vcp_pos"]) == (2, 1)
    assert (out[2]["n_strict_vcp"], out[2]["first_vcp_pos"]) == (1, 2)
    assert (out[3]["n_strict_vcp"], out[3]["first_vcp_pos"]) == (1, 3)
    assert (out[4]["n_strict_vcp"], out[4]["first_vcp_pos"]) == (0, 0)


def test_schema_evolution_null_fills_pre_drift_rows(spark, sf_dir):
    """Years before the drift point must report zero rows carrying the
    late-added column; years after must carry it on every row."""
    from backend_model_spark.sources.io_ops import schema_evolution_scan

    rows = schema_evolution_scan(spark, sf_dir).collect()
    assert rows
    for r in rows:
        if r["order_year"] < 1995:
            assert r["n_with_priority"] == 0 and r["n_priorities"] == 0
        else:
            assert r["n_with_priority"] == r["n_rows"]
            assert r["n_priorities"] > 0


def test_lsh_recall_confusion_invariants(spark, sf_dir):
    """Hits are bounded by both sides and the ppm ratios must be the
    floor of the exact fractions."""
    from backend_model_spark.operators.dedup import lsh_recall

    r = lsh_recall(spark, sf_dir).collect()[0]
    assert 0 < r["n_hits"] <= min(r["n_truth"], r["n_candidates"])
    assert r["recall_ppm"] == r["n_hits"] * 1_000_000 // r["n_truth"]
    assert r["precision_ppm"] == r["n_hits"] * 1_000_000 // r["n_candidates"]


def test_chunk_ops_ignore_null_text(spark, tmp_path):
    """A null-text document must contribute NOTHING to chunk-based ops
    (without the guard, Spark's sequence(1, 0) emits a descending
    [1, 0] — two phantom chunks — where DuckDB emits no rows)."""
    import pandas as pd

    from backend_model_spark.operators.dedup import chunk_first_wins
    from backend_model_spark.operators.text import quality_classifier

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": ["alpha beta gamma delta", None],
            "lang": ["en", "en"],
            "source": ["s0", "s0"],
            "n_chars": [22, 0],
        }
    )
    sf = str(tmp_path)
    docs.to_parquet(f"{sf}/documents.parquet")
    chunk_ids = [r["doc_id"] for r in chunk_first_wins(spark, sf).collect()]
    assert chunk_ids == [0]
    cls_ids = [r["doc_id"] for r in quality_classifier(spark, sf).collect()]
    assert cls_ids == [0]


def test_alert_hysteresis_dead_band_holds_state(spark, tmp_path):
    """Hand-placed stream crossing the 80/20 thresholds: values in
    the dead band must HOLD the previous state (not flap), equality
    at a threshold is a hold, and a re-open after close is a second
    episode."""
    import pandas as pd

    from backend_model_spark.operators.events_ops import alert_hysteresis

    t0 = pd.Timestamp("2024-01-01")
    #        value   state after (open>80, close<20, else hold)
    stream = [
        (50.0, 0),  # dead band, never alerted → 0
        (85.0, 1),  # opens
        (40.0, 1),  # dead band → holds open (a 20<v<80 must NOT close)
        (80.0, 1),  # equality is NOT > 80 → hold (still open)
        (10.0, 0),  # closes
        (79.9, 0),  # dead band → holds closed
        (90.0, 1),  # second episode
    ]
    ev = pd.DataFrame(
        {
            "event_id": range(len(stream)),
            "ts": [t0 + pd.Timedelta(minutes=i) for i in range(len(stream))],
            "user_id": [7] * len(stream),
            "event_type": ["m"] * len(stream),
            "value": [v for v, _ in stream],
            "props": ["{}"] * len(stream),
        }
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev.to_parquet(f"{tmp_path}/events.parquet")
    row = alert_hysteresis(spark, str(tmp_path)).collect()[0]
    assert row["n_events"] == len(stream)
    assert row["n_alert_events"] == sum(s for _, s in stream)
    assert row["n_episodes"] == 2


def test_max_drawdown_monotone_series_is_zero(spark, tmp_path):
    """A strictly rising revenue curve has zero drawdown everywhere;
    a single dip day must be the unique worst drawdown, valued at
    exactly peak − cumulative in cents."""
    import pandas as pd

    from backend_model_spark.operators.windows import max_drawdown

    days = pd.date_range("2024-01-01", periods=6, freq="D")
    # daily revenue: rising, then a refund-heavy day (negative), then recovery
    revs = [100.0, 200.0, 300.0, -250.0, 50.0, 400.0]
    orders = pd.DataFrame(
        {
            "o_orderkey": range(len(revs)),
            "o_custkey": [1] * len(revs),
            "o_orderstatus": ["O"] * len(revs),
            "o_totalprice": revs,
            "o_orderdate": days,
            "o_orderpriority": ["1-URGENT"] * len(revs),
        }
    )
    orders["o_orderdate"] = orders["o_orderdate"].astype("datetime64[us]")
    orders.to_parquet(f"{tmp_path}/orders.parquet")
    out = max_drawdown(spark, str(tmp_path)).collect()
    # cum: 100 300 600 350 400 800 ; peak: 100 300 600 600 600 800
    assert out[0]["day"] == "2024-01-04" and out[0]["drawdown"] == 250.0
    assert out[1]["day"] == "2024-01-05" and out[1]["drawdown"] == 200.0
    assert out[2]["drawdown"] == 0.0


def test_dynamic_partition_overwrite_leaves_other_partitions_untouched(
    spark, tmp_path
):
    """The core dynamic-overwrite contract: overwriting a restated
    year must replace ONLY that year's directory — files of untouched
    years survive with identical names (static mode would delete
    them)."""
    import os

    import pandas as pd

    path = str(tmp_path / "orders_by_year")
    seed = pd.DataFrame(
        {
            "o_orderkey": range(6),
            "cents": [100, 200, 300, 400, 500, 600],
            "order_year": [1994, 1994, 1995, 1995, 1996, 1996],
        }
    )
    sdf = spark.createDataFrame(seed)
    sdf.write.mode("overwrite").partitionBy("order_year").parquet(path)

    def files_of(year):
        d = os.path.join(path, f"order_year={year}")
        return sorted(f for f in os.listdir(d) if f.endswith(".parquet"))

    before_94, before_96 = files_of(1994), files_of(1996)
    restated = spark.createDataFrame(
        pd.DataFrame(
            {"o_orderkey": [2, 3], "cents": [330, 440], "order_year": [1995, 1995]}
        )
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        restated.write.mode("overwrite").partitionBy("order_year").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    assert files_of(1994) == before_94, "1994 files must survive untouched"
    assert files_of(1996) == before_96, "1996 files must survive untouched"
    got = {
        (r["order_year"], r["cents"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {(1994, 100), (1994, 200), (1995, 330), (1995, 440),
                   (1996, 500), (1996, 600)}


def test_bloom_prefilter_prunes_and_stays_exact(spark, tmp_path):
    """Hand-built corpus: probe docs that duplicate reference content
    must ALL be counted (no false negatives through the sketch), and
    the bucket prefilter must actually prune — candidates strictly
    fewer than probe rows on disjoint content."""
    import pandas as pd

    from pyspark.sql import functions as F

    from backend_model_spark.operators.dedup import (
        SKETCH_BUCKETS,
        bloom_prefilter_dedup,
    )

    # even ids = reference, odd ids = probe
    rows = []
    for i in range(0, 40, 2):
        rows.append((i, f"ref doc number {i}", "en", "s0", 10))
    rows.append((1, "ref doc number 0", "en", "s0", 10))   # exact dup of ref 0
    rows.append((3, "ref doc number 2", "en", "s1", 10))   # exact dup of ref 2
    for i in range(5, 25, 2):
        rows.append((i, f"unique probe {i}", "en", "s1", 10))
    docs = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    docs.to_parquet(f"{tmp_path}/documents.parquet")

    out = bloom_prefilter_dedup(spark, str(tmp_path)).toPandas().set_index("source")
    assert out.loc["s0", "n_dup_vs_ref"] == 1
    assert out.loc["s1", "n_dup_vs_ref"] == 1
    assert out["n_probe"].sum() == 12

    # pruning power: re-derive the candidate stage and show the
    # bucket semi-join discards non-duplicate probes (collisions in
    # 65536 buckets are wildly unlikely for 10 unique probes)
    normalized = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    with_fp = (
        spark.read.parquet(f"{tmp_path}/documents.parquet")
        .select("doc_id", F.md5(normalized.cast("binary")).alias("fp"))
        .withColumn("bucket", F.pmod(F.xxhash64("fp"), F.lit(SKETCH_BUCKETS)))
    )
    ref_b = with_fp.filter(F.col("doc_id") % 2 == 0).select("bucket").distinct()
    survivors = (
        with_fp.filter(F.col("doc_id") % 2 == 1)
        .join(F.broadcast(ref_b), "bucket", "left_semi")
        .count()
    )
    assert survivors <= 4, "bucket prefilter failed to prune unique probes"
    assert survivors >= 2, "sketch must never drop true duplicates"


def test_funnel_timed_window_boundaries(spark, tmp_path):
    """Hand-placed funnels: a click exactly AT +1h counts (<=), one
    microsecond past does not; the purchase window anchors at the
    click, not the signup."""
    import pandas as pd

    from backend_model_spark.operators.events_ops import funnel_timed

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    h = pd.Timedelta(hours=1)
    us = pd.Timedelta(microseconds=1)
    rows = [
        # user 1: click exactly at +1h (counts), purchase at click+1h (counts)
        (10, t0, 1, "signup"),
        (11, t0 + h, 1, "click"),
        (12, t0 + h + h, 1, "purchase"),
        # user 2: click 1µs past the hour — funnel dies at signup
        (20, t0, 2, "signup"),
        (21, t0 + h + us, 2, "click"),
        (22, t0 + h + us + us, 2, "purchase"),
        # user 3: click at +59min, purchase at +90min — INSIDE
        # click+1h (119min) but OUTSIDE signup+1h (60min): counts iff
        # the purchase window anchors at the click, as specified
        (30, t0, 3, "signup"),
        (31, t0 + pd.Timedelta(minutes=59), 3, "click"),
        (32, t0 + pd.Timedelta(minutes=90), 3, "purchase"),
    ]
    ev = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "event_type"])
    ev["value"] = 1.0
    ev["props"] = "{}"
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev.to_parquet(f"{tmp_path}/events.parquet")
    row = funnel_timed(spark, str(tmp_path)).collect()[0]
    assert row["n_users"] == 3
    assert row["n_signup"] == 3
    assert row["n_click_1h"] == 2   # users 1 and 3
    assert row["n_purchase_1h"] == 2  # user 1 (+1h edges) and user 3 (click anchor)


def test_geo_knn_matches_python_reference(spark):
    """knn_comps distances and neighbor ranking recomputed in pure
    Python from the same md5-derived coordinates: per query point the
    reported top-3 must equal brute force over the 3x3 cell ring."""
    import hashlib
    import math

    from backend_model_spark.operators.geo import CELL_DEG, EARTH_KM, knn_comps

    sf = "/root/testdata/sf0.001"
    rows = knn_comps(spark, sf).collect()
    assert rows, "sf0.001 must produce at least one query point"

    # python twin of _coords
    import pyarrow.parquet as pq

    keys = pq.read_table(sf + "/customer.parquet", columns=["c_custkey"])[
        "c_custkey"
    ].to_pylist()

    def u(salt: str, key: int) -> float:
        h = hashlib.md5(f"{salt}:{key}".encode()).hexdigest()[:8]
        return int(h, 16) % 100000000 / 1e8

    pts = {
        k: (40.0 + u("lat", k) * 2.0, -75.0 + u("lon", k) * 2.0) for k in keys
    }
    cell = {
        k: (math.floor(lat / CELL_DEG), math.floor(lon / CELL_DEG))
        for k, (lat, lon) in pts.items()
    }

    def hav(a, b):
        (la1, lo1), (la2, lo2) = pts[a], pts[b]
        dlat = math.radians(la2 - la1) / 2
        dlon = math.radians(lo2 - lo1) / 2
        x = (
            math.sin(dlat) ** 2
            + math.cos(math.radians(la1))
            * math.cos(math.radians(la2))
            * math.sin(dlon) ** 2
        )
        return 2 * EARTH_KM * math.asin(math.sqrt(x))

    got = {}
    for r in rows:
        got.setdefault(r.qkey, []).append((r.rk, r.nkey, r.dist_km))
    for qkey, triples in got.items():
        qc = cell[qkey]
        cands = [
            k
            for k in keys
            if k != qkey
            and abs(cell[k][0] - qc[0]) <= 1
            and abs(cell[k][1] - qc[1]) <= 1
        ]
        want = sorted(
            (math.floor(hav(qkey, k) * 1e6 + 0.5), k) for k in cands
        )[:3]
        assert [(d / 1e6, k) for d, k in want] == [
            (d, k) for _, k, d in sorted(triples)
        ], f"qkey {qkey} mismatch"


def test_recursive_hierarchy_conserves_parts(spark):
    """Every part reaches exactly one single-digit root: subtree
    sizes must sum to the table count, and the digit-tree height at
    sf0.001 (keys 0..199) is 2."""
    from backend_model_spark.operators.sql_api import recursive_hierarchy

    sf = "/root/testdata/sf0.001"
    rows = recursive_hierarchy(spark, sf).collect()
    from backend_model_spark.sources.tables import load_table

    n_parts = load_table(spark, "part", sf).count()
    assert sum(r.n_parts for r in rows) == n_parts
    assert max(r.max_depth for r in rows) == 2
    assert {r.root for r in rows} <= set(range(10))


def test_naive_bayes_confusion_is_complete_and_deterministic(spark):
    """Confusion-matrix invariants: cells sum to the held-out docs
    with >=1 in-vocabulary token, predictions only come from train
    classes, and a re-run is bit-identical (content-addressed split +
    rounded-score argmax). NOTE: the synthetic corpus draws every
    lang's text from ONE shared vocabulary, so labels are
    uncorrelated with tokens and no classifier can beat the prior —
    accuracy is intentionally not asserted; the DuckDB oracle pins
    the math engine-vs-engine instead."""
    from backend_model_spark.operators.ml_queries import naive_bayes_lang
    from backend_model_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.01"
    rows = naive_bayes_lang(spark, sf).collect()
    total = sum(r.n_docs for r in rows)

    docs = load_table(spark, "documents", sf)
    from backend_model_spark.operators.sampling import BUCKET

    bucket = F.expr(BUCKET)  # the shipped split, not a hand copy
    n_test = docs.filter(bucket >= 80).count()
    train_langs = {
        r.lang for r in docs.filter(bucket < 80).select("lang").distinct().collect()
    }
    assert 0 < total <= n_test
    assert {r.predicted for r in rows} <= train_langs
    rerun = naive_bayes_lang(spark, sf).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rerun))


def test_epoch_shuffle_orders_differ_and_are_valid(spark):
    """Epoch 0 and epoch 1 must be *different* permutations (the
    point of reshuffling), each with positions 1..10 over distinct
    docs."""
    from backend_model_spark.operators.sampling import epoch_shuffle_order

    rows = epoch_shuffle_order(spark, "/root/testdata/sf0.01").collect()
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, []).append((r.pos, r.doc_id))
    assert set(by_epoch) == {0, 1}
    for e, pairs in by_epoch.items():
        assert sorted(p for p, _ in pairs) == list(range(1, 11))
        assert len({d for _, d in pairs}) == 10
    assert [d for _, d in sorted(by_epoch[0])] != [
        d for _, d in sorted(by_epoch[1])
    ]


def test_ols_cv_folds_agree_with_numpy(spark):
    """Each fold's closed-form fit and held-out RMSE recomputed with
    numpy on the same PK-keyed (Lehmer-hash) membership."""
    import numpy as np

    from backend_model_spark.operators.ml_queries import ols_cv_sufficient
    from backend_model_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = {r.fold: r for r in ols_cv_sufficient(spark, sf).collect()}
    pdf = (
        load_table(spark, "lineitem", sf)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .toPandas()
    )
    folds = np.array(
        [
            ((int(o) % 2147483647) * 48271 % 2147483647 + int(l)) % 5
            for o, l in zip(pdf["l_orderkey"], pdf["l_linenumber"])
        ]
    )
    x = pdf["l_quantity"].to_numpy(float)
    y = pdf["l_extendedprice"].to_numpy(float)
    for f in range(5):
        tr, te = folds != f, folds == f
        b, a = np.polyfit(x[tr], y[tr], 1)
        rmse = float(np.sqrt(np.mean((y[te] - a - b * x[te]) ** 2)))
        assert rows[f].n_train == int(tr.sum())
        assert rows[f].n_test == int(te.sum())
        assert abs(rows[f].slope - b) < 1e-4
        assert abs(rows[f].intercept - a) < 1e-3
        assert abs(rows[f].test_rmse - rmse) < 1e-3


def test_blocked_correlation_matches_pandas_on_300_columns(spark):
    """corr_with_target_blocked must tile a 300-column frame into
    ceil(300/64)=5 codegen-sized aggregation passes and agree with
    pandas' corr on every column; the 3-column testdata path (one
    tile) keeps its oracle unchanged."""
    import numpy as np
    import pandas as pd

    from backend_model_spark.operators.aggregates import (
        CORR_BLOCK,
        corr_with_target_blocked,
    )

    rng = np.random.default_rng(7)
    n, w = 2000, 300
    base = rng.normal(size=n)
    data = {"target": base}
    for j in range(w):
        # mix of correlated and independent columns
        data[f"c{j}"] = base * ((j % 5) / 4.0) + rng.normal(size=n)
    pdf = pd.DataFrame(data)
    sdf = spark.createDataFrame(pdf)

    cols = [f"c{j}" for j in range(w)]
    out = corr_with_target_blocked(sdf, "target", cols).toPandas()
    assert list(out.columns) == [f"corr_c{j}" for j in range(w)]

    expect = pdf[cols].corrwith(pdf["target"]).abs()
    for j in range(w):
        assert abs(out[f"corr_c{j}"].iloc[0] - round(expect[f"c{j}"], 6)) < 2e-6

    # plan shape: one scan per tile, each pruned to its own block
    df = corr_with_target_blocked(sdf, "target", cols)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re

    n_tiles = -(-w // CORR_BLOCK)
    # formatted plans print each node twice (tree + numbered detail)
    joins = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.MULTILINE)
    assert len(joins) == n_tiles - 1, (
        f"tiles must combine via broadcast one-row joins, got {len(joins)}"
    )


def test_knn_grid_ladder_matches_sql_twin(spark):
    """The adaptive-grid level ladder must give the same power of two
    on Spark (the query's scalar subquery) and on DuckDB (the oracle),
    and the expected one, at every threshold boundary ±1 — a level
    disagreement would silently diverge the candidate sets."""
    import duckdb
    from pyspark.sql import functions as F

    from backend_model_spark.operators.geo import (
        KNN_GRID_MAX_HALVINGS,
        KNN_GRID_N_REF,
        _HALVINGS_SQL,
    )

    probes = [1, KNN_GRID_N_REF - 1, KNN_GRID_N_REF, KNN_GRID_N_REF + 1]
    for k in range(1, KNN_GRID_MAX_HALVINGS + 2):
        t = KNN_GRID_N_REF * 4**k
        probes += [t - 1, t, t + 1]
    spark_pow2 = dict(
        spark.createDataFrame([(n,) for n in probes], "n bigint")
        .select("n", F.expr(_HALVINGS_SQL))
        .collect()
    )
    con = duckdb.connect()
    for n in probes:
        (duck_pow2,) = con.execute(
            f"SELECT {_HALVINGS_SQL} FROM (SELECT {n}::BIGINT AS n)"
        ).fetchone()
        k = max(
            [0]
            + [j for j in range(1, KNN_GRID_MAX_HALVINGS + 1) if n >= KNN_GRID_N_REF * 4**j]
        )
        assert spark_pow2[n] == duck_pow2 == 2**k, f"ladder split at n={n}"


_BPE_TEXT = "aaaa aaaa aaaa banana banana bandana apple apples grape "


@pytest.mark.parametrize(
    "texts, first_pair, n_rounds",
    [
        pytest.param(
            [_BPE_TEXT, _BPE_TEXT + " aaaa banana"], ("a", "a"), 5, id="overlaps"
        ),
        # two learnable pairs, then every word is a single token
        pytest.param(["ab ab", "cd"], ("a", "b"), 2, id="short_vocab"),
    ],
)
def test_bpe_merges_match_python_reference_with_overlaps(
    spark, tmp_path, texts, first_pair, n_rounds
):
    """The merge learner and the corpus segmenter must equal a
    straightforward sequential BPE implementation — same pair counts
    (overlapping occurrences included), same (count desc, pair asc)
    tie-break, same GREEDY left-to-right application, and per source
    the same token and character totals. 'aaaa' exercises the overlap
    rule: matches at positions 1,2,3 must merge as [aa][aa], never the
    overlapping middle. A vocab with fewer than ``N_MERGES`` learnable
    pairs learns only the rounds it finds, and the segmenter then
    returns no row, as the oracle does."""
    import math

    from backend_model_spark.operators.bpe import (
        N_MERGES,
        bpe_learn_merges,
        bpe_segment_corpus,
    )

    docs = pd.DataFrame(
        {
            "doc_id": list(range(len(texts))),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": [f"s{i}" for i in range(len(texts))],
            "n_chars": [len(t) for t in texts],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")

    out = [
        (r.lhs, r.rhs, r.pair_count)
        for r in bpe_learn_merges(spark, str(tmp_path)).collect()
    ]
    seg = [tuple(r) for r in bpe_segment_corpus(spark, str(tmp_path)).collect()]

    # sequential reference
    words: dict[str, int] = {}
    for t in docs["text"]:
        for w in t.split():
            words[w] = words.get(w, 0) + 1
    seqs = {w: list(w) for w in words}
    expect = []
    for _ in range(N_MERGES):
        counts: dict[tuple[str, str], int] = {}
        for w, c in words.items():
            s = seqs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + c
        if not counts:
            break
        (a, b), c = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        expect.append((a, b, c))
        for w in seqs:
            s, res, i = seqs[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    res.append(a + b)
                    i += 2
                else:
                    res.append(s[i])
                    i += 1
            seqs[w] = res
    totals: dict[str, list[int]] = {}
    for t, src in zip(docs["text"], docs["source"]):
        for w in t.split():
            tot = totals.setdefault(src, [0, 0])
            tot[0] += len(seqs[w])
            tot[1] += len(w)
    expect_seg = [
        (src, n_tok, n_chr, math.floor(n_chr / n_tok * 1000000 + 0.5) / 1000000)
        for src, (n_tok, n_chr) in sorted(totals.items())
        if len(expect) == N_MERGES
    ]
    assert out == expect, f"{out} != {expect}"
    assert seg == expect_seg, f"{seg} != {expect_seg}"
    assert len(out) == n_rounds and out[0][:2] == first_pair


def test_k_anonymity_audit_hand_computed(spark, tmp_path):
    """Hand-built customer table with known equivalence classes:
    classes of size 1, 2, and 30 — every threshold row must match the
    by-hand counts, and min_class_size must report the true anonymity
    level (1)."""
    import pandas as pd

    from backend_model_spark.operators.relational import k_anonymity_audit

    rows = []
    # class A: (nation 0, 'SEG_X') x 1   -> below k for all thresholds
    rows += [(0, "SEG_X")] * 1
    # class B: (nation 1, 'SEG_Y') x 2   -> below 5/10/25, not below 2
    rows += [(1, "SEG_Y")] * 2
    # class C: (nation 2, 'SEG_Z') x 30  -> never below
    rows += [(2, "SEG_Z")] * 30
    pd.DataFrame(
        {
            "c_custkey": range(len(rows)),
            "c_nationkey": [n for n, _ in rows],
            "c_mktsegment": [s for _, s in rows],
            "c_acctbal": [100.0] * len(rows),
            "c_name": ["x"] * len(rows),
        }
    ).to_parquet(tmp_path / "customer.parquet")

    got = {
        r.k: (r.n_classes_below, r.n_rows_below, r.pct_rows_below_micro,
              r.min_class_size)
        for r in k_anonymity_audit(spark, str(tmp_path)).collect()
    }
    n = 33
    pct = lambda x: int(x * 1000000 / n + 0.5)
    assert got[2] == (1, 1, pct(1), 1)
    assert got[5] == (2, 3, pct(3), 1)
    assert got[10] == (2, 3, pct(3), 1)
    assert got[25] == (2, 3, pct(3), 1)


def test_markov_attribution_matches_numpy_solver(spark, tmp_path):
    """The in-query Cramer solve must equal numpy's linalg.solve on
    the absorbing-chain system built from the same journeys — both
    the absorption probabilities and every removal effect (2x2
    re-solve with the channel's row/column deleted)."""
    import numpy as np
    import pandas as pd

    from backend_model_spark.operators.markov import (
        markov_removal_attribution,
    )

    # deterministic journeys with asymmetric transition structure
    journeys = [
        ["view", "click", "purchase"],
        ["view", "click", "click", "error"],
        ["click", "signup", "purchase"],
        ["view", "signup", "click", "purchase"],
        ["signup", "view", "error"],
        ["view", "purchase"],
        ["click", "error"],
        ["signup", "signup", "purchase"],
    ]
    rows, eid = [], 0
    base = pd.Timestamp("2024-01-01")
    for u, j in enumerate(journeys):
        for i, et in enumerate(j):
            rows.append(
                {
                    "event_id": eid,
                    "ts": base + pd.Timedelta(minutes=i),
                    "user_id": u,
                    "event_type": et,
                    "value": 1.0,
                    "props": "{}",
                }
            )
            eid += 1
    ev = pd.DataFrame(rows)
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev.to_parquet(tmp_path / "events.parquet")

    got = {
        r.channel: (r.absorption_prob, r.removal_effect)
        for r in markov_removal_attribution(spark, str(tmp_path)).collect()
    }

    # numpy reference
    T = ["view", "click", "signup"]
    n = {(a, b): 0 for a in T for b in T + ["conv", "drop"]}
    firsts = {a: 0 for a in T}
    for j in journeys:
        if j[0] in T:
            firsts[j[0]] += 1
        for i, s in enumerate(j):
            if s not in T:
                continue
            nxt = j[i + 1] if i + 1 < len(j) else None
            if nxt in T:
                n[(s, nxt)] += 1
            elif nxt == "purchase":
                n[(s, "conv")] += 1
            else:
                n[(s, "drop")] += 1
    tot = {a: sum(n[(a, b)] for b in T + ["conv", "drop"]) for a in T}
    Q = np.array([[n[(a, b)] / tot[a] for b in T] for a in T])
    r = np.array([n[(a, "conv")] / tot[a] for a in T])
    a_full = np.linalg.solve(np.eye(3) - Q, r)
    f = np.array([firsts[a] for a in T], dtype=float)
    p_full = f @ a_full / f.sum()
    for i, ch in enumerate(T):
        assert abs(got[ch][0] - round(a_full[i], 6)) < 2e-6
        keep = [j for j in range(3) if j != i]
        a2 = np.linalg.solve(
            np.eye(2) - Q[np.ix_(keep, keep)], r[keep]
        )
        p_rm = f[keep] @ a2 / f.sum()
        assert abs(got[ch][1] - round(1 - p_rm / p_full, 6)) < 2e-6


def test_km_survival_matches_sequential_reference(spark):
    """The relational KM table must equal the textbook sequential
    estimator (sorted event days, risk-set shrink by exits, product
    of (1 - d/n)) computed in plain python on the same per-user
    (time, status) data — including censoring semantics and the
    everyone-purchases absorption step."""
    import math

    import pandas as pd
    import pyarrow.parquet as pq

    from backend_model_spark.operators.events_ops import ab_survival_km

    sf = "/root/testdata/sf0.001"
    got = {
        (r.variant, r.t_days): (r.n_at_risk, r.n_purchases, r.survival)
        for r in ab_survival_km(spark, sf).collect()
    }

    ev = pq.read_table(
        f"{sf}/events.parquet", columns=["user_id", "ts", "event_type"]
    ).to_pandas()
    per = []
    for uid, g in ev.groupby("user_id"):
        t0 = g.ts.min()
        p = g.loc[g.event_type == "purchase", "ts"]
        tp = p.min() if len(p) else None
        end = tp if tp is not None else g.ts.max()
        per.append(
            {
                "variant": "a" if uid % 2 == 0 else "b",
                "status": 1 if tp is not None else 0,
                "t": (end.normalize() - t0.normalize()).days,
            }
        )
    per = pd.DataFrame(per)
    for v, g in per.groupby("variant"):
        n = len(g)
        s = 1.0
        for t in sorted(g.t.unique()):
            d = int(((g.t == t) & (g.status == 1)).sum())
            c = int(((g.t == t) & (g.status == 0)).sum())
            assert got[(v, t)][0] == n, (v, t)
            assert got[(v, t)][1] == d
            if d == n:
                s = 0.0
            else:
                s *= 1.0 - d / n
            expect = 0.0 if s == 0.0 else round(s, 6)
            assert math.isclose(got[(v, t)][2], expect, abs_tol=2e-6), (v, t)
            n -= d + c


def test_wap_red_audit_quarantines_instead_of_publishing(spark, tmp_path):
    """A batch with a duplicate primary key must FAIL the audit: the
    published row reports 0 live rows + 1 violation, the staging
    directory survives for forensics, and the published location is
    never created — the whole point of write-audit-publish."""
    import os

    import pandas as pd

    from backend_model_spark.sources.io_ops import (
        _scratch,
        wap_write_audit_publish,
    )

    orders = pd.DataFrame(
        {
            "o_orderkey": [1, 1, 2],  # duplicate PK inside the batch window
            "o_custkey": [10, 11, 12],
            "o_orderdate": pd.to_datetime(
                ["1995-01-05", "1995-01-06", "1995-01-07"]
            ).astype("datetime64[us]"),
            "o_totalprice": [10.0, 20.0, 30.0],
            "o_orderstatus": ["O"] * 3,
            "o_orderpriority": ["1-URGENT"] * 3,
        }
    )
    orders.to_parquet(tmp_path / "orders.parquet")

    rows = {
        r.check: (r.n_checked, r.n_violations)
        for r in wap_write_audit_publish(spark, str(tmp_path)).collect()
    }
    assert rows["pk_unique_orderkey"] == (3, 1)
    assert rows["published"] == (0, 1), "red audit must not publish"
    assert os.path.isdir(_scratch("wap", "staging")), "staging kept for forensics"
    assert not os.path.isdir(_scratch("wap", "published"))


def test_containment_detects_subset_where_jaccard_cannot(spark, tmp_path):
    """A short document quoted verbatim inside a much longer one must
    score containment 1.0 in the short→long direction while its
    Jaccard stays far below any dedup threshold — the asymmetric
    signal is the operator's reason to exist."""
    import pandas as pd

    from backend_model_spark.operators.dedup import containment_pairs

    quote = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(40))
    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [quote, filler + " " + quote + " " + filler, "unrelated words only here"],
            "lang": ["en"] * 3,
            "source": ["s0"] * 3,
            "n_chars": [len(quote), len(filler) * 2 + len(quote) + 2, 25],
        }
    )
    docs.to_parquet(tmp_path / "documents.parquet")

    rows = {
        (r.doc_a, r.doc_b): (r.c_a_in_b_micro, r.c_b_in_a_micro)
        for r in containment_pairs(spark, str(tmp_path)).collect()
    }
    assert (0, 1) in rows, "the quoted pair must survive the gate"
    c_short, c_long = rows[(0, 1)]
    assert c_short == 1000000, "every shingle of the short doc is contained"
    assert c_long < 100000, "the long doc is NOT contained in the short one"
    assert (0, 2) not in rows and (1, 2) not in rows


def test_pg_wire_client_protocol():
    """Clean-room Postgres wire client: NULLs, quote escaping, errors,
    and concurrent per-partition connections against a real ephemeral
    cluster (the io_postgres_roundtrip transport)."""
    import pytest

    from backend_model_spark.sources.pg_server import (
        PostgresCluster,
        postgres_available,
    )
    from backend_model_spark.sources.pg_wire import PgError, quote_literal

    if not postgres_available():
        pytest.skip("postgres server binaries not in this container")

    assert quote_literal(None) == "NULL"
    assert quote_literal("o'brien") == "'o''brien'"
    assert quote_literal(42) == "42"

    with PostgresCluster() as cl:
        with cl.connect() as c:
            c.query("CREATE TABLE t(a bigint, b text)")
            c.query("INSERT INTO t VALUES (1,'x'),(2,NULL),(3,'o''k')")
            cols, rows = c.query("SELECT b, a FROM t ORDER BY a")
            assert cols == ["b", "a"]
            assert rows == [("x", "1"), (None, "2"), ("o'k", "3")]
            # server errors surface as PgError and leave the session usable
            with pytest.raises(PgError):
                c.query("SELECT * FROM missing_table")
            _, rows2 = c.query("SELECT count(*) FROM t")
            assert rows2 == [("3",)]
        # two concurrent connections (the distributed-writer shape)
        c1, c2 = cl.connect(), cl.connect()
        try:
            c1.query("INSERT INTO t VALUES (10,'a')")
            c2.query("INSERT INTO t VALUES (11,'b')")
            _, rows3 = c1.query("SELECT count(*) FROM t")
            assert rows3 == [("5",)]
        finally:
            c1.close()
            c2.close()


class _FakeGroupState:
    """Minimal GroupState stand-in for unit-testing stateful folds."""

    def __init__(self):
        self._val, self.exists = None, False

    @property
    def get(self):
        return self._val

    def update(self, v):
        self._val, self.exists = v, True


def test_staircase_fold_is_batch_split_invariant():
    """Round-7 fix for the round-6 advice: n_max_updates must not
    depend on HOW availableNow splits the source into micro-batches,
    including batches whose timestamp ranges INTERLEAVE (the
    maxFilesPerTrigger scenario). The record-staircase state makes
    the fold a join-semilattice merge: every batching of the same
    event set must land in the same final state."""
    import numpy as np
    import pandas as pd

    from backend_model_spark.streaming.jobs import _staircase_fold

    rng = np.random.RandomState(11)
    n = 200
    ev = pd.DataFrame(
        {
            "ts": pd.to_datetime(rng.randint(0, 50, n), unit="s"),  # many ts ties
            "event_id": np.arange(n, dtype="int64"),
            "value": np.round(rng.uniform(0, 100, n), 2),
        }
    )

    def run(batches):
        st = _FakeGroupState()
        out = None
        for b in batches:
            out = next(_staircase_fold((7,), iter([b]), st))
        return tuple(out.iloc[0][["n_events", "max_value_cents", "n_max_updates"]])

    # global-order reference
    srt = ev.sort_values(["ts", "event_id"], kind="mergesort")
    mx, upd = float("-inf"), 0
    for v in srt["value"]:
        if v > mx:
            mx, upd = v, upd + 1
    ref = (n, int(np.floor(mx * 100 + 0.5)), upd)

    single = run([ev])
    assert single == ref

    # interleaved-ts batches: stripe events across 3 batches so each
    # batch's ts range overlaps the others (worst case for running-max)
    stripes = [ev.iloc[i::3] for i in range(3)]
    assert run(stripes) == ref
    assert run(stripes[::-1]) == ref

    # adversarial: ascending-value tail first, then earlier dominator
    # (staircase must SHRINK when an early large value arrives late)
    late_dominator = ev.copy()
    late_dominator.loc[late_dominator.index[0], "value"] = 1000.0
    first = late_dominator.iloc[[0]]
    rest = late_dominator.iloc[1:]
    srt2 = late_dominator.sort_values(["ts", "event_id"], kind="mergesort")
    mx2, upd2 = float("-inf"), 0
    for v in srt2["value"]:
        if v > mx2:
            mx2, upd2 = v, upd2 + 1
    ref2 = (n, int(np.floor(mx2 * 100 + 0.5)), upd2)
    st_out = None
    stv = _FakeGroupState()
    for b in (rest, first):  # dominator arrives LAST
        st_out = next(_staircase_fold((7,), iter([b]), stv))
    got2 = tuple(st_out.iloc[0][["n_events", "max_value_cents", "n_max_updates"]])
    assert got2 == ref2


def test_staircase_fold_invariance_fuzzed():
    """Property form of the batch-split invariance: for random event
    sets with heavy ts ties and ANY random partition into ordered
    batches, the staircase fold must land in the same final state as
    the single-batch fold — the semilattice-merge claim, fuzzed."""
    import numpy as np
    import pandas as pd
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from backend_model_spark.streaming.jobs import _staircase_fold

    @settings(max_examples=40, deadline=None)
    @given(
        seed=st.integers(min_value=0, max_value=10_000),
        n=st.integers(min_value=1, max_value=120),
        n_batches=st.integers(min_value=1, max_value=6),
    )
    def run(seed, n, n_batches):
        rng = np.random.RandomState(seed)
        ev = pd.DataFrame(
            {
                "ts": pd.to_datetime(rng.randint(0, max(n // 4, 1), n), unit="s"),
                "event_id": np.arange(n, dtype="int64"),
                "value": np.round(rng.uniform(0, 50, n), 2),
            }
        )

        def fold_all(batches):
            st_ = _FakeGroupState()
            out = None
            for b in batches:
                if len(b):
                    out = next(_staircase_fold((1,), iter([b]), st_))
            return tuple(
                out.iloc[0][["n_events", "max_value_cents", "n_max_updates"]]
            )

        ref = fold_all([ev])
        # random assignment of rows to batches (arbitrary interleaving)
        assign = rng.randint(0, n_batches, n)
        batches = [ev[assign == k] for k in range(n_batches)]
        rng.shuffle(batches)
        assert fold_all(batches) == ref

    run()


def test_staircase_fold_bounded_state_degrades_loudly(monkeypatch):
    """Round-8 advice: a monotonically ascending value stream makes
    the staircase O(n) per key; above STAIRCASE_CAP the fold must
    shed the oldest records while keeping state bounded, n_events /
    max_value_cents exact, and n_max_updates still exact when no
    late dominator lands in the shed prefix (it becomes a documented
    upper bound only in that case)."""
    import numpy as np
    import pandas as pd

    from backend_model_spark.streaming import jobs

    monkeypatch.setattr(jobs, "STAIRCASE_CAP", 16)
    n = 50  # ascending values => every event is a record
    ev = pd.DataFrame(
        {
            "ts": pd.to_datetime(np.arange(n), unit="s"),
            "event_id": np.arange(n, dtype="int64"),
            "value": np.arange(n, dtype="float64") + 0.5,
        }
    )
    st = jobs._staircase_fold.__globals__  # sanity: module-level fn
    assert "STAIRCASE_CAP" in st

    state = _FakeGroupState()
    out = None
    for i in range(0, n, 10):  # 5 micro-batches
        out = next(jobs._staircase_fold((3,), iter([ev.iloc[i : i + 10]]), state))
    n_ev, mx_cents, n_upd = out.iloc[0][
        ["n_events", "max_value_cents", "n_max_updates"]
    ]
    assert n_ev == n
    assert mx_cents == int(np.floor((n - 1 + 0.5) * 100 + 0.5))
    assert n_upd == n, "count must stay exact via the dropped counter"
    _, n_dropped, st_ts, st_id, st_val = state.get
    assert len(st_val) <= 16, "state must stay bounded at the cap"
    assert n_dropped == n - len(st_val)


def test_asof_cogroup_survives_purchases_only_user_and_us_timestamps(spark, tmp_path):
    """Round-9 hot-user Zipf find: a user with purchases but ZERO
    clicks hits merge()'s empty-clicks fallback, whose hardcoded
    timestamp unit then fought the Arrow-delivered unit — and the
    unit itself depends on who wrote the parquet (pyarrow testdata →
    ns, Spark-written stress corpus → us). This writes a SPARK-
    authored (us-unit) events table containing a purchases-only user
    and asserts the cogroup as-of join returns that user's purchases
    with null gaps instead of raising MergeError."""
    import os

    from pyspark.sql import functions as F

    from backend_model_spark.operators.events_ops import asof_cogroup_pandas

    sf = str(tmp_path)
    rows = [
        # user 1: click then purchase (normal match)
        (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-01 10:05:00", 1, "purchase", 2.0, "{}"),
        # user 2: purchases ONLY — the empty-clicks fallback path
        (3, "2024-01-02 09:00:00", 2, "purchase", 3.0, "{}"),
        (4, "2024-01-02 11:00:00", 2, "purchase", 4.0, "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id bigint, ts string, user_id bigint, event_type string, value double, props string"
    ).withColumn("ts", F.to_timestamp("ts")).write.mode("overwrite").parquet(
        os.path.join(sf, "events.parquet")
    )
    out = {r["purchase_id"]: r["gap_us"] for r in asof_cogroup_pandas(spark, sf).collect()}
    assert out[2] == 300_000_000  # 5 min in us
    assert out[3] is None and out[4] is None  # no clicks -> null gap


def test_streaming_reads_directory_layout_events(spark, tmp_path):
    """Round-10 streaming-Zipf-sweep catch: Spark-written corpora ship
    events.parquet as a DIRECTORY of part files, where the old
    pathGlobFilter trick matched zero leaf files and every streaming
    entry silently processed an EMPTY stream (0.25 s at 10x data).
    The reader must branch on the layout and see every row."""
    import os

    from pyspark.sql import functions as F

    from backend_model_spark.streaming.jobs import streaming_hourly_counts

    sf = str(tmp_path)
    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 1.0, "{}"),
        (2, "2024-01-01 10:30:00", 1, "view", 2.0, "{}"),
        (3, "2024-01-01 11:00:00", 2, "click", 3.0, "{}"),
    ]
    # .repartition(2) forces a multi-part DIRECTORY — the layout that
    # used to stream as empty
    spark.createDataFrame(
        rows,
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts")).repartition(2).write.mode(
        "overwrite"
    ).parquet(os.path.join(sf, "events.parquet"))

    out = streaming_hourly_counts(spark, sf).collect()
    assert sum(r["n_events"] for r in out) == 3
    assert {(r["hour_bucket"], r["event_type"]) for r in out} == {
        ("2024-01-01 10:00:00", "click"),
        ("2024-01-01 10:00:00", "view"),
        ("2024-01-01 11:00:00", "click"),
    }


def test_bloom_bitmap_certificates(spark, sf_dir):
    """The packed Bloom bitmap's own guarantees, asserted
    independently of the oracle: sizing is exactly 16 bits/key
    rounded to 63-bit words, the zero-false-negative certificate
    holds (a Bloom CANNOT miss a member), every true dup is flagged,
    and the popcount never exceeds capacity."""
    from backend_model_spark.operators.dedup import (
        BLOOM_BITS_PER_KEY,
        BLOOM_WORD_BITS,
        bloom_bitmap_certify,
    )

    r = bloom_bitmap_certify(spark, sf_dir).collect()[0]
    want_words = max(
        (BLOOM_BITS_PER_KEY * r["n_base_digests"] + BLOOM_WORD_BITS - 1)
        // BLOOM_WORD_BITS,
        1,
    )
    assert r["bloom_words"] == want_words
    assert r["n_false_neg"] == 0
    assert r["zero_false_negatives"] is True
    assert r["n_flagged"] == r["n_true_dup"] + r["n_false_pos"]
    assert 0 < r["bits_set"] <= r["bloom_words"] * BLOOM_WORD_BITS
    assert r["n_delta_digests"] > 0

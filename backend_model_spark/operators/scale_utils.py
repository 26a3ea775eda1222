"""Scalable total-order primitives: exact global rank / ntile without
a single-partition window.

Motivation (round-2 verdict): ``W.orderBy(...)`` with no partition
spec funnels the whole table through ONE task (Spark logs
``WindowExec: No Partition Defined ... Moving all data to a single
partition``). :func:`with_global_rank` computes the *same exact*
``row_number`` — including composite tie-break orderings an
``approx_percentile`` cut-point scheme cannot reproduce — on one code
path, the classic two-stage rank:

1. ``repartitionByRange`` on the sort expressions → disjoint, ordered
   key ranges (partition i's keys all sort before partition i+1's).
2. One window keyed by the range partition id: local ``row_number``,
   running sum and running max — parallel across partitions, never a
   global sort.
3. Global value = local value + the offset of the earlier partitions.
   Where offsets and totals come from is the only difference between
   the two kinds of frame:

   * bounded by construction (``parts=1``): one partition, so the
     offsets are zero and the totals come from a full-frame window
     over the same spec (one ``WindowExec``, no job at build);
   * data width: a per-partition rollup (≤ one row per partition)
     collected on the driver, whose prefix folds attach as literal
     maps keyed by partition id.

The data-width path has one pin: offsets and local ranks MUST observe
the same physical partitioning, so the ranged frame is a lazy
``localCheckpoint`` (see :func:`with_global_rank`). It holds the
ranked table itself (e.g. a per-customer rollup), not the raw fact
table.

``ntile(k)`` then needs no extra pass: with n rows, the first
``n mod k`` tiles get ``n div k + 1`` rows and the rest ``n div k``
(the SQL-standard rule Spark and DuckDB share), so the tile is a pure
arithmetic function of (rank, n, k).
"""

from __future__ import annotations

from operator import add
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

__all__ = [
    "with_global_rank",
    "with_global_ntile",
    "broadcast_scalars",
    "sort_bounded",
]


def broadcast_scalars(df: DataFrame, scalars: DataFrame) -> DataFrame:
    """Attach a one-row aggregate to every row of ``df`` as a broadcast
    cross join — the scalable replacement for ``agg OVER ()``."""
    return df.crossJoin(F.broadcast(scalars))


def sort_bounded(df: DataFrame, *order) -> DataFrame:
    """ORDER BY for a result BOUNDED by construction, in the sense of
    :func:`with_global_rank`'s ``parts`` hint (dimension keys, a fixed
    query count times k): one partition sorted in place. ``orderBy``
    would plan a range exchange whose bounds cost a sampling job, two
    jobs per sort, to split a few dozen rows. NEVER use it for
    data-width results, which keep ``orderBy``."""
    return df.coalesce(1).sortWithinPartitions(*order)


def with_global_rank(
    df: DataFrame,
    order: Sequence[Column],
    rank_col: str,
    total_col: str | None = None,
    prefix_sum: tuple[str, str] | None = None,
    grand_total: tuple[str, str] | None = None,
    prefix_max: tuple[str, str] | None = None,
    parts: int | None = None,
) -> DataFrame:
    """Add an exact 1-based global ``row_number`` over ``order`` (a list
    of sort-order Columns, e.g. ``[F.col("x").desc(), F.col("k").asc()]``)
    without moving the table through a single partition.

    Optional companions computed from the SAME materialization:

    * ``total_col`` — attach the total row count to every row
      (``count() OVER ()``).
    * ``prefix_sum=(value_col, out_col)`` — exact global running sum of
      ``value_col`` in rank order (``sum(v) OVER (ORDER BY ... ROWS
      UNBOUNDED PRECEDING)``), of the type ``sum(value_col)`` has.
    * ``grand_total=(value_col, out_col)`` — attach ``sum(value_col)
      OVER ()`` (no second scan of ``df``'s lineage).
    * ``prefix_max=(value_col, out_col)`` — exact global running MAX
      of ``value_col`` in rank order (``max(v) OVER (ORDER BY ...
      ROWS UNBOUNDED PRECEDING)``): the per-partition running max
      ``greatest``-ed with the max of earlier partitions
      (``greatest`` skips the NULL offset of the first partition).
    """
    if prefix_sum and grand_total and prefix_sum[0] != grand_total[0]:
        raise ValueError("prefix_sum and grand_total must share a value col")
    vcol = (prefix_sum or grand_total or (None,))[0]
    # ``parts`` is a caller hint for frames BOUNDED by construction:
    # the row count has a ceiling fixed by the query, not by the
    # data — calendar days or months, dimension keys (regions,
    # nations), deciles, post-``limit(k)`` candidate lists. Data-width
    # keys (customers, tokens, cents values) do not qualify, however
    # small the test data. With parts=1 the RangePartitioner skips
    # its sampling job (bounds are empty) and every offset is zero, so
    # there is no pin and no driver ``collect`` — the call runs no
    # Spark job. NEVER pass it for data-width frames.
    bounded = parts == 1
    ranged = df.repartitionByRange(*([1] if bounded else []), *order).withColumn(
        "__sg_pid", F.spark_partition_id()
    )
    if not bounded:
        # REQUIRED pin, not a perf hint: ``repartitionByRange`` samples
        # its partition bounds with an RDD-id-seeded random pass, and
        # each ACTION re-plans the query into fresh RDDs — so without a
        # pin the driver-collected offsets below would be applied to a
        # differently-bounded execution and the ranks / prefix sums
        # would be corrupted (verified at 150k rows: duplicate and
        # missing ranks). The lazy local checkpoint writes one copy of
        # executor-local, NON-REPLICATED blocks and truncates the
        # lineage. Fault-tolerance trade (guide §5): on a real cluster
        # an executor loss makes the query FAIL (no lineage to
        # recompute) instead of recomputing — acceptable for short
        # jobs, not for long ones.
        ranged = ranged.localCheckpoint(eager=False)
    w = W.partitionBy("__sg_pid").orderBy(*order)
    upto = w.rowsBetween(W.unboundedPreceding, 0)
    local = {rank_col: F.row_number().over(w)}
    if prefix_sum is not None:
        local[prefix_sum[1]] = F.sum(vcol).over(upto)
    if prefix_max is not None:
        local[prefix_max[1]] = F.max(prefix_max[0]).over(upto)
    if bounded:
        # round 12: totals come from a FULL-FRAME window over the same
        # (partition, order) spec — Spark folds every frame into ONE
        # WindowExec, so the single partition is consumed exactly once.
        # Single partition ⇒ the full-frame count/sum ARE the totals.
        whole = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        out, cols = ranged, local
        total = F.count(F.lit(1)).over(whole)
        gtotal = F.sum(vcol).over(whole) if vcol else None
    else:
        out = ranged.withColumns(local)
        per_part = [F.count(F.lit(1)).alias("__sg_cnt")]
        if vcol is not None:
            per_part.append(F.sum(vcol).alias("__sg_vsum"))
        if prefix_max is not None:
            per_part.append(F.max(prefix_max[0]).alias("__sg_vmax"))
        counts = ranged.groupBy("__sg_pid").agg(*per_part)
        # The rollup is parameter-width (≤ the shuffle partition count —
        # cluster width, never data width), so the prefix folds run in
        # Python, exactly, and attach as LITERAL map lookups folded into
        # the consumer's projection: no triangular join, no broadcast,
        # no second aggregate (round 11: 33→~20 single-task stages on
        # window_rfm_segments at sf0.1). Literals take the rollup's own
        # result type, so integral and decimal value columns are exact.
        rows = sorted(counts.collect(), key=lambda r: r["__sg_pid"])
        dtype = {f.name: f.dataType for f in counts.schema.fields}

        def offsets(name: str, start, fold):
            """Literal ``pid -> fold of earlier partitions' name`` lookup,
            and the fold over every partition."""
            acc, items = start, []
            for r in rows:
                items += [F.lit(r["__sg_pid"]).cast("int"), F.lit(acc).cast(dtype[name])]
                if r[name] is not None:
                    acc = r[name] if acc is None else fold(acc, r[name])
            if not items:
                return F.lit(None).cast(dtype[name]), acc
            # keys come FROM the rows, so the lookup never misses;
            # try_element_at keeps the expression total under ANSI mode
            return F.try_element_at(F.create_map(*items), F.col("__sg_pid")), acc

        off, n = offsets("__sg_cnt", 0, add)
        cols = {rank_col: F.col(rank_col) + off}
        total = F.lit(n)
        if vcol is not None:
            # NULL offset until the first non-NULL value; the coalesce
            # keeps SQL's skip-NULLs running sum on a NULL-valued row
            # that opens a later partition (its local sum is NULL)
            voff, s = offsets("__sg_vsum", None, add)
            gtotal = F.lit(s).cast(dtype["__sg_vsum"])
            if prefix_sum is not None:
                cum = F.col(prefix_sum[1])
                cols[prefix_sum[1]] = F.coalesce(cum + voff, cum, voff).cast(
                    dtype["__sg_vsum"]
                )
        if prefix_max is not None:
            moff = offsets("__sg_vmax", None, max)[0]
            cols[prefix_max[1]] = F.greatest(F.col(prefix_max[1]), moff)
    cols[rank_col] = cols[rank_col].cast("bigint")
    if total_col is not None:
        cols[total_col] = total.cast("bigint")
    if grand_total is not None:
        cols[grand_total[1]] = gtotal
    return out.withColumns(cols).drop("__sg_pid")


def with_global_ntile(
    df: DataFrame,
    k: int,
    order: Sequence[Column],
    tile_col: str,
) -> DataFrame:
    """Add an exact global ``ntile(k)`` over ``order`` via
    :func:`with_global_rank` + the SQL-standard tile-size rule.

    Matches ``F.ntile(k).over(W.orderBy(*order))`` value-for-value
    (cast to int, as Spark's ntile returns) while staying parallel.
    """
    ranked = with_global_rank(df, order, "__sg_rank", total_col="__sg_n")
    # First (n % k) tiles hold (n div k + 1) rows, the rest (n div k).
    # CASE evaluates lazily per row, so the q = 0 (n < k) division in
    # the ELSE branch is unreachable, never raised.
    tile = F.expr(
        f"cast(case when __sg_rank <= (__sg_n % {k}) * ((__sg_n div {k}) + 1) "
        f"then (__sg_rank - 1) div ((__sg_n div {k}) + 1) + 1 "
        f"else (__sg_n % {k}) "
        f"  + ((__sg_rank - 1) - (__sg_n % {k}) * ((__sg_n div {k}) + 1)) "
        f"    div (__sg_n div {k}) + 1 end as int)"
    )
    return ranked.withColumn(tile_col, tile).drop("__sg_rank", "__sg_n")

"""Distributed global sequence numbers (O19 crawl-order trace) at scale.

``row_number() OVER (ORDER BY ...)`` forces every row through ONE task —
a serial sort that caps scaling (Amdahl) once epochs carry 10^5+ rows.
``global_sequence`` produces the identical numbering in parallel:

1. ``repartitionByRange`` on the order key (parallel range shuffle) +
   ``sortWithinPartitions`` — globally sorted across ordered partitions;
2. one cheap job counts rows per partition; the exclusive scan of those
   counts is each partition's offset (driver-side over ~num_partitions
   values — metadata, not data);
3. ``mapInPandas`` enumerates each partition from its broadcast offset.

A sequence number is ``base`` plus a running count, so
:func:`global_running_sum` is the same scan (:func:`_range_scan`) with
each row weighing its value instead of 1.

The result is ``localCheckpoint``-materialized before returning: range
boundaries come from RangePartitioner SAMPLING, so any re-planning that
misses the cache (e.g. exceptAll's attribute dedup) would re-sample new
boundaries and silently re-number rows under the frozen offsets. Lineage
truncation makes the numbering a fact, not a recipe.

Equality with the window form is pinned by tests/test_sequence.py and by
the oracle-equivalence suite (crawl seq is compared row-for-row).
"""

from __future__ import annotations

import numpy as np
from pyspark import StorageLevel, TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _range_scan(
    df: DataFrame,
    order_cols: list,
    out_col: str,
    weight: str | None,
    base: int,
    num_partitions: int | None,
    reliable: bool,
) -> DataFrame:
    """Add ``out_col`` = ``base`` + the inclusive running total, in
    ``order_cols`` order, of each row's weight: the integral value of
    column ``weight``, or 1 per row when ``weight`` is None.

    Range-partition + local sort (persisted), one per-partition total
    collect, exclusive-scan offsets, broadcast, a ``mapInPandas`` cumsum
    fill, then the lineage cut (module docstring) before the ranged
    frame is released.
    """
    spark = df.sparkSession
    n_parts = num_partitions or spark.sparkContext.defaultParallelism * 2
    ranged = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    total = F.count("*") if weight is None else F.sum(F.col(weight).cast("long"))
    totals = {
        r["pid"]: r["tot"] or 0
        for r in ranged.groupBy(F.spark_partition_id().alias("pid"))
        .agg(total.alias("tot"))
        .collect()
    }
    offsets = {}
    acc = base
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    bc = spark.sparkContext.broadcast(offsets)

    out_schema = T.StructType(
        df.schema.fields + [T.StructField(out_col, T.LongType(), False)]
    )

    def fill_partition(batches):
        pos = bc.value.get(TaskContext.get().partitionId(), 0)
        for pdf in batches:
            steps = (
                np.ones(len(pdf), dtype=np.int64) if weight is None
                else pdf[weight].to_numpy(dtype=np.int64)
            )
            run = pos + np.cumsum(steps)
            pdf = pdf.copy()
            pdf[out_col] = run
            pos = int(run[-1]) if len(run) else pos
            yield pdf

    from nlnieuwscrawler_spark.operators.checkpoint import cut_lineage

    out = cut_lineage(ranged.mapInPandas(fill_partition, out_schema), reliable)
    ranged.unpersist()
    return out


def global_sequence(
    df: DataFrame,
    order_cols: list,
    seq_col: str = "seq",
    base: int = 0,
    num_partitions: int | None = None,
    cache_registry: list | None = None,
    reliable: bool = False,
) -> DataFrame:
    """Add ``seq_col`` = global 1-based rank by ``order_cols`` (+ base).

    ``order_cols`` must be a TOTAL order (unique key tuples) — same
    requirement the deterministic-trace contract already imposes.
    ``reliable=True`` materializes the numbered result through the
    SparkContext checkpoint dir instead of ``localCheckpoint`` — the
    executor-loss-safe mode for long cluster runs (operators/checkpoint).
    """
    out = _range_scan(df, order_cols, seq_col, None, base, num_partitions, reliable)
    if cache_registry is not None:
        cache_registry.append(out)
    return out


def global_running_sum(
    df: DataFrame,
    order_cols: list,
    value_col: str,
    sum_col: str = "running",
    num_partitions: int | None = None,
    reliable: bool = False,
) -> DataFrame:
    """Add ``sum_col`` = INCLUSIVE prefix sum of ``value_col`` in
    ``order_cols`` order — the parallel form of
    ``SUM(v) OVER (ORDER BY ...)``, which Spark executes as ONE task.

    Same scan as :func:`global_sequence` (this module's docstring), with
    the per-partition SUM of ``value_col`` as each partition's total and
    a numpy cumsum of the values as the fill. Values must be integral
    (LongType result — exact, associative, partition-order free; float
    prefix sums would depend on partition boundaries).

    The workhorse of token-budget sharding (:func:`~nlnieuwscrawler_spark.
    operators.sampling.shard_pack`): at 10^10 docs the prefix sum is the
    only global dependency, and it costs one range shuffle of the NARROW
    (order, value) projection plus a |partitions|-row collect.

    HAZARD (ADVICE r6): offsets are keyed by partition id of the
    persisted ranged frame. If a cached block is lost between the totals
    collect and the mapInPandas pass, ``repartitionByRange`` re-samples
    boundaries on recompute and rows can change partitions — silently
    corrupting the prefix sums (the exposure ``global_sequence``
    documents, but a wrong SUM is harder to notice than a wrong rank).
    For long cluster runs pass ``reliable=True`` (or cut the ranged
    frame's lineage before the totals job) so the ranged layout is a
    fact, not a recipe.
    """
    return _range_scan(df, order_cols, sum_col, value_col, 0, num_partitions, reliable)


def ntile_from_rank(rank_col: str, total_col: str, k: int) -> F.Column:
    """Closed-form SQL ``NTILE(k)`` from a global 1-based rank + total N.

    Exactly SQL NTILE semantics: the first ``N % k`` buckets take
    ``N div k + 1`` rows, the rest take ``N div k`` (pinned against
    DuckDB's ``ntile`` by the perplexity_buckets and ntile_buckets
    oracles). Combined with :func:`global_sequence` this replaces the
    single-task ``ntile() OVER (ORDER BY …)`` anti-pattern: the rank is
    a RANGE-partitioned parallel sort, the bucket is pure per-row
    arithmetic — no unpartitioned WindowExec anywhere in the plan.
    ``total_col`` is typically a 1-row broadcast crossJoin (metadata
    sized).
    """
    return F.expr(
        f"CASE WHEN {rank_col} <= (({total_col} DIV {k}) + 1) * ({total_col} % {k}) "
        f"THEN ({rank_col} - 1) DIV (({total_col} DIV {k}) + 1) + 1 "
        f"ELSE ({total_col} % {k}) + "
        f"({rank_col} - 1 - (({total_col} DIV {k}) + 1) * ({total_col} % {k})) "
        f"DIV ({total_col} DIV {k}) + 1 END"
    ).cast("long")

"""Structured Streaming forms of the engine's operators (SURVEY §2.2).

The crawl's epoch loop IS a micro-batch pipeline, so the streaming mapping
is direct:

- ``streaming_dedup`` — ``dropDuplicatesWithinWatermark`` on url_fp: the
  streaming URL-seen set (state-store-backed, watermark-bounded memory)
- ``stateful_host_budget`` — ``applyInPandasWithState``: a per-host frontier
  budget gate as an arbitrary-stateful operator (GroupState), the streaming
  twin of operators/politeness.py
- ``run_epoch_stream`` — foreachBatch driver running the batch epoch plan
  per micro-batch with exactly-once snapshot commits (Trigger.AvailableNow)

All tested against their batch twins in tests/test_streaming_media.py via
the memory sink + ``processAllAvailable`` (the public local-smoke pattern).
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout



def streaming_dedup(
    df: DataFrame, key_col: str = "url_fp", ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming URL-seen: exact dedup with watermark-bounded state."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [key_col]
    )


# --------------------------------------------------------------------------
# arbitrary stateful: per-host budget gate (applyInPandasWithState)
# --------------------------------------------------------------------------

BUDGET_OUT_SCHEMA = "host string, url_fp long, admitted boolean, host_total long"
BUDGET_STATE_SCHEMA = "total long"


def _budget_fn(total_budget: int):
    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (host,) = key
        total = state.get[0] if state.exists else 0
        out = []
        for pdf in pdfs:
            pdf = pdf.sort_values("url_fp")
            admitted = []
            for _ in range(len(pdf)):
                admitted.append(total < total_budget)
                total += 1 if admitted[-1] else 0
            out.append(
                pd.DataFrame(
                    {
                        "host": host,
                        "url_fp": pdf["url_fp"].to_numpy(),
                        "admitted": admitted,
                        "host_total": total,
                    }
                )
            )
        state.update((total,))
        yield from out

    return fn


def stateful_host_budget(
    candidates: DataFrame, total_budget: int = 100
) -> DataFrame:
    """Streaming per-host admission: at most ``total_budget`` URLs per host
    across the stream's lifetime (GroupState-backed)."""
    return candidates.groupBy("host").applyInPandasWithState(
        _budget_fn(total_budget),
        BUDGET_OUT_SCHEMA,
        BUDGET_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# foreachBatch epoch driver
# --------------------------------------------------------------------------

def run_epoch_stream(
    spark: SparkSession,
    frontier_stream: DataFrame,
    pages_latest: DataFrame,
    robots: DataFrame,
    out_table: str = "stream_crawl_log",
):
    """Drive the batch epoch plan per micro-batch (foreachBatch): each batch
    of frontier candidates goes through robots→politeness→fetch→extract and
    appends to an in-memory sink. Demonstrates the batch/streaming parity
    the engine is designed around (same epoch plan object)."""
    from nlnieuwscrawler_spark.operators import seen as seen_op
    from nlnieuwscrawler_spark.plans import epoch as epoch_plan

    state = {"seen": spark.createDataFrame([], "url_fp long"), "epoch": 0, "seq": 0}
    batches: list[DataFrame] = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        res = epoch_plan.run_epoch(
            batch_df,
            pages_latest,
            robots,
            state["seen"],
            epoch=state["epoch"],
            bloom=None,
            seq_base=state["seq"],
        )
        log = res.crawl_log.localCheckpoint(eager=True)
        state["seen"] = state["seen"].unionByName(
            res.new_seen.select("url_fp")
        ).localCheckpoint(eager=True)
        for c in res.cached:
            c.unpersist()
        state["seq"] += log.count()
        state["epoch"] += 1
        batches.append(log)

    q = (
        frontier_stream.writeStream.foreachBatch(process)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = batches[0] if batches else None
    for b in batches[1:]:
        out = out.unionByName(b)
    return out


# --------------------------------------------------------------------------
# streaming ingestion into the snapshot store (foreachBatch upsert)
# --------------------------------------------------------------------------

def stream_ingest_to_store(
    stream_df: DataFrame,
    store,
    table: str,
    key,
    checkpoint_dir: str,
):
    """Continuously MERGE a stream into a SnapshotStore table — the
    Iceberg-sink pattern (`writeStream.foreachBatch(merge)`) the north
    rule's checkpointed crawl telemetry pipeline uses: each micro-batch
    upserts by key into an atomic snapshot, so readers always see a
    consistent table, every batch is time-travelable, and a crashed query
    resumes from the stream checkpoint WITHOUT duplicating rows
    (the merge is idempotent per key — exactly-once effective semantics
    from at-least-once batch replay).

    Runs with availableNow (drain-everything) and returns after the
    stream finishes; pass an unbounded trigger for a live pipeline.
    """
    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            store.merge_into(
                batch_df.sparkSession, table, batch_df, on=key,
                epoch=int(batch_id),
            )

    q = (
        stream_df.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q

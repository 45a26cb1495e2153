"""Streaming/batch parity for the epoch plan + multimodal plumbing."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nlnieuwscrawler_spark.functions import urls as U
from nlnieuwscrawler_spark.multimodal import media as mm
from nlnieuwscrawler_spark.operators import asof
from nlnieuwscrawler_spark.plans import epoch as epoch_plan
from nlnieuwscrawler_spark.sources import fixtures
from nlnieuwscrawler_spark.streaming.stream import run_epoch_stream

SF = "/root/testdata/sf0.001"


def test_foreachbatch_epoch_matches_batch(spark, tiny_pages_df, tmp_path):
    """The SAME epoch plan driven by foreachBatch over a frontier stream
    must produce the batch result for a single micro-batch."""
    seeds = fixtures.seeds_df(spark)
    frontier = epoch_plan.seeds_frontier(seeds)
    robots = fixtures.robots_df(spark)
    # the fp-keyed index run_epoch joins on, built as Crawler builds it
    pages_latest = asof.latest_snapshot_clustered(
        tiny_pages_df, "url", "warc_ts", U.url_fingerprint(F.col("url")),
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    ).withColumnRenamed("__fp", "url_fp")

    batch_res = epoch_plan.run_epoch(
        frontier, pages_latest, robots,
        spark.createDataFrame([], "url_fp long"), epoch=0,
    )
    want = batch_res.crawl_log.select("seq", "url", "status").toPandas()

    fdir = str(tmp_path / "frontier_stream")
    frontier.coalesce(1).write.parquet(fdir)
    fstream = spark.readStream.schema(frontier.schema).parquet(fdir)
    got_df = run_epoch_stream(spark, fstream, pages_latest, robots)
    got = got_df.select("seq", "url", "status").toPandas()

    pd.testing.assert_frame_equal(
        got.sort_values("seq").reset_index(drop=True),
        want.sort_values("seq").reset_index(drop=True),
    )


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_media_decode_deterministic(spark, docs):
    m = mm.synth_media_from_documents(docs)
    f1 = mm.decode_features(m.repartition(1)).select("media_id", "feature").toPandas()
    f2 = mm.decode_features(m.repartition(6)).select("media_id", "feature").toPandas()
    f1 = f1.sort_values("media_id").reset_index(drop=True)
    f2 = f2.sort_values("media_id").reset_index(drop=True)
    assert all(list(a) == list(b) for a, b in zip(f1["feature"], f2["feature"]))
    assert all(len(v) == mm.FEATURE_DIM for v in f1["feature"])


def test_frame_sample_plan(spark, docs):
    m = mm.synth_media_from_documents(docs)
    frames = mm.frame_sample_plan(m, every_n=10)
    rows = frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    assert rows, "video items must yield frame rows"
    meta = {r["media_id"]: r["n"] for r in rows}
    vids = {r["media_id"]: int(r["meta"]["n_frames"]) for r in m.filter(
        F.col("kind") == "video").select("media_id", "meta").collect()}
    for mid, n in meta.items():
        expect = max(1, (vids[mid] - 1) // 10 + 1)
        assert n == expect, (mid, n, expect)


def test_media_features_feed_similarity(spark, docs):
    """Decoded features are valid input for the ANN operator (plumbing)."""
    from nlnieuwscrawler_spark.operators.similarity import ann_bruteforce_topk

    feats = mm.decode_features(mm.synth_media_from_documents(docs.limit(50)))
    vecs = feats.select(F.col("media_id").alias("vec_id"), F.col("feature").alias("embedding"))
    q = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ann_bruteforce_topk(vecs, q, k=3)
    assert out.count() == 6


def test_media_resize_golden(spark):
    """Exact block-average: a 4x4 gradient with declared dims -> 2x2
    thumbnail [2,4,10,12] (means 2.5/4.5/10.5/12.5 truncated to uint8)."""
    import numpy as np
    import pandas as pd

    from nlnieuwscrawler_spark.multimodal.media import media_resize

    payload = bytes(range(16))
    pdf = pd.DataFrame({
        "media_id": [1], "kind": ["image"], "payload": [payload],
        "meta": [{"width": "4", "height": "4"}],
    })
    df = spark.createDataFrame(pdf, "media_id long, kind string, payload binary, meta map<string,string>")
    out = media_resize(df, out_w=2, out_h=2).collect()
    assert len(out) == 1
    thumb = np.frombuffer(bytes(out[0]["payload_resized"]), dtype=np.uint8)
    assert thumb.tolist() == [2, 4, 10, 12]


def test_media_resize_partition_invariant(spark):
    """Pure function of the bytes: identical output at any parallelism,
    fixed 64-byte thumbnails, only image rows pass."""
    from pyspark.sql import functions as F

    from nlnieuwscrawler_spark.multimodal.media import (
        media_resize,
        synth_media_from_documents,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    m = synth_media_from_documents(d)
    a = media_resize(m.repartition(1)).select("media_id", "payload_resized")
    b = media_resize(m.repartition(7)).select("media_id", "payload_resized")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    r = media_resize(m)
    assert r.filter(F.length("payload_resized") != 64).count() == 0
    kinds = {x["kind"] for x in r.select("kind").distinct().collect()}
    assert kinds == {"image"}


def test_latest_snapshot_clustered_equivalent_and_single_exchange(
    spark, tiny_pages_df
):
    """The single-shuffle fetch-index build picks exactly the same
    (url, warc_ts) rows as latest_snapshot, and its plan contains ONE
    shuffle exchange over the fat corpus (the fp repartition) — the
    two-pass form moved html through two."""
    from pyspark.sql import functions as F

    from nlnieuwscrawler_spark.functions import urls as U

    want = {
        (r["url"], r["warc_ts"])
        for r in asof.latest_snapshot(tiny_pages_df, "url", "warc_ts")
        .select("url", "warc_ts").collect()
    }
    clustered = asof.latest_snapshot_clustered(
        tiny_pages_df, "url", "warc_ts",
        U.url_fingerprint(F.col("url")), 8,
    )
    got = {
        (r["url"], r["warc_ts"])
        for r in clustered.select("url", "warc_ts").collect()
    }
    assert got == want
    plan = clustered._jdf.queryExecution().executedPlan().toString()
    import re

    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 1, plan


def test_stream_ingest_to_store_idempotent_merge(spark, tmp_path):
    """Streaming upsert into the SnapshotStore: the drained table equals
    the batch latest-per-key result, every micro-batch committed an atomic
    time-travelable snapshot, and re-delivering the same data (at-least-
    once replay) leaves the table unchanged (idempotent merge)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from nlnieuwscrawler_spark.sources.tableio import SnapshotStore
    from nlnieuwscrawler_spark.streaming.stream import stream_ingest_to_store

    src = str(tmp_path / "telemetry_src")
    pdf = pd.DataFrame(
        {
            "url_fp": [1, 2, 3, 1, 2, 4],
            "status": ["ok", "ok", "miss", "lang", "ok", "ok"],
            "batch": [0, 0, 0, 1, 1, 1],
        }
    )
    # two files -> two micro-batches with maxFilesPerTrigger=1
    for b in (0, 1):
        spark.createDataFrame(pdf[pdf["batch"] == b]).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema("url_fp long, status string, batch long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    store = SnapshotStore(str(tmp_path / "snap"))
    stream_ingest_to_store(
        stream, store, "telemetry", "url_fp", str(tmp_path / "ckpt")
    )
    got = {
        r["url_fp"]: r["status"]
        for r in store.read_table(spark, "telemetry").collect()
    }
    # upsert semantics: last write per key wins across batches
    want = {
        int(r.url_fp): r.status
        for r in pdf.sort_values("batch").itertuples()
    }
    assert got == want
    v1 = store.current_version()
    assert v1 >= 2  # one snapshot per non-empty micro-batch

    # at-least-once replay: new query, same source, fresh checkpoint —
    # the merge must be idempotent (same final table)
    stream2 = (
        spark.readStream.schema("url_fp long, status string, batch long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_ingest_to_store(
        stream2, store, "telemetry", "url_fp", str(tmp_path / "ckpt2")
    )
    got2 = {
        r["url_fp"]: r["status"]
        for r in store.read_table(spark, "telemetry").collect()
    }
    assert got2 == got

"""URL-seen-set tests: the partitioned Bloom filter, both probe paths.

The scale-design contract under test (VERDICT r1 §What's-wrong 3): the
filter's state is a DataFrame of partition rows and the full bitmap is
never assembled on the driver — update and probe both run executor-side
when the filter exceeds the broadcast threshold (``BROADCAST_MAX_BYTES``,
monkeypatched here to force either probe path).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nlnieuwscrawler_spark.operators import seen
from nlnieuwscrawler_spark.operators.seen import BloomSeenSet, filter_unseen
from nlnieuwscrawler_spark.pyhash import bloom_positions


def _keys(spark, start, n):
    return spark.range(start, start + n).select(F.xxhash64("id").alias("url_fp"))


@pytest.mark.parametrize("cls", [BloomSeenSet])
@pytest.mark.parametrize("bmax", [32 << 20, 0])  # broadcast path / forced partitioned
def test_no_false_negatives_and_bounded_fpp(spark, monkeypatch, cls, bmax):
    monkeypatch.setattr(seen, "BROADCAST_MAX_BYTES", bmax)
    f = cls.empty(spark, 8, 1 << 15)
    f.add_keys(_keys(spark, 0, 20_000))
    false_neg = (
        f.probe(_keys(spark, 0, 20_000), "url_fp")
        .filter(~F.col("maybe_seen")).count()
    )
    assert false_neg == 0  # a false negative would drop a URL silently
    false_pos = (
        f.probe(_keys(spark, 1_000_000, 10_000), "url_fp")
        .filter(F.col("maybe_seen")).count()
    )
    assert false_pos / 10_000 < 0.02


@pytest.mark.parametrize("cls", [BloomSeenSet])
def test_probe_paths_agree(spark, cls):
    """Broadcast and partitioned probes are the same function of the same
    state — identical maybe_seen for every fp."""
    inserted = _keys(spark, 0, 5_000)
    mixed = _keys(spark, 2_500, 5_000)  # half seen, half fresh
    f = cls.empty(spark, 8, 1 << 14)
    f.add_keys(inserted)
    via_bcast = {
        r["url_fp"]: r["maybe_seen"]
        for r in f._probe_broadcast(mixed, "url_fp").collect()
    }
    via_part = {
        r["url_fp"]: r["maybe_seen"]
        for r in f._probe_partitioned(mixed, "url_fp").collect()
    }
    assert via_bcast == via_part


def test_incremental_merge_executor_side(spark, monkeypatch):
    """Per-epoch add_keys OR-merges distributed; earlier epochs stay probed."""
    monkeypatch.setattr(seen, "BROADCAST_MAX_BYTES", 0)
    f = BloomSeenSet.empty(spark, 8, 1 << 15)
    for epoch in range(3):
        f.add_keys(_keys(spark, epoch * 10_000, 10_000))
    assert f.n_items == 30_000
    assert f.df.count() == 8  # one row per partition, merged
    false_neg = (
        f.probe(_keys(spark, 0, 30_000), "url_fp")
        .filter(~F.col("maybe_seen")).count()
    )
    assert false_neg == 0


def _partition_batches():
    """Three disjoint key batches aimed at pmod(fp, 8) partitions {0, 1},
    then {1, 2, 3}, then {5}: partition 1 grows across batches, 2, 3 and 5
    first get keys in a later batch, and 4, 6, 7 never do."""
    fps = np.random.default_rng(7).integers(
        -(1 << 62), 1 << 62, size=4_000, dtype=np.int64)
    batches, used = [], set()
    for parts in ((0, 1), (1, 2, 3), (5,)):
        pick = [int(x) for x in fps[np.isin(fps % 8, parts)] if int(x) not in used]
        batches.append(pick[:60])
        used.update(pick[:60])
    return batches


def _frame(spark, fps):
    return spark.createDataFrame([(x,) for x in fps], "url_fp long")


def test_bloom_state_pinned_across_batches(spark):
    """The filter rows after three cogroup updates: one row per touched
    partition, each row's bytes exactly the bitmap of that partition's keys
    (built here straight from bloom_positions), n_items its key count."""
    f = BloomSeenSet.empty(spark, 8, 1 << 12)
    batches = _partition_batches()
    for b in batches:
        f.add_keys(_frame(spark, b))
    keys = np.array(sum(batches, []), dtype=np.int64)
    assert f.n_items == keys.size
    rows = {r["partition_id"]: r for r in f.df.collect()}
    assert sorted(rows) == [0, 1, 2, 3, 5]
    for p, row in rows.items():
        mine = keys[keys % 8 == p]
        want = np.zeros(f.n_bits // 8, dtype=np.uint8)
        for pos in bloom_positions(mine, f.n_bits, f.n_hashes).ravel():
            want[int(pos) >> 3] |= 1 << (int(pos) & 7)
        assert bytes(row["bloom"]) == want.tobytes(), p
        assert row["n_items"] == mine.size
        assert (row["n_bits"], row["n_hashes"]) == (f.n_bits, f.n_hashes)


def test_checkpoint_roundtrip_stays_distributed(spark, tmp_path):
    """to_df → parquet → from_df restores geometry and membership; the
    resume path reads one metadata aggregate, not the bitmaps."""
    f = BloomSeenSet.empty(spark, 8, 1 << 14)
    f.add_keys(_keys(spark, 0, 8_000))
    path = str(tmp_path / "filter")
    f.to_df().write.mode("overwrite").parquet(path)
    g = BloomSeenSet.from_df(spark.read.parquet(path), 8)
    assert (g.n_partitions, g.n_bits, g.n_items) == (8, f.n_bits, f.n_items)
    false_neg = (
        g.probe(_keys(spark, 0, 8_000), "url_fp")
        .filter(~F.col("maybe_seen")).count()
    )
    assert false_neg == 0


def test_scale_partitioned_no_driver_bitmap(spark, monkeypatch):
    """Scale shape on a deliberately-over-threshold filter: with
    BROADCAST_MAX_BYTES=0 every byte of bitmap stays in executors.
    _probe_broadcast (the only driver-collect surface) must never run —
    asserted by making it explode."""
    monkeypatch.setattr(seen, "BROADCAST_MAX_BYTES", 0)
    f = BloomSeenSet.empty(spark, 64, 2_000_000)
    f._probe_broadcast = None  # any broadcast-path use would TypeError
    f.add_keys(_keys(spark, 0, 2_000_000))
    assert f.n_items == 2_000_000
    probed = f.probe(_keys(spark, 1_999_000, 2_000), "url_fp")
    got = probed.filter(F.col("maybe_seen")).count()
    assert got >= 1_000  # the 1000 inserted keys, plus ≤ fpp of the fresh 1000
    assert got <= 1_000 + 50


def test_filter_unseen_exact_with_either_filter(spark, monkeypatch):
    """filter_unseen returns exactly the unseen fps, and no filter could
    narrow its comparison: with either filter (a right-sized and a
    saturated Bloom), on both probe paths, every seen candidate probes
    maybe-seen, so a ``maybe_seen`` term on the join would never remove a
    row the key match keeps."""
    seen_keys = _keys(spark, 0, 5_000)
    cand = _keys(spark, 4_000, 2_000)  # 1000 overlap, 1000 new
    seen_fps = {r["url_fp"] for r in seen_keys.collect()}
    cand_fps = {r["url_fp"] for r in cand.collect()}
    want = cand_fps - seen_fps
    assert len(want) == 1_000
    out = filter_unseen(cand, seen_keys, "url_fp")
    assert out.columns == ["url_fp"]
    got = [r["url_fp"] for r in out.collect()]
    assert len(got) == len(want) and set(got) == want
    # a saturated Bloom (one 8192-bit slice for 5,000 keys) flags most
    # fresh keys maybe-seen too
    filters = {
        "bloom": BloomSeenSet.empty(spark, 8, 1 << 14),
        "saturated_bloom": BloomSeenSet.empty(spark, 1, 1),
    }
    for f in filters.values():
        f.add_keys(seen_keys)
    for bmax in (32 << 20, 0):  # broadcast path / forced partitioned
        monkeypatch.setattr(seen, "BROADCAST_MAX_BYTES", bmax)
        for name, f in filters.items():
            flagged = {
                r["url_fp"] for r in f.probe(cand, "url_fp")
                .filter(F.col("maybe_seen")).collect()
            }
            assert cand_fps & seen_fps <= flagged, (bmax, name)
            if name == "saturated_bloom":
                assert len(flagged & want) > 500, len(flagged & want)

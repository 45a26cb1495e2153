"""SnapshotStore: MERGE INTO, hidden partitioning, reachability-based expiry.

Emulates the Iceberg surfaces the north_rule names (atomic snapshot commit
is covered by test_resume); these pin the round-2 additions: copy-on-write
MERGE, carry-forward manifests (partial commits stay complete snapshots),
hidden partition transforms with read-side pruning, and expire_snapshots
deleting by manifest reachability rather than age.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nlnieuwscrawler_spark.sources.tableio import SnapshotStore


@pytest.fixture()
def store(tmp_path):
    return SnapshotStore(str(tmp_path / "snap"))


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_merge_into_upsert_and_time_travel(spark, store):
    v1 = store.commit(spark, {"t": _kv(spark, [(1, "a"), (2, "b"), (3, "c")])}, epoch=0)
    v2 = store.merge_into(
        spark, "t", _kv(spark, [(2, "B"), (4, "d")]), on="k", epoch=1
    )
    now = {r["k"]: r["v"] for r in store.read_table(spark, "t").collect()}
    assert now == {1: "a", 2: "B", 3: "c", 4: "d"}  # update + insert
    # time travel: v1 unchanged
    old = {r["k"]: r["v"] for r in store.read_table(spark, "t", version=v1).collect()}
    assert old == {1: "a", 2: "b", 3: "c"}
    # delete-when-matched
    store.merge_into(spark, "t", _kv(spark, [(1, "x"), (4, "y")]),
                     on="k", epoch=2, when_matched="delete")
    left = {r["k"] for r in store.read_table(spark, "t").collect()}
    assert left == {2, 3}
    assert v2 == v1 + 1


def test_partial_commit_carries_forward(spark, store):
    store.commit(spark, {"a": _kv(spark, [(1, "a")]),
                         "b": _kv(spark, [(9, "z")])}, epoch=0)
    # single-table commit: 'b' must stay readable at the NEW current version
    store.commit(spark, {"a": _kv(spark, [(2, "c")])}, epoch=1)
    assert [r["k"] for r in store.read_table(spark, "a").collect()] == [2]
    assert [r["k"] for r in store.read_table(spark, "b").collect()] == [9]


def test_hidden_bucket_partitioning_prunes(spark, store):
    df = spark.range(0, 1000).select(
        F.col("id").alias("url_fp"), F.col("id").cast("string").alias("v")
    )
    store.commit(spark, {"t": df}, epoch=0,
                 partitioning={"t": ("bucket", "url_fp", 8)})
    # the derived column is hidden from readers
    full = store.read_table(spark, "t")
    assert full.columns == ["url_fp", "v"] and full.count() == 1000
    # pruned read touches one bucket directory only
    pruned = store.read_table(spark, "t", prune={"url_fp": 13})
    files = {r[0] for r in pruned.select(F.input_file_name()).distinct().collect()}
    assert all("__p=5" in f for f in files), files  # 13 % 8
    assert pruned.filter(F.col("url_fp") == 13).count() == 1
    # every row of bucket 5 is there, none from other buckets
    assert pruned.count() == 125
    with pytest.raises(ValueError):
        store.read_table(spark, "t", prune={"other_col": 1})


def test_hidden_days_partitioning(spark, store):
    df = spark.sql(
        "SELECT id AS k, timestamp'2024-01-01 06:00:00' + make_interval(0,0,0,CAST(id AS INT),0,0,0) AS ts"
        " FROM range(6)"
    )
    store.commit(spark, {"t": df}, epoch=0, partitioning={"t": ("days", "ts", None)})
    pruned = store.read_table(spark, "t", prune={"ts": "2024-01-03 06:00:00"})
    assert pruned.count() == 1 and pruned.collect()[0]["k"] == 2


def test_expire_keeps_reachable_carryforward_files(spark, store):
    store.commit(spark, {"a": _kv(spark, [(1, "a")]),
                         "b": _kv(spark, [(9, "z")])}, epoch=0)  # v1
    for e in range(1, 4):  # v2..v4 rewrite only 'a'; 'b' carries forward
        store.commit(spark, {"a": _kv(spark, [(e, "x")])}, epoch=e)
    store.expire_snapshots(keep_last=2)
    # b-v1 data is still referenced by the current manifest → must survive
    assert [r["k"] for r in store.read_table(spark, "b").collect()] == [9]
    # a-v1/v2 dirs are unreachable from v3/v4 → gone
    data = os.listdir(os.path.join(store.root, "data"))
    assert "a-v1" not in data and "a-v2" not in data
    assert {"a-v3", "a-v4", "b-v1"} <= set(data)


def test_compact_rewrites_small_files(spark, store):
    import glob

    df = spark.range(0, 5000).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("v")
    ).repartition(16)  # simulate per-epoch small-file accumulation
    v1 = store.commit(spark, {"t": df}, epoch=0)
    files_before = glob.glob(os.path.join(store.root, "data", "t-v1", "*.parquet"))
    assert len(files_before) == 16
    v2 = store.compact(spark, "t", epoch=1, target_files=2)
    files_after = glob.glob(os.path.join(store.root, "data", f"t-v{v2}", "*.parquet"))
    assert len(files_after) == 2
    # same rows, and the pre-compaction snapshot still time-travels
    assert store.read_table(spark, "t").count() == 5000
    assert store.read_table(spark, "t", version=v1).count() == 5000


def test_append_parts_time_travel_compact_and_expire(spark, store):
    """A table named in ``append`` keeps its parts and gains one more:
    reads see every appended row once, time travel sees the parts of its
    version, rows and lineage add up bucket by bucket, expiry keeps every
    part the current manifest lists, and compact folds them into one."""
    def log(rows):
        return spark.createDataFrame(rows, "url_fp long, v string")

    def read(**kw):
        return sorted(tuple(r) for r in store.read_table(spark, "log", **kw).collect())

    v1 = store.commit(spark, {"log": log([(1, "a"), (2, "b")])}, epoch=0,
                      append=("log",))
    store.commit(spark, {"log": log([(17, "c")]), "t": _kv(spark, [(9, "z")])},
                 epoch=1, append=("log",))
    store.commit(spark, {"t": _kv(spark, [(8, "y")])}, epoch=2)  # replace
    everything = [(1, "a"), (2, "b"), (17, "c")]
    assert read() == everything
    assert read(version=v1) == [(1, "a"), (2, "b")]
    meta = store.read_manifest()["tables"]["log"]
    assert meta["paths"] == ["data/log-v1", "data/log-v2"]
    assert meta["rows"] == 3
    assert {b["bucket"]: b["rows"] for b in meta["lineage"]} == {1: 2, 2: 1}
    with pytest.raises(ValueError, match="layout"):
        store.commit(spark, {"log": log([(3, "d")])}, epoch=3, append=("log",),
                     partitioning={"log": ("bucket", "url_fp", 4)})

    store.expire_snapshots(keep_last=1)
    data = set(os.listdir(os.path.join(store.root, "data")))
    assert {"log-v1", "log-v2", "t-v3"} <= data and "t-v2" not in data
    assert read() == everything

    v = store.compact(spark, "log", epoch=3)
    meta = store.read_manifest()["tables"]["log"]
    assert meta["paths"] == [f"data/log-v{v}"] and meta["rows"] == 3
    assert read() == everything


def test_append_folds_parts_on_schema_change_and_part_limit(spark, store):
    """An append folds the table's parts and the write into one part when
    the table already holds as many parts as one read lists without an
    extra Spark job, and when the write's columns differ from the table's
    evolved schema (renamed columns map to their new names)."""
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"

    def append(epoch, rows):
        df = spark.createDataFrame(rows, "url_fp long, v string")
        store.commit(spark, {"log": df}, epoch=epoch, append=("log",))
        meta = store.read_manifest()["tables"]["log"]
        assert meta["rows"] == sum(b["rows"] for b in meta["lineage"])
        assert meta["rows"] == store.read_table(spark, "log").count()
        return len(meta["paths"])

    spark.conf.set(key, "2")
    try:
        assert append(0, [(1, "a")]) == 1
        assert append(1, [(2, "b")]) == 2
        assert append(2, [(3, "c")]) == 1  # a third part would pass the limit
    finally:
        spark.conf.unset(key)
    store.add_column("log", "score", "double", epoch=3)
    assert append(3, [(4, "d")]) == 1
    store.rename_column("log", "v", "w", epoch=4)
    assert append(4, [(5, "e")]) == 1
    t = store.read_table(spark, "log")
    assert t.columns == ["url_fp", "w", "score"]
    assert sorted(tuple(r) for r in t.collect()) == [
        (1, "a", None), (2, "b", None), (3, "c", None), (4, "d", None), (5, "e", None)
    ]
    assert append(5, [(6, "f")]) == 1  # the writer still names the column v


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg-style rewrite-free ADD COLUMN: new snapshot shows the column
    as typed nulls over the OLD files; a later write populates it; time
    travel to the pre-evolution snapshot never shows it."""
    from pyspark.sql import functions as F

    store = SnapshotStore(str(tmp_path / "evo"))
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    v1 = store.commit(spark, {"t": df1}, epoch=0, lineage_bucket_col=None)
    v2 = store.add_column("t", "score", "double", epoch=1)
    evolved = store.read_table(spark, "t")
    assert evolved.columns == ["id", "name", "score"]
    assert evolved.filter(F.col("score").isNotNull()).count() == 0
    assert dict(evolved.dtypes)["score"] == "double"
    # a later commit writes real values
    df3 = evolved.withColumn("score", F.col("id") * 1.5)
    v3 = store.commit(spark, {"t": df3}, epoch=2, lineage_bucket_col=None)
    got = {r["id"]: r["score"] for r in store.read_table(spark, "t").collect()}
    assert got == {1: 1.5, 2: 3.0}
    # time travel: v1 has no column; v2 has the null column over v1's files
    assert store.read_table(spark, "t", v1).columns == ["id", "name"]
    t2 = store.read_table(spark, "t", v2)
    assert t2.columns == ["id", "name", "score"]
    assert t2.filter(F.col("score").isNotNull()).count() == 0
    # the evolution commit moved ZERO data: v2 references v1's files
    m1, m2 = store.read_manifest(v1), store.read_manifest(v2)
    assert m1["tables"]["t"]["paths"] == m2["tables"]["t"]["paths"]


def test_schema_evolution_drop_and_rename(spark, store):
    """Rewrite-free DROP/RENAME COLUMN: data files untouched, the new
    snapshot presents the evolved schema, time travel keeps the old one;
    renamed columns keep their values (file name tracked as the schema
    entry's source, the emulation's stand-in for Iceberg field IDs)."""
    v1 = store.commit(spark, {"t": _kv(spark, [(1, "a"), (2, "b")])}, epoch=0)
    v2 = store.rename_column("t", "v", "label", epoch=1)
    now = store.read_table(spark, "t")
    assert now.columns == ["k", "label"]
    assert {r["k"]: r["label"] for r in now.collect()} == {1: "a", 2: "b"}
    # time travel: old name
    assert store.read_table(spark, "t", version=v1).columns == ["k", "v"]
    v3 = store.drop_column("t", "label", epoch=2)
    assert store.read_table(spark, "t").columns == ["k"]
    assert store.read_table(spark, "t", version=v2).columns == ["k", "label"]
    # a later real commit writes the evolved shape
    import pandas as pd

    store.commit(spark, {"t": spark.createDataFrame(
        pd.DataFrame({"k": [9]}), "k long")}, epoch=3)
    assert {r["k"] for r in store.read_table(spark, "t").collect()} == {9}
    # guards
    with pytest.raises(KeyError):
        store.drop_column("t", "nope", epoch=4)
    with pytest.raises(ValueError):
        store.rename_column("t", "k", "k", epoch=4)


def test_drop_partition_source_column_refused(spark, store):
    store.commit(
        spark, {"t": _kv(spark, [(1, "a")])}, epoch=0,
        partitioning={"t": ("bucket", "k", 4)},
    )
    with pytest.raises(ValueError, match="partition"):
        store.drop_column("t", "k", epoch=1)


def test_tags_resolve_and_survive_expiry(spark, store):
    """Iceberg tags/refs: read_table(tag=) resolves the pinned version and
    expire_snapshots never GCs files reachable from a tagged snapshot."""
    v1 = store.commit(spark, {"t": _kv(spark, [(1, "a")])}, epoch=0)
    store.tag("release-1", v1)
    for e in range(1, 4):
        store.commit(spark, {"t": _kv(spark, [(e, "x")])}, epoch=e)
    store.expire_snapshots(keep_last=1)
    tagged = {r["k"]: r["v"] for r in
              store.read_table(spark, "t", tag="release-1").collect()}
    assert tagged == {1: "a"}
    cur = {r["k"] for r in store.read_table(spark, "t").collect()}
    assert cur == {3}
    with pytest.raises(KeyError):
        store.read_table(spark, "t", tag="nope")
    with pytest.raises(ValueError):
        store.read_table(spark, "t", version=v1, tag="release-1")

def test_add_after_drop_or_rename_reads_nulls_not_old_bytes(spark, store):
    """Field-ID emulation (ADVICE r4): a column added after a drop/rename
    of the same name must read as typed nulls — real Iceberg assigns a new
    field ID, so the old bytes sitting in unchanged data files must NOT be
    resurrected by name-based projection."""
    store.commit(spark, {"t": _kv(spark, [(1, "secret"), (2, "classified")])},
                 epoch=0)
    # drop 'v' then re-add it: the dropped values must NOT reappear
    store.drop_column("t", "v", epoch=1)
    store.add_column("t", "v", "string", epoch=2)
    readded = store.read_table(spark, "t")
    assert readded.columns == ["k", "v"]
    assert readded.filter(F.col("v").isNotNull()).count() == 0
    # rename k->kk then add a fresh 'k': 'kk' keeps the data, 'k' is nulls
    store.rename_column("t", "k", "kk", epoch=3)
    store.add_column("t", "k", "long", epoch=4)
    df = store.read_table(spark, "t")
    assert set(df.columns) == {"kk", "v", "k"}
    assert {r["kk"] for r in df.collect()} == {1, 2}
    assert df.filter(F.col("k").isNotNull()).count() == 0
    assert df.filter(F.col("v").isNotNull()).count() == 0
    # a later REAL write collapses the sentinel back to the file column
    fresh = spark.createDataFrame([(7, "x", 70)], "kk long, v string, k long")
    store.commit(spark, {"t": fresh}, epoch=5, lineage_bucket_col=None)
    got = store.read_table(spark, "t").collect()[0]
    assert (got["kk"], got["v"], got["k"]) == (7, "x", 70)


def test_rename_partition_source_column_keeps_pruning(spark, store):
    """Renaming the hidden-partition source column updates the spec (as
    Iceberg's field-ID-keyed partition spec does): pruning works under the
    NEW logical name; the on-disk __p layout never changes (ADVICE r4)."""
    df = spark.range(0, 100).select(
        F.col("id").alias("url_fp"), F.col("id").cast("string").alias("v")
    )
    store.commit(spark, {"t": df}, epoch=0,
                 partitioning={"t": ("bucket", "url_fp", 4)})
    store.rename_column("t", "url_fp", "fp", epoch=1)
    pruned = store.read_table(spark, "t", prune={"fp": 6})
    assert pruned.count() == 25  # bucket 6 % 4 == 2
    assert pruned.filter(F.col("fp") == 6).count() == 1
    files = {r[0] for r in pruned.select(F.input_file_name()).distinct().collect()}
    assert all("__p=2" in f for f in files), files
    # the OLD name no longer resolves for pruning
    with pytest.raises(ValueError):
        store.read_table(spark, "t", prune={"url_fp": 6})

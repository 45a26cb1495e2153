"""O5/O6: the URL-seen set — partitioned Bloom filter + exact confirm.

Reference behavior: an in-memory Python ``set`` consulted before enqueue
(``if url in visited``) — exact, zero false anything. north_star scales
that to 10^10 URLs with a partitioned probabilistic URL-seen set,
broadcast-merged per epoch. This is a Bloom filter: a crawl's seen set
is append-only, so a filter kind that can delete keys would buy nothing.

Design (SURVEY §7.3.1 — the correctness-critical part): a Bloom filter has
false POSITIVES, and a false positive here would silently DROP a URL the
reference crawls, breaking the exact URL-seen-set equivalence gate. So the
exact answer is a LEFT ANTI join of the candidates against the persisted
``url_seen`` keys (:func:`filter_unseen`), and it does not read the filter.
The filter has no false negatives, so every candidate whose fp is in the
seen keys probes maybe-seen: a probe could only let a definitely-new row
skip a comparison whose answer is already "keep", while the join still
reads the whole seen side. So the crawl's unseen check does not probe.
The crawl keeps the filter current per epoch (``add_keys``) and in its
snapshots.

Scale honesty (10^10 URLs): at 12 bits/key that is **~15 GB of bitmap** —
far over Spark's broadcast ceiling and any sane driver heap. So the
filter's state of record is a **DataFrame of partition rows**
(``partition_id, bloom, n_items, n_bits, n_hashes``), partitioned by
``pmod(url_fp, P)``; the full bitmap is NEVER assembled on the driver:

- **update** (per epoch, one pass): the batch's keys are co-shuffled with
  their ``pmod(fp, P)`` slice in one ``cogroup`` and their bit positions
  are ORed in inside that task; a slice that gets no keys passes through
  unchanged, a partition first touched now starts from zeros;
- **probe**: candidates co-shuffled to their ``pmod(fp, P)`` slice via a
  ``cogroup``-``applyInPandas``, probed against only that slice (at
  P = 16384 a 15 GB filter is ~0.9 MB per task). Small filters
  (≤ ``BROADCAST_MAX_BYTES`` total, 32 MiB) instead take a broadcast fast
  path that skips the candidate shuffle — same result, chosen by size
  exactly like a broadcast-vs-shuffled hash join.

Closure hygiene: every function shipped to executors captures only plain
ints / numpy arrays (never ``self`` — it holds the SparkSession, SPARK-5063).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nlnieuwscrawler_spark.pyhash import bloom_positions

DEFAULT_BITS_PER_KEY = 12          # fpp ≈ 0.3% at k=8
DEFAULT_N_HASHES = 8
MIN_PARTITION_BITS = 1 << 13       # 1 KiB floor per partition
BROADCAST_MAX_BYTES = 32 << 20     # above this the probe co-shuffles instead

FILTER_SCHEMA = (
    "partition_id int, bloom binary, n_items long, n_bits long, n_hashes int"
)


def bloom_params(expected_keys: int, n_partitions: int) -> tuple[int, int]:
    """(n_bits, n_hashes) of one partition slice."""
    per_part = max(1, math.ceil(expected_keys / n_partitions))
    n_bits = max(MIN_PARTITION_BITS, 1 << math.ceil(
        math.log2(per_part * DEFAULT_BITS_PER_KEY + 1)
    ))
    return n_bits, DEFAULT_N_HASHES


def _pid(fp_col, n_partitions: int):
    return F.pmod(F.col(fp_col), F.lit(n_partitions)).cast("int")


# -- slice bit math (module-level: closures ship plain ints only) -------------

def _bloom_bits(fps: np.ndarray, n_bits: int, n_hashes: int):
    """Byte index and bit mask of every fp's ``n_hashes`` positions, (n, k)."""
    pos = bloom_positions(fps, n_bits, n_hashes)
    return ((pos >> np.uint64(3)).astype(np.int64),
            np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))


def _bloom_lookup(slices, pid, fps, n_bits: int, n_hashes: int) -> np.ndarray:
    """Membership of each fp in ``slices[pid]``, a (P, n_bits // 8) stack."""
    byte_idx, bit = _bloom_bits(fps, n_bits, n_hashes)
    return ((slices[np.reshape(pid, (-1, 1)), byte_idx] & bit) != 0).all(axis=1)


class BloomSeenSet:
    """Partitioned Bloom seen-set whose state of record is a DataFrame.

    Each of the ``n_partitions`` slices is ``n_bits`` bits (``n_bits // 8``
    bytes, all zero when empty) with ``n_hashes`` positions per key. The
    driver holds only that geometry and an item counter; slice bytes live
    in ``self.df`` partition rows, updated and probed executor-side.
    ``to_df()`` is the checkpoint surface (write the rows to the snapshot
    store); ``from_df`` is the resume surface.
    """

    def __init__(
        self,
        spark: SparkSession,
        n_partitions: int,
        n_bits: int,
        n_hashes: int,
        df: DataFrame | None = None,
        n_items: int = 0,
    ):
        self.spark = spark
        self.n_partitions = n_partitions
        self.n_bits = n_bits
        self.n_hashes = n_hashes
        self.df = df if df is not None else spark.createDataFrame([], FILTER_SCHEMA)
        self.n_items = n_items
        self._bcast = None  # cached broadcast of collected slices; None = stale

    # -- construction ---------------------------------------------------------
    @classmethod
    def empty(cls, spark: SparkSession, n_partitions: int, expected_keys: int):
        return cls(spark, n_partitions, *bloom_params(expected_keys, n_partitions))

    @classmethod
    def from_df(cls, df: DataFrame, n_partitions: int):
        """Resume from checkpointed partition rows. One metadata-sized
        aggregate for the geometry + item count; slice rows stay
        distributed."""
        head = df.agg(
            F.first("n_bits").alias("n_bits"),
            F.first("n_hashes").alias("n_hashes"),
            F.sum("n_items").alias("n_items"),
        ).collect()
        if not head or head[0]["n_bits"] is None:
            return cls.empty(df.sparkSession, n_partitions, 1)
        return cls(
            df.sparkSession, n_partitions,
            int(head[0]["n_bits"]), int(head[0]["n_hashes"]),
            df=df, n_items=int(head[0]["n_items"]),
        )

    def to_df(self) -> DataFrame:
        return self.df

    def _invalidate_bcast(self) -> None:
        """Release the cached probe broadcast's EXECUTOR blocks before
        dropping the handle — `self._bcast = None` alone leaves the stale
        filter copy on every executor until GC gets around to it; across
        hundreds of epochs those accumulate into real memory. unpersist
        (not destroy): lazy plans built from an earlier probe() may still
        reference this broadcast — they transparently re-fetch from the
        driver if re-executed, whereas destroy() would fail them."""
        if self._bcast is not None:
            try:
                self._bcast.unpersist()
            except Exception:
                pass  # context shutting down
            self._bcast = None

    @property
    def total_bytes(self) -> int:
        return self.n_partitions * (self.n_bits // 8)

    # -- update (executor-side) ------------------------------------------------
    def add_keys(self, keys: DataFrame, fp_col: str = "url_fp") -> None:
        """Insert the keys into their partition slices, one cogroup pass:
        keys meet their slice inside the cogroup task and their bits are
        ORed in there — slice-local, no driver bitmap. The result is
        localCheckpoint-ed so per-epoch lineage doesn't stack; the driver
        sees only the summed item count (P-row aggregate)."""
        n_bits, n_hashes = self.n_bits, self.n_hashes

        def apply_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if right.empty:
                pid, items, blob = int(left["__pid"].iloc[0]), 0, bytes(n_bits // 8)
            else:
                pid = int(right["partition_id"].iloc[0])
                items, blob = int(right["n_items"].iloc[0]), right["bloom"].iloc[0]
            bitmap = np.frombuffer(blob, dtype=np.uint8).copy()
            fps = left["fp"].to_numpy(dtype=np.int64)
            byte_idx, bit = _bloom_bits(fps, n_bits, n_hashes)
            np.bitwise_or.at(bitmap, byte_idx.ravel(), bit.ravel())
            return pd.DataFrame(
                {
                    "partition_id": [pid],
                    "bloom": [bitmap.tobytes()],
                    "n_items": [items + fps.size],
                    "n_bits": [n_bits],
                    "n_hashes": [n_hashes],
                }
            )

        fps = keys.select(
            F.col(fp_col).alias("fp"), _pid(fp_col, self.n_partitions).alias("__pid")
        )
        self.df = (
            fps.groupBy("__pid")
            .cogroup(self.df.groupBy(F.col("partition_id").cast("int")))
            .applyInPandas(apply_group, FILTER_SCHEMA)
            # lazy: the n_items aggregate below is the job that computes
            # (and thereby materializes) the checkpoint — eager=True would
            # spend a whole extra job per epoch on the same work
            .localCheckpoint(eager=False)
        )
        # metadata-sized aggregate (one long), not the slices
        row = self.df.agg(F.sum("n_items").alias("n")).collect()[0]
        self.n_items = int(row["n"] or 0)
        self._invalidate_bcast()

    # -- probe ----------------------------------------------------------------
    def probe(self, df: DataFrame, fp_col: str) -> DataFrame:
        """Add ``maybe_seen``: broadcast fast path for small filters,
        co-shuffled per-partition probe at scale."""
        if self.n_items == 0:
            return df.withColumn("maybe_seen", F.lit(False))
        if self.total_bytes <= BROADCAST_MAX_BYTES:
            return self._probe_broadcast(df, fp_col)
        return self._probe_partitioned(df, fp_col)

    def _probe_broadcast(self, df: DataFrame, fp_col: str) -> DataFrame:
        n_bits, n_hashes = self.n_bits, self.n_hashes
        if self._bcast is None:
            slices = np.zeros((self.n_partitions, n_bits // 8), dtype=np.uint8)
            for r in self.df.collect():  # gated: total_bytes ≤ BROADCAST_MAX_BYTES
                slices[int(r["partition_id"])] = np.frombuffer(r["bloom"], dtype=np.uint8)
            self._bcast = df.sparkSession.sparkContext.broadcast(slices)
        b = self._bcast

        @F.pandas_udf(T.BooleanType())
        def probe(fps: pd.Series) -> pd.Series:
            slices = b.value
            a = fps.to_numpy(dtype=np.int64)
            # pmod: numpy's % takes the sign of the (positive) divisor
            return pd.Series(
                _bloom_lookup(slices, a % slices.shape[0], a, n_bits, n_hashes))

        return df.withColumn("maybe_seen", probe(F.col(fp_col)))

    def _probe_partitioned(self, df: DataFrame, fp_col: str) -> DataFrame:
        """Candidates shuffle ONCE on pmod(fp, P) to meet their slice; each
        cogroup task holds exactly one slice (total_bytes / P), so no task —
        let alone the driver — ever sees the whole filter. Distinct fps are
        probed, then ``maybe_seen`` is joined back on fp."""
        n_bits, n_hashes = self.n_bits, self.n_hashes

        def probe_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            fps = left["fp"].to_numpy(dtype=np.int64)
            if right.empty or fps.size == 0:
                return pd.DataFrame({"fp": fps, "maybe_seen": np.zeros(fps.size, bool)})
            one = np.frombuffer(right["bloom"].iloc[0], dtype=np.uint8)[None]
            return pd.DataFrame(
                {"fp": fps, "maybe_seen": _bloom_lookup(one, 0, fps, n_bits, n_hashes)})

        fps = (
            df.select(F.col(fp_col).alias("fp")).distinct()
            .withColumn("__pid", _pid("fp", self.n_partitions))
        )
        probed = (
            fps.groupBy("__pid")
            .cogroup(self.df.groupBy(F.col("partition_id").cast("int")))
            .applyInPandas(probe_group, "fp long, maybe_seen boolean")
        )
        return df.join(
            probed.withColumnRenamed("fp", fp_col), on=fp_col, how="left"
        ).withColumn("maybe_seen", F.coalesce("maybe_seen", F.lit(False)))


def filter_unseen(
    candidates: DataFrame,
    seen_keys: DataFrame,
    fp_col: str = "url_fp",
) -> DataFrame:
    """Exact not-seen filter: ``candidates LEFT ANTI JOIN seen_keys`` on fp.

    The join compares every candidate against the seen keys. No filter is
    probed: a ``maybe_seen`` term on the join could only keep a row whose
    fp is seen yet probes not-seen, which a filter without false
    negatives never returns. The term would change nothing, and the probe
    would add a Python pass over every candidate to a join that runs
    anyway.
    """
    return candidates.join(
        seen_keys.select(F.col(fp_col)), on=fp_col, how="left_anti"
    )

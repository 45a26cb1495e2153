"""O5/O6: the URL-seen set — partitioned Bloom/cuckoo filter + exact confirm.

Reference behavior: an in-memory Python ``set`` consulted before enqueue
(``if url in visited``) — exact, zero false anything. north_star scales
that to 10^10 URLs as "a partitioned Bloom/cuckoo URL-seen set
broadcast-merged per epoch".

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
snapshots; ``remove_keys`` retracts from it.

Scale honesty (10^10 URLs): at 12 bits/key that is **~15 GB of bitmap** —
far over Spark's broadcast ceiling and any sane driver heap. So the
filter's state of record is a **DataFrame of partition rows**
(``partition_id, bloom, n_items, n_bits, n_hashes``), partitioned by
``pmod(url_fp, P)``; the full bitmap is NEVER assembled on the driver:

- **update** (per epoch, one pass for either kind): the batch's keys are
  co-shuffled with their ``pmod(fp, P)`` slice in one ``cogroup`` and
  applied inside that task — the Bloom ORs their bit positions in, the
  cuckoo inserts (or deletes) their tags; a slice that gets no keys passes
  through unchanged, a partition first touched now starts from zeros;
- **probe**: candidates co-shuffled to their ``pmod(fp, P)`` slice via a
  ``cogroup``-``applyInPandas``, probed against only that slice (at
  P = 16384 a 15 GB filter is ~0.9 MB per task). Small filters
  (≤ ``BROADCAST_MAX_BYTES`` total, 32 MiB) instead take a broadcast fast
  path that skips the candidate shuffle — same result, chosen by size
  exactly like a broadcast-vs-shuffled hash join.

Both kinds share that skeleton (:class:`SeenSet`) and differ only in a
slice codec: module-level numpy functions that decode a row's blob into a
slice, look fps up in a stack of slices, and insert fps into one slice.
:class:`CuckooSeenSet` is the deletable kind (frontier retractions):
4-way bucketed cuckoo hashing with 12-bit tags (fpp ≈ 2·4/2^12 ≈ 0.2%),
adding a delete to its codec for ``remove_keys`` — a Bloom cannot unset
bits.

Closure hygiene: every function shipped to executors captures only plain
ints / numpy arrays (never ``self`` — it holds the SparkSession, SPARK-5063).
"""

from __future__ import annotations

import math
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nlnieuwscrawler_spark.pyhash import bloom_positions, cuckoo_index_tag

DEFAULT_BITS_PER_KEY = 12          # fpp ≈ 0.3% at k=8
DEFAULT_N_HASHES = 8
MIN_PARTITION_BITS = 1 << 13       # 1 KiB floor per partition
BROADCAST_MAX_BYTES = 32 << 20     # above this the probe co-shuffles instead

FILTER_SCHEMA = (
    "partition_id int, bloom binary, n_items long, n_bits long, n_hashes int"
)


def bloom_params(expected_keys: int, n_partitions: int) -> tuple[int, int]:
    per_part = max(1, math.ceil(expected_keys / n_partitions))
    n_bits = max(MIN_PARTITION_BITS, 1 << math.ceil(
        math.log2(per_part * DEFAULT_BITS_PER_KEY + 1)
    ))
    return n_bits, DEFAULT_N_HASHES


def _pid(fp_col, n_partitions: int):
    return F.pmod(F.col(fp_col), F.lit(n_partitions)).cast("int")


class SeenSet:
    """Partitioned seen-set whose state of record is a DataFrame.

    The driver holds only geometry (P, n_bits, n_hashes) and an item
    counter; slice bytes live in ``self.df`` partition rows, updated and
    probed executor-side. ``to_df()`` is the checkpoint surface (write the
    rows to the snapshot store); ``from_df`` is the resume surface.
    Subclasses supply ``kind``, ``params`` and ``_codec``; either kind's
    slice is ``n_bits // 8`` bytes, all zero when empty.
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
    @staticmethod
    def params(expected_keys: int, n_partitions: int) -> tuple[int, int]:
        """(n_bits, n_hashes) of one partition slice."""
        raise NotImplementedError

    def _codec(self) -> tuple:
        """(decode, lookup, insert), bound to plain-int geometry only:
        ``decode(blob) -> slice``, ``lookup(stacked_slices, pid, fps) ->
        bool array`` and ``insert(slice, fps) -> n_added`` (in place)."""
        raise NotImplementedError

    @classmethod
    def empty(cls, spark: SparkSession, n_partitions: int, expected_keys: int):
        return cls(spark, n_partitions, *cls.params(expected_keys, n_partitions))

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
    def _update(self, keys: DataFrame, fp_col: str, apply, sign: int) -> None:
        """Co-shuffle keys with their partition slice and ``apply(slice,
        fps)`` inside the cogroup task — slice-local, no driver bitmap; its
        return value, times ``sign``, moves the row's ``n_items``. The
        driver sees only the summed item count (P-row aggregate)."""
        decode = self._codec()[0]
        n_bits, n_hashes = self.n_bits, self.n_hashes

        def apply_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            if right.empty:
                pid, items, blob = int(left["__pid"].iloc[0]), 0, bytes(n_bits // 8)
            else:
                pid = int(right["partition_id"].iloc[0])
                items, blob = int(right["n_items"].iloc[0]), right["bloom"].iloc[0]
            slice_ = decode(blob).copy()
            items += sign * apply(slice_, left["fp"].to_numpy(dtype=np.int64))
            return pd.DataFrame(
                {
                    "partition_id": [pid],
                    "bloom": [slice_.tobytes()],
                    "n_items": [items],
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

    def add_keys(self, keys: DataFrame, fp_col: str = "url_fp") -> None:
        """Insert the keys into their partition slices, one cogroup pass;
        the result is localCheckpoint-ed so per-epoch lineage doesn't
        stack."""
        self._update(keys, fp_col, self._codec()[2], 1)

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
        decode, lookup, _ = self._codec()
        if self._bcast is None:
            zero = decode(bytes(self.n_bits // 8))
            slices = np.zeros((self.n_partitions, *zero.shape), dtype=zero.dtype)
            for r in self.df.collect():  # gated: total_bytes ≤ BROADCAST_MAX_BYTES
                slices[int(r["partition_id"])] = decode(r["bloom"])
            self._bcast = df.sparkSession.sparkContext.broadcast(slices)
        b = self._bcast

        @F.pandas_udf(T.BooleanType())
        def probe(fps: pd.Series) -> pd.Series:
            slices = b.value
            a = fps.to_numpy(dtype=np.int64)
            # pmod: numpy's % takes the sign of the (positive) divisor
            return pd.Series(lookup(slices, a % slices.shape[0], a))

        return df.withColumn("maybe_seen", probe(F.col(fp_col)))

    def _probe_partitioned(self, df: DataFrame, fp_col: str) -> DataFrame:
        """Candidates shuffle ONCE on pmod(fp, P) to meet their slice; each
        cogroup task holds exactly one slice (total_bytes / P), so no task —
        let alone the driver — ever sees the whole filter. Distinct fps are
        probed, then ``maybe_seen`` is joined back on fp."""
        decode, lookup, _ = self._codec()

        def probe_group(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
            fps = left["fp"].to_numpy(dtype=np.int64)
            if right.empty or fps.size == 0:
                return pd.DataFrame({"fp": fps, "maybe_seen": np.zeros(fps.size, bool)})
            one = decode(right["bloom"].iloc[0])[None]  # a one-slice stack
            return pd.DataFrame({"fp": fps, "maybe_seen": lookup(one, 0, fps)})

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


# -- Bloom slice codec (module-level: closures ship plain ints only) ----------

def _bloom_bits(fps: np.ndarray, n_bits: int, n_hashes: int):
    """Byte index and bit mask of every fp's ``n_hashes`` positions, (n, k)."""
    pos = bloom_positions(fps, n_bits, n_hashes)
    return ((pos >> np.uint64(3)).astype(np.int64),
            np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))


def _bloom_decode(blob) -> np.ndarray:
    return np.frombuffer(blob, dtype=np.uint8)


def _bloom_lookup(slices, pid, fps, n_bits: int, n_hashes: int) -> np.ndarray:
    byte_idx, bit = _bloom_bits(fps, n_bits, n_hashes)
    return ((slices[np.reshape(pid, (-1, 1)), byte_idx] & bit) != 0).all(axis=1)


def _bloom_insert(bitmap, fps, n_bits: int, n_hashes: int) -> int:
    byte_idx, bit = _bloom_bits(fps, n_bits, n_hashes)
    np.bitwise_or.at(bitmap, byte_idx.ravel(), bit.ravel())
    return fps.size


class BloomSeenSet(SeenSet):
    """Partitioned Bloom seen-set: ``n_bits``-bit slices, ``n_hashes``
    positions per key; a slice update ORs bits in."""

    kind = "bloom"
    params = staticmethod(bloom_params)

    def _codec(self) -> tuple:
        g = {"n_bits": self.n_bits, "n_hashes": self.n_hashes}
        return _bloom_decode, partial(_bloom_lookup, **g), partial(_bloom_insert, **g)


# -- cuckoo slice codec (module-level: closures ship plain ints only) ---------

CUCKOO_TAG_BITS = 12
CUCKOO_SLOTS = 4
CUCKOO_MAX_KICKS = 500
CUCKOO_LOAD_FACTOR = 0.66  # sized so the vectorized no-evict pass places ~95%+


def _cuckoo_alt(idx: np.ndarray, tag: np.ndarray, nb: int) -> np.ndarray:
    """i2 = i1 XOR index(tag); involution because nb is a power of two."""
    return (idx ^ cuckoo_index_tag(tag.astype(np.int64), nb, CUCKOO_TAG_BITS)[0]) % nb


def _cuckoo_insert(table: np.ndarray, fps: np.ndarray) -> int:
    """Insert fps into a (nb, SLOTS) uint16 table in place. Vectorized
    two-pass placement (i1 then i2) covers the bulk; the residual (both
    buckets full) runs the classic kick loop. Returns the number of keys
    that could not be placed (callers size by LOAD_FACTOR so this is 0)."""
    nb = table.shape[0]
    idx, tag = cuckoo_index_tag(fps, nb, CUCKOO_TAG_BITS)
    alt = _cuckoo_alt(idx, tag, nb)
    pending_i, pending_t, pending_a = idx, tag, alt
    for _attempt in (0, 1):  # try i1 for all, then i2 for the rest
        if pending_i.size == 0:
            break
        order = np.argsort(pending_i, kind="stable")
        bi, bt, ba = pending_i[order], pending_t[order], pending_a[order]
        uniq, start = np.unique(bi, return_index=True)
        rank = np.arange(bi.size) - np.repeat(
            start, np.diff(np.append(start, bi.size)))
        free = (table[bi] == 0).sum(axis=1)
        placeable = rank < free
        for b, t in zip(bi[placeable], bt[placeable]):
            # rank < free guaranteed a slot exists; earlier same-bucket keys
            # already consumed earlier slots, so take the first free one now
            slots = np.flatnonzero(table[b] == 0)
            table[b, slots[0]] = t
        keep = ~placeable
        pending_i, pending_t, pending_a = ba[keep], bt[keep], bi[keep]
    failed = 0
    for t, b1 in zip(pending_t, pending_i):
        cur_b, cur_t = int(b1), int(t)
        placed = False
        for kicks in range(CUCKOO_MAX_KICKS):
            slots = np.flatnonzero(table[cur_b] == 0)
            if slots.size:
                table[cur_b, slots[0]] = cur_t
                placed = True
                break
            # deterministic eviction (no RNG: results must be reproducible)
            s = (kicks * 2654435761) % CUCKOO_SLOTS
            cur_t, table[cur_b, s] = int(table[cur_b, s]), cur_t
            cur_b = int(_cuckoo_alt(
                np.array([cur_b]), np.array([cur_t], dtype=np.uint16), nb)[0])
        if not placed:
            failed += 1
    return failed


def _cuckoo_decode(blob) -> np.ndarray:
    return np.frombuffer(blob, dtype=np.uint16).reshape(-1, CUCKOO_SLOTS)


def _cuckoo_lookup(tables: np.ndarray, pid, fps: np.ndarray) -> np.ndarray:
    """Membership of each fp in ``tables[pid]``, a (P, nb, SLOTS) stack."""
    idx, tag = cuckoo_index_tag(fps, tables.shape[1], CUCKOO_TAG_BITS)
    alt = _cuckoo_alt(idx, tag, tables.shape[1])
    t = tag[:, None]
    return ((tables[pid, idx] == t) | (tables[pid, alt] == t)).any(axis=1)


def _cuckoo_add(table: np.ndarray, fps: np.ndarray) -> int:
    """Insert the batch's distinct, not-yet-present fps; returns how many.

    Probe-before-insert: a fingerprint re-added in a later epoch must not
    consume a second slot. Skipping tag-identical keys never creates a
    false negative — if (index, tag) is already present, lookup for this
    key is true forever — and it keeps n_items/occupancy accounting exact,
    so a later remove_keys can't drift membership state."""
    fps = np.unique(fps)
    fps = fps[~_cuckoo_lookup(table[None], 0, fps)]
    failed = _cuckoo_insert(table, fps)
    if failed:
        raise RuntimeError(
            f"cuckoo partition overfull: {failed} unplaced (resize expected_keys)")
    return fps.size


def _cuckoo_delete(table: np.ndarray, fps: np.ndarray) -> int:
    """Remove one matching tag per distinct fp; returns how many."""
    nb = table.shape[0]
    idx, tag = cuckoo_index_tag(np.unique(fps), nb, CUCKOO_TAG_BITS)
    alt = _cuckoo_alt(idx, tag, nb)
    removed = 0
    for b1, b2, t in zip(idx, alt, tag):
        for b in (int(b1), int(b2)):
            hit = np.flatnonzero(table[b] == t)
            if hit.size:
                table[b, hit[0]] = 0
                removed += 1
                break
    return removed


class CuckooSeenSet(SeenSet):
    """Deletable seen-set: partitioned 4-way cuckoo filter, 12-bit tags.

    The ``bloom`` column holds the bucket table (n_buckets × 4 uint16
    tags, 0 = empty) and ``n_bits``/``n_hashes`` carry (n_buckets·64,
    tag_bits) so FILTER_SCHEMA and the checkpoint path are shared.
    Supports ``remove_keys`` (frontier retractions) — the reason
    north_star names the cuckoo variant; a Bloom cannot unset bits.
    """

    kind = "cuckoo"

    @staticmethod
    def params(expected_keys: int, n_partitions: int) -> tuple[int, int]:
        per_part = max(1, math.ceil(expected_keys / n_partitions))
        n_buckets = max(64, 1 << math.ceil(
            math.log2(per_part / (CUCKOO_SLOTS * CUCKOO_LOAD_FACTOR) + 1)
        ))
        return n_buckets * CUCKOO_SLOTS * 16, CUCKOO_TAG_BITS

    def _codec(self) -> tuple:
        return _cuckoo_decode, _cuckoo_lookup, _cuckoo_add

    def remove_keys(self, keys: DataFrame, fp_col: str = "url_fp") -> None:
        """Delete previously-inserted keys (standard cuckoo caveat: deleting
        a never-inserted key may evict a colliding tag — callers only
        retract URLs they enqueued)."""
        self._update(keys, fp_col, _cuckoo_delete, -1)


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

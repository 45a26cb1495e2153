"""Snapshot TableIO: Iceberg-style atomic table snapshots over parquet.

The north_rule requires "every epoch checkpoints frontier + Bloom state ...
with per-partition lineage and fetch/dedup metrics so the crawl resumes
exactly mid-frontier" over Iceberg tables. The sandbox has no Iceberg
runtime jars (SURVEY §7.0), so this module provides the same SEMANTICS —
atomic snapshot commit, time-travelable versions, manifest-tracked data
files — behind a thin interface:

- data files: a table is a list of immutable part directories
  ``<root>/data/<table>-v<version>/part-*.parquet``; a commit either
  replaces a table with one new part or appends one part to its list
  (folding the list into one part past Spark's one-job listing limit)
- manifest:   ``<root>/_manifests/manifest-<version>.json`` listing every
  table's part paths, row count, per-bucket lineage, and the epoch counter
- commit:     write manifest, then ``os.replace`` a pointer file
  ``<root>/_CURRENT`` — the rename is the atomic commit, exactly the
  Iceberg/HadoopCatalog version-hint protocol

The part layout is known only to this module: readers get whole tables
through ``read_table``. Swap-in for real Iceberg: replace
``commit``/``read_table`` with ``df.writeTo(tbl).append()`` /
``overwritePartitions()`` / ``spark.read.format("iceberg")`` — the engine
only touches this interface.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nlnieuwscrawler_spark import spec as _fpspec


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, "_manifests"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- pointer ---------------------------------------------------------
    def current_version(self) -> int | None:
        ptr = os.path.join(self.root, "_CURRENT")
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return int(f.read().strip())

    def read_manifest(self, version: int | None = None) -> dict[str, Any] | None:
        v = self.current_version() if version is None else version
        if v is None:
            return None
        path = os.path.join(self.root, "_manifests", f"manifest-{v}.json")
        with open(path) as f:
            return json.load(f)

    # -- hidden partition transforms (Iceberg bucket()/days() equivalents) --
    # Keyed by name in the manifest, so each snapshot knows how its files
    # were laid out and reads can prune without the caller naming the
    # derived partition column (Iceberg's "hidden partitioning").
    PARTITION_COL = "__p"

    @staticmethod
    def _transform_expr(kind: str, col: str, arg: int | None):
        if kind == "bucket":
            # engine keys are already 64-bit fingerprints — bucket = pmod.
            # (Real Iceberg buckets re-hash; for pre-hashed longs pmod is
            # the same uniformity with a pure-Python twin for pruning.)
            return F.pmod(F.col(col), F.lit(arg))
        if kind == "days":
            return F.date_trunc("DAY", F.col(col)).cast("date").cast("string")
        if kind == "identity":
            return F.col(col)
        raise ValueError(f"unknown partition transform {kind!r}")

    @staticmethod
    def _transform_value(kind: str, value, arg: int | None):
        """Python twin of _transform_expr for read-side pruning."""
        if kind == "bucket":
            return value % arg if value >= 0 else (value % arg + arg) % arg
        if kind == "days":
            return str(value)[:10]
        if kind == "identity":
            return value
        raise ValueError(f"unknown partition transform {kind!r}")

    # -- snapshot commit ---------------------------------------------------
    def commit(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame],
        epoch: int,
        extra: dict[str, Any] | None = None,
        lineage_bucket_col: str | None = "url_fp",
        n_lineage_buckets: int = 16,
        partitioning: dict[str, tuple[str, str, int | None]] | None = None,
        append: tuple[str, ...] = (),
    ) -> int:
        """Write the given tables + manifest, then atomically flip _CURRENT.

        Each written table is replaced by one new part; a table named in
        ``append`` gains the write as one more part (Iceberg append), and its
        ``rows`` and ``lineage`` add the new part's to the previous entry's.
        An append folds the table's parts and the write into one part
        instead when the write's columns differ from the table's current
        schema (parts of two schemas would read wrong; renamed columns are
        mapped to their new names first), or when the table already has
        ``spark.sql.sources.parallelPartitionDiscovery.threshold`` parts (a
        read over more parts lists them with one more Spark job).

        Tables NOT in this commit carry forward from the previous manifest
        (their immutable data files are re-referenced, Iceberg-style), so a
        partial commit — e.g. a single-table merge_into — still yields a
        complete current snapshot. A crash anywhere before the final
        ``os.replace`` leaves the previous snapshot fully intact.

        ``partitioning[name] = (kind, src_col, arg)`` lays that table out
        under a hidden transform partition (``bucket``/``days``/
        ``identity``); readers prune via ``read_table(..., prune=...)``
        without ever naming the derived column.
        """
        prev = self.read_manifest()
        version = (prev["version"] if prev else 0) + 1
        if extra is None:  # compact, merge_into: keep the resume counters
            extra = dict((prev or {}).get("extra") or {})
        entry: dict[str, Any] = {
            "version": version,
            "epoch": epoch,
            "committed_at": time.time(),
            # url_fp-keyed state (seen_keys, frontier, lineage buckets) is
            # only meaningful under the fingerprint function that wrote it;
            # resume() compares this stamp and refuses a mismatched snapshot
            "fingerprint_spec": _fpspec.FINGERPRINT_SPEC,
            # carry forward unreferenced tables' (immutable) data files
            "tables": dict(prev["tables"]) if prev else {},
            "extra": extra,
        }
        max_parts = int(
            spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
        )
        for name, df in tables.items():
            spec = (partitioning or {}).get(name)
            old = entry["tables"].get(name) if name in append else None
            if old is not None:  # the new part takes the table's layout
                if spec is not None:
                    raise ValueError(f"an append to {name!r} keeps its layout")
                spec = old["partitioning"]
                cols = sorted((f.name, f.dataType.simpleString()) for f in df.schema.fields)
                if cols != sorted(map(tuple, old["schema"])) or len(old["paths"]) >= max_parts:
                    for cname, _, *source in old["schema"]:
                        if source and source[0] in df.columns:
                            df = df.withColumnRenamed(source[0], cname)
                    df = self.read_table(spark, name).unionByName(
                        df, allowMissingColumns=True
                    )
                    old = None
            # manifest-recorded schema (Iceberg: schema lives in table
            # metadata, not the data files) — the read path projects files
            # to THIS, which is what makes rewrite-free column adds possible
            # (add_column)
            schema = [[f.name, f.dataType.simpleString()] for f in df.schema.fields]
            rel = f"data/{name}-v{version}"
            path = os.path.join(self.root, rel)
            if spec is not None:
                kind, src_col, arg = spec
                (
                    df.withColumn(
                        self.PARTITION_COL, self._transform_expr(kind, src_col, arg)
                    )
                    .write.mode("overwrite")
                    .partitionBy(self.PARTITION_COL)
                    .parquet(path)
                )
            else:
                df.write.mode("overwrite").parquet(path)
            written = spark.read.parquet(path)
            lineage = None
            if lineage_bucket_col and lineage_bucket_col in written.columns:
                bucket = F.pmod(F.col(lineage_bucket_col), F.lit(n_lineage_buckets))
                lineage = dict(written.groupBy(bucket).count().collect())
                rows = sum(lineage.values())
            else:
                rows = written.count()
            paths = [rel]
            if old is not None:
                paths = old["paths"] + paths
                rows += old["rows"]
                if lineage is not None and old["lineage"] is not None:
                    for b in old["lineage"]:
                        lineage[b["bucket"]] = lineage.get(b["bucket"], 0) + b["rows"]
                else:
                    lineage = None
            entry["tables"][name] = {
                "paths": paths,
                "rows": rows,
                "lineage": None if lineage is None else [
                    {"bucket": b, "rows": n} for b, n in lineage.items()
                ],
                "partitioning": list(spec) if spec is not None else None,
                "schema": schema,
            }
        return self._publish(entry)

    def _publish(self, entry: dict[str, Any]) -> int:
        """Write the manifest, then flip _CURRENT to its version."""
        version = entry["version"]
        mpath = os.path.join(self.root, "_manifests", f"manifest-{version}.json")
        with open(mpath + ".tmp", "w") as f:
            json.dump(entry, f, indent=1, default=str)
        os.replace(mpath + ".tmp", mpath)
        ptr = os.path.join(self.root, "_CURRENT")
        with open(ptr + ".tmp", "w") as f:
            f.write(str(version))
        os.replace(ptr + ".tmp", ptr)  # ← the atomic commit point
        return version

    def read_table(
        self,
        spark: SparkSession,
        name: str,
        version: int | None = None,
        prune: dict[str, Any] | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Read a table snapshot; ``prune={src_col: value}`` maps the value
        through the table's hidden partition transform and filters on the
        derived partition column — Spark's partition discovery then scans
        only the matching directory (hidden-partitioning read path).
        ``tag`` resolves a named ref pinned by :meth:`tag` (mutually
        exclusive with ``version``)."""
        if tag is not None:
            if version is not None:
                raise ValueError("pass either version or tag, not both")
            tags = self._read_tags()
            if tag not in tags:
                raise KeyError(f"no tag {tag!r}")
            version = tags[tag]
        m = self.read_manifest(version)
        if m is None or name not in m["tables"]:
            raise KeyError(f"no snapshot for table {name!r}")
        meta = m["tables"][name]
        df = spark.read.parquet(*(os.path.join(self.root, p) for p in meta["paths"]))
        if prune:
            spec = meta.get("partitioning")
            if not spec:
                raise ValueError(f"table {name!r} has no hidden partitioning")
            kind, src_col, arg = spec[0], spec[1], spec[2]
            for col, value in prune.items():
                if col != src_col:
                    raise ValueError(f"pruning on {col!r}, partitioned by {src_col!r}")
                df = df.filter(
                    F.col(self.PARTITION_COL)
                    == F.lit(self._transform_value(kind, value, arg))
                )
        if self.PARTITION_COL in df.columns:
            df = df.drop(self.PARTITION_COL)  # hidden: readers never see it
        # project to the MANIFEST schema (Iceberg read path): columns added
        # by add_column after these files were written materialize as typed
        # nulls; column order follows the manifest, so every snapshot of a
        # table presents one consistent shape regardless of file vintage
        schema = meta.get("schema")
        if schema:
            cols = []
            for entry in schema:
                # [name, type] or [name, type, source_file_name] — the
                # third element is the on-disk column name after a
                # rename_column (the emulation's stand-in for Iceberg
                # field IDs)
                cname, ctype = entry[0], entry[1]
                src = entry[2] if len(entry) > 2 else cname
                if src in df.columns:
                    cols.append(F.col(src).alias(cname))
                else:
                    cols.append(F.lit(None).cast(ctype).alias(cname))
            df = df.select(*cols)
        return df

    # -- MERGE INTO (copy-on-write upsert/delete) ---------------------------
    def merge_into(
        self,
        spark: SparkSession,
        name: str,
        source: DataFrame,
        on: str | list[str],
        epoch: int,
        when_matched: str = "update",
        extra: dict[str, Any] | None = None,
    ) -> int:
        """Iceberg ``MERGE INTO`` semantics, copy-on-write: source rows
        replace matching target rows by key (``when_matched="update"``) or
        remove them (``"delete"``); unmatched source rows insert (update
        mode). Commits a new snapshot; the previous version stays readable
        (time travel). The anti-join is the only shuffle and broadcasts when
        the source is small — the same shape Iceberg CoW produces.
        """
        keys = [on] if isinstance(on, str) else list(on)
        try:
            target = self.read_table(spark, name)
        except KeyError:
            target = source.limit(0)
        untouched = target.join(
            source.select(*keys).distinct(), on=keys, how="left_anti"
        )
        if when_matched == "update":
            merged = untouched.unionByName(source.select(target.columns))
        elif when_matched == "delete":
            merged = untouched
        else:
            raise ValueError(f"unknown when_matched {when_matched!r}")
        return self.commit(spark, {name: merged}, epoch=epoch, extra=extra)

    def compact(
        self,
        spark: SparkSession,
        name: str,
        epoch: int,
        target_files: int = 1,
        extra: dict[str, Any] | None = None,
    ) -> int:
        """Iceberg rewrite_data_files equivalent: rewrite all of a table's
        parts into one part of ``target_files`` files as a NEW snapshot (old
        versions stay time-travelable until expired). The small-files
        problem is chronic for checkpoint-per-epoch crawls — thousands of
        tiny frontier/log files per day turn every scan into a listing
        storm (past 32 parts a read lists them with a Spark job); periodic
        compaction through the same atomic-commit path fixes it without a
        write lock (readers keep using the previous snapshot until the
        pointer flips). The table's hidden-partition spec survives the
        rewrite (Iceberg rewrite_data_files never changes the layout):
        read_table strips the derived ``__p`` column, so the spec must be
        re-applied from the manifest or compaction would silently flatten
        a partitioned table and break every subsequent pruned read."""
        m = self.read_manifest()
        spec = (m["tables"][name].get("partitioning")
                if m and name in m["tables"] else None)
        df = self.read_table(spark, name).coalesce(target_files)
        return self.commit(
            spark, {name: df}, epoch=epoch, extra=extra,
            partitioning={name: tuple(spec)} if spec else None,
        )

    def add_column(
        self,
        name: str,
        col_name: str,
        col_type: str,
        epoch: int,
    ) -> int:
        """Iceberg rewrite-free schema evolution (ALTER TABLE ADD COLUMN):
        commit a new snapshot whose manifest schema gains ``col_name`` but
        whose data files are the PREVIOUS version's, untouched — readers of
        the new snapshot see the column as typed nulls until a later commit
        writes it; readers of older snapshots (time travel) never see it.
        Zero data movement — the whole point at 100 TB.

        The schema entry records a FRESH field-ID sentinel as its file
        source (``__fid_v<version>_<name>``) rather than the column name
        itself. Real Iceberg keys file columns by field ID, so a column
        added after a ``drop_column``/``rename_column`` of the same name
        gets a NEW ID and reads nulls; without the sentinel, the read
        path's name-based projection would find the dropped/renamed
        column's bytes still sitting in the old data files and silently
        resurrect them (ADVICE r4). The sentinel is guaranteed absent
        from data files, and the next real write of the table rebuilds
        the schema from the DataFrame, collapsing source back to name."""
        prev, meta, schema = self._current_entry(name)
        if any(c[0] == col_name for c in schema):
            raise ValueError(f"column {col_name!r} already exists on {name!r}")
        schema.append(
            [col_name, col_type, f"__fid_v{prev['version'] + 1}_{col_name}"]
        )
        meta["schema"] = schema
        return self._commit_metadata(prev, name, meta, epoch)

    def drop_column(self, name: str, col_name: str, epoch: int) -> int:
        """Rewrite-free ALTER TABLE DROP COLUMN: the manifest schema loses
        the column, data files are untouched — readers of the new snapshot
        never see it (the read path projects to the manifest schema),
        time travel to older versions still does. Dropping the hidden
        partition source column is refused (pruning would break)."""
        prev, meta, schema = self._current_entry(name)
        if not any(c[0] == col_name for c in schema):
            raise KeyError(f"no column {col_name!r} on {name!r}")
        part = meta.get("partitioning")
        if part and part[1] == col_name:
            raise ValueError(
                f"{col_name!r} is {name!r}'s hidden-partition source column"
            )
        meta["schema"] = [c for c in schema if c[0] != col_name]
        return self._commit_metadata(prev, name, meta, epoch)

    def rename_column(self, name: str, old: str, new: str, epoch: int) -> int:
        """Rewrite-free ALTER TABLE RENAME COLUMN. Iceberg does this with
        field IDs; the emulation keeps the FILE column name as a third
        schema-entry element (``[name, type, source]``) so the read path
        still finds the data under its on-disk name and presents it under
        the new one. Older snapshots (time travel) keep the old name.
        Renaming the hidden-partition source column follows Iceberg:
        the partition spec tracks the field (by ID there, by updated
        name here), so ``read_table(prune={new_name: v})`` keeps working
        — the on-disk ``__p`` directory values never change (ADVICE r4)."""
        prev, meta, schema = self._current_entry(name)
        if any(c[0] == new for c in schema):
            raise ValueError(f"column {new!r} already exists on {name!r}")
        hit = False
        for c in schema:
            if c[0] == old:
                source = c[2] if len(c) > 2 else c[0]
                c[0] = new
                if len(c) > 2:
                    c[2] = source
                else:
                    c.append(source)
                hit = True
        if not hit:
            raise KeyError(f"no column {old!r} on {name!r}")
        meta["schema"] = schema
        part = meta.get("partitioning")
        if part and part[1] == old:
            meta["partitioning"] = [part[0], new, part[2]]
        return self._commit_metadata(prev, name, meta, epoch)

    def _current_entry(self, name: str):
        """The current manifest plus copies of ``name``'s entry and schema."""
        prev = self.read_manifest()
        if prev is None or name not in prev["tables"]:
            raise KeyError(f"no snapshot for table {name!r}")
        meta = dict(prev["tables"][name])
        return prev, meta, [list(c) for c in (meta.get("schema") or [])]

    def _commit_metadata(self, prev, name: str, meta, epoch: int) -> int:
        """Metadata-only snapshot commit (schema evolution): data files are
        the previous version's, so the fingerprint stamp carries forward."""
        entry = {
            "version": prev["version"] + 1,
            "epoch": epoch,
            "committed_at": time.time(),
            "fingerprint_spec": prev.get(
                "fingerprint_spec", _fpspec.FINGERPRINT_SPEC
            ),
            "tables": {**prev["tables"], name: meta},
            "extra": dict(prev.get("extra") or {}),
        }
        return self._publish(entry)

    # -- tags / refs (Iceberg branch-less refs) -----------------------------
    def tag(self, tag_name: str, version: int | None = None) -> int:
        """Pin a named tag to a snapshot version (Iceberg tags/refs):
        ``read_table(tag=...)`` resolves it, and ``expire_snapshots``
        never GCs files reachable from a tagged version."""
        v = self.current_version() if version is None else version
        if v is None or self.read_manifest(v) is None:
            raise KeyError(f"no snapshot version {version!r} to tag")
        tags = self._read_tags()
        tags[tag_name] = v
        tpath = os.path.join(self.root, "_tags.json")
        with open(tpath + ".tmp", "w") as f:
            json.dump(tags, f, indent=1)
        os.replace(tpath + ".tmp", tpath)
        return v

    def _read_tags(self) -> dict[str, int]:
        tpath = os.path.join(self.root, "_tags.json")
        if not os.path.exists(tpath):
            return {}
        with open(tpath) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def expire_snapshots(self, keep_last: int = 2) -> None:
        """GC versioned data dirs unreachable from the kept manifests
        (Iceberg expire_snapshots): carry-forward and appends mean an OLD
        version's part may still be listed by a NEWER manifest — every part
        a kept manifest lists survives; reachability, not age, decides
        deletion."""
        cur = self.current_version()
        if cur is None:
            return
        keep_versions = {v for v in range(cur - keep_last + 1, cur + 1) if v >= 1}
        # tagged snapshots are refs: never GC files they reach
        keep_versions.update(self._read_tags().values())
        referenced: set[str] = set()
        for v in keep_versions:
            m = self.read_manifest(v)
            if m:
                referenced.update(
                    os.path.basename(p)
                    for t in m["tables"].values() for p in t["paths"]
                )
        data = os.path.join(self.root, "data")
        for d in os.listdir(data):
            if "-v" in d and d not in referenced:
                shutil.rmtree(os.path.join(data, d), ignore_errors=True)

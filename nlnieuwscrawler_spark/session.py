"""SparkSession builder tuned for the crawl engine.

Local-mode defaults follow the public Spark tuning guidance: shuffle
partitions ≈ cores (not 200), AQE on (runtime coalesce + skew-join split),
Arrow on for the pandas-UDF extraction path, UTC session timezone so the
DuckDB oracle comparison is stable.

Tungsten pages are 4 MiB (``spark.buffer.pageSize``). Left unset, Spark
sizes a page as heap / cores / 16, capped at 64 MiB: 64 MiB with the 8 GB
driver on 4 cores. A broadcast hash relation takes at least one page
whatever its row count, so each broadcast of the 7-row robots table
pinned 64 MiB. After one perfbench crawl epoch (seed 1, ``local[4]``) the
memory store held six of them, 384 of its 421 MiB. With 4 MiB pages the
perfbench live driver heap fell from 525 to 190 MB (crawl) and from 180
to 123 MB (curate), with unit times within run-to-run noise. 1 MiB pages
held less heap but ran slower than 4 MiB in 4 of 5 paired crawl runs.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import pandas as pd
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "nlnieuwscrawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``local[*]``).
    ``shuffle_partitions`` defaults to the local core count so small-scale
    runs aren't over-parallelized; on a real cluster pass ~2-3× total cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = os.cpu_count() or 8 if inner in ("*", "") else int(inner)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its DEFAULT (true). The r7 experiment
        # with size-based coalescing (parallelismFirst=false, the usual
        # big-cluster advice) measured -1.5% on tiny sf0.1 queries but
        # CUT the 1M-page crawl scaling leg's local[32] throughput ~30%:
        # this engine's hot stages move KILOBYTES per row of narrow keys
        # while doing milliseconds of CPU per row (politeness ranks,
        # extraction), so byte-targeted coalescing starves them of cores.
        # Advisory-size coalescing belongs on byte-proportional workloads,
        # not here — measured, rejected, documented (OPTIMIZATION_r07.md).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # the default page (64 MiB here) is the floor of every broadcast
        # hash relation, however few rows it holds; see the module docstring
        .config("spark.buffer.pageSize", "4m")
        .config("spark.ui.enabled", "false")
        # runtime bloom-filter join pruning (distinct from the URL-seen bloom)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_up(spark)
    return spark


def _warm_up(spark: SparkSession) -> None:
    """Initialize the lazily-constructed engine machinery once per session.

    The first action that touches each subsystem pays its one-time setup.
    Left to chance, that cost lands on whichever crawl epoch or curate run
    exercises the subsystem first and makes unit timings incomparable
    across runs. Five warms, on no input data, computing nothing anything
    reuses. First-use cost of each step, run in this order, median of 3
    fresh ``local[4]`` processes on a 4-core, 15 GB VM (the JVM start
    before them took ~6.2 s):

    1. shuffle + AQE + broadcast join against a driver-local table: task
       scheduler, codegen, the first exchange and broadcast build, and the
       Python-list ``createDataFrame`` scan (~5.6 s);
    2. Arrow pandas UDF: the Python worker and Arrow serializer (~2.7 s);
    3. ``localCheckpoint``: the block-manager persist path (~0.5 s);
    4. parquet write + read: Hadoop FS, the parquet committer and the
       vectorized reader (~1.9 s);
    5. range partitioning + sort + ``persist`` + ``mapInPandas``: the
       sampling and sequence operators' path (~1.1 s).

    A step that fails raises out of :func:`get_spark`; the
    ``spark.nlnc.warmed`` marker is set only after all five ran. MLlib and
    Python DataSource init (~3.6 s and ~5.0 s after the five above) are
    left to their first use: no crawl or curate path touches them.
    """
    marker = "spark.nlnc.warmed"
    if spark.conf.get(marker, None) == "1":
        return
    from pyspark.sql import functions as F

    df = spark.range(0, 1000, 1, 4).select(F.col("id"), F.xxhash64("id").alias("h"))
    # the broadcast side comes from a driver-local Python list: the path
    # behind the crawler's createDataFrame([], ...) seen-key and Bloom
    # frames, whose first scan otherwise lands on the first crawl epoch
    small = spark.createDataFrame([(i, 1) for i in range(10)], "id long, one int")
    agg = df.groupBy((F.col("h") % 8).alias("k")).agg(F.count(F.lit(1)).alias("n"))
    agg.join(F.broadcast(small), agg["k"] == small["id"], "left").count()

    # ``pd`` must come from module globals: with ``from __future__ import
    # annotations`` the ``pd.Series`` hints are strings that pyspark
    # resolves through the function's __globals__.
    @F.pandas_udf("long")
    def _noop_udf(s: pd.Series) -> pd.Series:
        return s

    # aggregated, not counted: a bare count() prunes the UDF column away
    spark.range(0, 100).select(_noop_udf("id").alias("v")).agg(F.sum("v")).collect()

    spark.range(0, 10).localCheckpoint(eager=True).count()

    tmp = tempfile.mkdtemp(prefix="nlnc_warm_")
    try:
        spark.range(0, 10).write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    rp = (
        spark.range(0, 1000)
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
        .persist()
    )

    def _ident(batches):
        yield from batches

    rp.mapInPandas(_ident, "id long").count()
    rp.unpersist()
    spark.conf.set(marker, "1")

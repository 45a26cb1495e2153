"""Session contract: the warm-up and the Tungsten page size.

The warm-up moves one-time engine init (first shuffle and broadcast, the
Arrow/Python worker path, the persist and parquet paths) to session
construction so it stops landing on whichever crawl epoch or curate run
comes first. It must never truncate in silence: a step that raises fails
session construction, and the completion marker is set only after every
step ran. The page size is pinned to 4 MiB, the floor of every
broadcast hash relation.
"""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from nlnieuwscrawler_spark.session import _warm_up


def test_warm_up_ran_to_completion(spark):
    # the marker is set only on the LAST line of the warm-up body: it
    # proves every warm step before it executed without raising
    assert spark.conf.get("spark.nlnc.warmed", None) == "1"


def test_warm_up_step_failure_raises():
    # a session not yet warmed whose first warm step fails: the failure
    # must surface, not cut the warm-up short in silence
    def fail(*args, **kwargs):
        raise RuntimeError("warm step failed")

    stub = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key, default=None: None), range=fail
    )
    with pytest.raises(RuntimeError, match="warm step failed"):
        _warm_up(stub)


def test_tungsten_page_is_4_mib(spark):
    # a broadcast hash relation takes at least one Tungsten page: the
    # default (heap / cores / 16, capped at 64 MiB) pinned 64 MiB for the
    # 7-row robots table
    env = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get()
    assert env.memoryManager().pageSizeBytes() == 4 << 20

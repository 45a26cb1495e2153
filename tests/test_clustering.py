"""k-means / SemDeDup / snapshot_delta: hand-built geometry, numpy
cross-check, determinism, empty-cluster handling, plan shape."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F

from nlnieuwscrawler_spark.operators.clustering import (
    kmeans_embeddings,
    semdedup,
)
from nlnieuwscrawler_spark.operators.recrawl import snapshot_delta


def _vec_df(spark, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    return spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )


def _sqdist(vec, centroid):
    """Squared L2 distance to a literal centroid, accumulated
    left-to-right in DOUBLE (DuckDB list_sum order)."""
    lit = F.array(*[F.lit(float(c)) for c in centroid])
    return F.aggregate(
        F.zip_with(vec, lit, lambda x, y: (x.cast("double") - y)
                   * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign_expr(df, centroids, vec_col):
    """The original pure-expression assignment (higher-order folds +
    ``F.least`` struct argmin): the reference the vectorized
    ``clustering._assign`` is pinned against — slow per row, but its
    semantics are the module contract."""
    cands = [
        F.struct(
            _sqdist(F.col(vec_col), vec).alias("dist"),
            F.lit(int(cid)).cast("long").alias("cid"),
        )
        for cid, vec in centroids
    ]
    best = F.least(*cands) if len(cands) > 1 else cands[0]
    return df.withColumn("__best", best).withColumn(
        "cluster", F.col("__best.cid")
    ).withColumn("sqdist", F.col("__best.dist")).drop("__best")


def _numpy_kmeans(vecs, k, iters):
    """Plain-float reference of the fixed semantics (init = first k ids,
    argmin ties -> smaller cid, empty cluster keeps centroid)."""
    x = np.asarray(vecs, dtype=np.float64)
    cents = [x[i].copy() for i in range(k)]
    for _ in range(iters):
        d = np.stack([((x - c) ** 2).sum(axis=1) for c in cents])
        assign = d.argmin(axis=0)  # argmin returns first (smallest cid)
        for c in range(k):
            m = x[assign == c]
            if len(m):
                cents[c] = m.mean(axis=0)
    d = np.stack([((x - c) ** 2).sum(axis=1) for c in cents])
    return d.argmin(axis=0), d.min(axis=0)


def test_kmeans_matches_numpy_reference(spark):
    rng = np.random.RandomState(7)
    # 3 well-separated blobs of 20 in 8-d; float32 like the fixture
    blobs = np.concatenate(
        [rng.standard_normal((20, 8)) * 0.05 + c
         for c in (0.0, 5.0, -5.0)]
    ).astype(np.float32)
    got = (
        kmeans_embeddings(_vec_df(spark, blobs), k=3, iters=3)
        .orderBy("vec_id")
        .toPandas()
    )
    assign, dist = _numpy_kmeans(blobs, k=3, iters=3)
    assert list(got["cluster"]) == list(assign)
    # decimal-rounded engine path vs raw float path agree to ~1e-9
    assert np.allclose(got["sqdist"], np.round(dist, 6), atol=1e-6)
    # blobs are separated -> each lands in one cluster of 20
    assert sorted(got.groupby("cluster").size()) == [20, 20, 20]


def test_kmeans_partitioning_invariant(spark):
    rng = np.random.RandomState(11)
    vecs = rng.standard_normal((60, 6)).astype(np.float32)
    df = _vec_df(spark, vecs)
    a = kmeans_embeddings(df, k=4, iters=2).orderBy("vec_id").collect()
    b = (
        kmeans_embeddings(df.repartition(7), k=4, iters=2)
        .orderBy("vec_id")
        .collect()
    )
    assert a == b


def test_kmeans_empty_cluster_keeps_centroid(spark):
    # Both init centroids are [0,0] (id 1 duplicates id 0), so EVERY
    # point ties and goes to cluster 0 in iteration 1 — cluster 1
    # empties and must KEEP its [0,0] centroid (not crash / NaN out).
    # Iteration 2: c0 is the all-point mean (~[3.6, 3.6]) while the
    # kept c1=[0,0] recaptures the origin blob — so the far blob lands
    # in 0, the origin blob in 1.
    vecs = [[0.0, 0.0], [0.0, 0.0], [0.1, 0.0], [9.0, 9.0], [9.1, 9.0]]
    got = (
        kmeans_embeddings(_vec_df(spark, vecs), k=2, iters=2)
        .orderBy("vec_id")
        .toPandas()
    )
    assert list(got["cluster"]) == [1, 1, 1, 0, 0]


def test_semdedup_drops_planted_near_dups(spark):
    rng = np.random.RandomState(3)
    base = rng.standard_normal((30, 8)).astype(np.float32)
    # ids 30/31: near-copies of ids 0/5 (tiny scale keeps cosine ~1)
    planted = np.concatenate([base, base[[0, 5]] * 1.0001]).astype(
        np.float32
    )
    got = (
        semdedup(_vec_df(spark, planted), k=2, iters=2, threshold=0.99)
        .orderBy("vec_id")
        .toPandas()
    )
    assert bool(got.loc[30, "keep"]) is False
    assert bool(got.loc[31, "keep"]) is False
    assert bool(got.loc[0, "keep"]) is True  # smaller id is the keeper
    assert bool(got.loc[5, "keep"]) is True
    # nothing else is near-identical at 0.99
    assert int((~got["keep"]).sum()) == 2


def test_semdedup_keep_transitivity_is_greedy_by_id(spark):
    """a~b and b~c but not a~c: greedy keeps a, drops b and c (c is
    similar to the DROPPED b — the paper's greedy, not clustering)."""
    a = np.array([1.0, 0.0], dtype=np.float32)
    rot = lambda th: np.array(
        [np.cos(th), np.sin(th)], dtype=np.float32
    )
    vecs = [a, rot(0.05), rot(0.10)]  # cos(0.05)~0.9988, cos(0.10)~0.995
    got = (
        semdedup(_vec_df(spark, vecs), k=1, iters=1, threshold=0.9975)
        .orderBy("vec_id")
        .toPandas()
    )
    # 0~1 (0.99875>=t) drop 1; 0~2 (0.995<t) BUT 1~2 (0.99875>=t) drop 2
    assert list(got["keep"]) == [True, False, False]


def test_kmeans_assignment_is_zero_shuffle(spark):
    """The returned frame (final assignment) must be a pure projection —
    no Exchange anywhere in its plan."""
    rng = np.random.RandomState(5)
    df = _vec_df(spark, rng.standard_normal((40, 4)).astype(np.float32))
    plan = (
        kmeans_embeddings(df, k=2, iters=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_semdedup_max_cluster_guard_bounds_degenerate_blocks(spark):
    """VERDICT r5 #3: a degenerate embedding distribution (~80% of
    vectors collapsing into ONE cluster) must not go quadratic when the
    guard is armed. Oversized clusters split into md5 sub-blocks; the
    guard (a) reports the degeneracy via stats, (b) still drops
    duplicates inside blocks, (c) only ever PRUNES pairs vs the exact
    run (never invents a drop), and (d) keeps the default path
    (max_cluster=None) byte-identical to the unguarded result."""
    rng = np.random.RandomState(11)
    # 400 near-identical vectors around one point (one mega-cluster)
    # + 100 spread-out vectors that form the healthy remainder
    mega = (np.ones((400, 8)) + rng.standard_normal((400, 8)) * 1e-4)
    rest = rng.standard_normal((100, 8)) * 5.0
    vecs = np.concatenate([mega, rest]).astype(np.float32)
    df = _vec_df(spark, vecs)

    stats: dict = {}
    guarded = (
        semdedup(df, k=8, iters=2, threshold=0.99, max_cluster=50,
                 stats=stats)
        .orderBy("vec_id")
        .toPandas()
    )
    exact = (
        semdedup(df, k=8, iters=2, threshold=0.99)
        .orderBy("vec_id")
        .toPandas()
    )
    # (a) the guard saw the degenerate cluster
    assert stats["oversized_clusters"] >= 1
    assert stats["max_cluster_size"] >= 300
    # (b) sub-blocks of ~50 near-identical vectors still dedup hard:
    # at most one keeper per sub-block among the 400 mega vectors
    # (⌈400/50⌉ = 8 blocks -> ≤ ~2x hash-variance headroom)
    mega_keeps = int(guarded.loc[:399, "keep"].sum())
    assert mega_keeps <= 16, mega_keeps
    # (c) guarded drops ⊆ exact drops (pruning can only MISS pairs)
    g_drop = set(guarded.loc[~guarded["keep"], "vec_id"])
    e_drop = set(exact.loc[~exact["keep"], "vec_id"])
    assert g_drop <= e_drop
    # (d) a generous bound changes nothing
    loose = (
        semdedup(df, k=8, iters=2, threshold=0.99, max_cluster=10_000)
        .orderBy("vec_id")
        .toPandas()
    )
    assert list(loose["keep"]) == list(exact["keep"])


def test_assign_vectorized_is_bit_identical_to_expression_form(spark):
    """r7: the numpy pandas-UDF assignment must reproduce the Catalyst
    higher-order-fold form BIT-FOR-BIT (same left-to-right IEEE fold,
    same tie-to-smaller-cid argmin) — raw doubles compared with ==, no
    tolerance. Includes exact ties (duplicate vectors) and a zero
    vector."""
    from nlnieuwscrawler_spark.operators.clustering import (
        _assign,
        _fit_centroids,
    )

    rng = np.random.RandomState(17)
    vecs = rng.standard_normal((80, 16)).astype(np.float32)
    vecs[10] = vecs[3]          # exact tie candidates
    vecs[11] = 0.0              # zero vector
    df = _vec_df(spark, vecs)
    cents = _fit_centroids(
        df.select("vec_id", "embedding"), 5, 2, "embedding", "vec_id"
    )
    fast = (
        _assign(df, cents, "embedding")
        .select("vec_id", "cluster", "sqdist")
        .orderBy("vec_id")
        .collect()
    )
    ref = (
        _assign_expr(df, cents, "embedding")
        .select("vec_id", "cluster", "sqdist")
        .orderBy("vec_id")
        .collect()
    )
    assert [r["cluster"] for r in fast] == [r["cluster"] for r in ref]
    assert [r["sqdist"] for r in fast] == [r["sqdist"] for r in ref]


def test_semdedup_two_stage_matches_expression_join_reference(spark):
    """r7: the gram-matrix candidate stage + exact-verify restructure
    must keep the (cluster, keep) output identical to the r5
    all-same-cluster-pairs expression join, including near-threshold
    pairs (vectors planted at cosines straddling the 0.99 cut)."""
    from nlnieuwscrawler_spark.operators.clustering import _fit_centroids
    from nlnieuwscrawler_spark.operators.similarity import dot, norm

    rng = np.random.RandomState(23)
    base = rng.standard_normal((60, 8)).astype(np.float32)
    # plant pairs around the threshold: rotations of a few base vectors
    # by angles whose cosines land just above / just below 0.99
    extra = []
    for i, th in ((0, 0.10), (1, 0.14), (2, 0.145), (3, 0.1415)):
        v = base[i].astype(np.float64)
        # rotate in the plane spanned by v and a fixed orthogonal helper
        h = np.ones_like(v)
        h -= h.dot(v) / v.dot(v) * v
        u1, u2 = v / np.linalg.norm(v), h / np.linalg.norm(h)
        extra.append(
            (np.cos(th) * u1 + np.sin(th) * u2) * np.linalg.norm(v)
        )
    vecs = np.concatenate([base, np.array(extra)]).astype(np.float32)
    df = _vec_df(spark, vecs)
    threshold = 0.99

    got = (
        semdedup(df, k=3, iters=2, threshold=threshold)
        .orderBy("vec_id")
        .toPandas()
    )

    # reference: r5 shape — label with the expression assign, then join
    # EVERY same-cluster (b < a) pair through the exact HOF cosine
    base_df = df.select("vec_id", "embedding")
    cents = _fit_centroids(base_df, 3, 2, "embedding", "vec_id")
    labeled = _assign_expr(base_df, cents, "embedding").select(
        "vec_id", "cluster", "embedding"
    )
    a = labeled.select(
        F.col("vec_id").alias("__ida"),
        F.col("cluster").alias("__ca"),
        F.col("embedding").alias("__va"),
    )
    b = labeled.select(
        F.col("vec_id").alias("__idb"),
        F.col("cluster").alias("__cb"),
        F.col("embedding").alias("__vb"),
    )
    nprod = norm(F.col("__va")) * norm(F.col("__vb"))
    cos = F.when(
        nprod > 0, dot(F.col("__va"), F.col("__vb")) / nprod
    ).otherwise(F.lit(0.0))
    dup_ids = {
        r["__ida"]
        for r in a.join(
            b,
            (F.col("__ca") == F.col("__cb"))
            & (F.col("__idb") < F.col("__ida")),
        )
        .filter(F.round(cos, 6) >= F.lit(threshold))
        .select("__ida")
        .distinct()
        .collect()
    }
    want_keep = [i not in dup_ids for i in range(len(vecs))]
    assert list(got["keep"]) == want_keep


def test_semdedup_pair_join_is_equi_not_cartesian(spark):
    rng = np.random.RandomState(5)
    df = _vec_df(spark, rng.standard_normal((40, 4)).astype(np.float32))
    out = semdedup(df, k=2, iters=1, threshold=0.99)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# --------------------------------------------------------------------------
# snapshot_delta
# --------------------------------------------------------------------------


def _log(spark, rows):
    # rows: (event_id, minutes, key, value); window = [0, 100] minutes,
    # integer epoch midpoint -> split at minute 50
    t0 = dt.datetime(2024, 1, 1)
    data = [
        (eid, t0 + dt.timedelta(minutes=m), k, float(v))
        for eid, m, k, v in rows
    ]
    return spark.createDataFrame(
        data, ["event_id", "ts", "user_id", "value"]
    )


def test_snapshot_delta_all_four_statuses(spark):
    df = _log(spark, [
        (0, 0, 1, 1.0), (1, 100, 1, 2.0),     # changed
        (2, 0, 2, 7.0), (3, 100, 2, 7.0),     # unchanged
        (4, 0, 3, 5.0),                        # stale (old only)
        (5, 100, 4, 9.0),                      # new (new only)
    ])
    out = {r["user_id"]: r for r in snapshot_delta(df).collect()}
    assert out[1]["status"] == "changed" and out[1]["new_value"] == 2.0
    assert out[2]["status"] == "unchanged"
    assert out[3]["status"] == "stale" and out[3]["new_value"] is None
    assert out[4]["status"] == "new" and out[4]["old_value"] is None


def test_snapshot_delta_latest_wins_with_ord_tiebreak(spark):
    # key 1: two old samples -> latest (minute 40) is the old_value;
    # key 2: same-timestamp pair -> higher event_id wins
    df = _log(spark, [
        (0, 0, 1, 1.0), (1, 40, 1, 3.0), (2, 100, 1, 3.0),
        (3, 60, 2, 1.0), (4, 60, 2, 2.0), (5, 0, 2, 2.0),
    ])
    out = {r["user_id"]: r for r in snapshot_delta(df).collect()}
    assert out[1]["old_value"] == 3.0 and out[1]["status"] == "unchanged"
    assert out[2]["new_value"] == 2.0 and out[2]["status"] == "unchanged"


def test_snapshot_delta_split_boundary_is_old_side(spark):
    # single key observed exactly AT the midpoint (minute 50 of [0,100])
    # -> counts as the old snapshot (<= split), so status is stale
    df = _log(spark, [(0, 0, 9, 1.0), (1, 50, 9, 2.0), (2, 100, 8, 1.0)])
    out = {r["user_id"]: r for r in snapshot_delta(df).collect()}
    assert out[9]["status"] == "stale" and out[9]["old_value"] == 2.0


def test_snapshot_delta_single_aggregation_no_join(spark):
    df = _log(spark, [(0, 0, 1, 1.0), (1, 100, 1, 2.0)])
    plan = (
        snapshot_delta(df)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one broadcast of the 1-row bounds; the log itself is aggregated
    # in a single pass — no SortMergeJoin / ShuffledHashJoin of two
    # snapshot tables
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan

"""Embedding-space clustering for corpus curation — k-means + SemDeDup.

The reference crawler stores pages; its corpus consumers curate them. The
embedding-side curation step modern pipelines run is SEMANTIC
deduplication (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication" — public): cluster the
embedding space with k-means, then prune near-identical vectors WITHIN
each cluster, so the pairwise search is bounded by cluster size instead
of O(n²) over the corpus.

Engine-portable exactness (the repo's decimal recipe, as
operators/graph.py:host_pagerank): distances accumulate left-to-right in
DOUBLE over float32 inputs (bit-identical to DuckDB's ``list_sum`` —
the similarity-module convention); centroid updates sum per-dimension
contributions as ``round(x, 12)::DECIMAL(28,12)`` (exact, associative,
partition-order-free) and the mean is one IEEE division + round(12) on
identical operands in both engines — so a DuckDB oracle that unrolls the
same fixed iterations reproduces every assignment bit-for-bit.

100 TB shape:
- init + per-iteration centroids are k×dim doubles on the driver
  (metadata-sized, the pagerank dangling-mass pattern); ASSIGNMENT is a
  ZERO-SHUFFLE scan-side projection — centroids ride the plan as
  literals (classic broadcast k-means), so the corpus never moves to be
  labeled.
- the UPDATE step is the only exchange: posexplode to narrow
  (cluster, pos, val-decimal) rows with map-side partial aggregation —
  every partition emits at most k×dim rows regardless of corpus size.
- SemDeDup's pairwise join is blocked on the cluster id (k chosen ∝ n
  keeps clusters bounded — the published design point), so candidates
  come from an equi-join, never a cartesian.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nlnieuwscrawler_spark.operators.similarity import dot, norm


def _assign(df: DataFrame, centroids: list[tuple[int, list[float]]],
            vec_col: str) -> DataFrame:
    """Label every row with its nearest centroid — pure projection.

    BIT-IDENTICAL to the expression form it replaces (kept as the
    reference ``_assign_expr`` in tests/test_clustering.py): the
    Catalyst higher-order ``aggregate(zip_with(...))`` fold is evaluated
    interpreted, per element, per centroid, per row — measured 0.75 s for
    2000 rows × 8 centroids × 64 dims at sf0.1, and each k-means
    iteration additionally re-codegens the giant literal expression. The
    vectorized form runs the SAME IEEE arithmetic in numpy float64 —
    ``(x_d - c_d)²`` accumulated LEFT-TO-RIGHT over dimensions
    (one vectorized add per dimension, so the per-row fold order is
    exactly the zip_with/aggregate order) — and the argmin ties break to
    the smaller cluster id by sequential strictly-less updates, matching
    ``F.least`` over (dist, cid) structs. Same guide-§4 move as
    SimHash/with_lsh_bucket: batch the per-element math through numpy,
    keep distribution and shuffles in Spark.
    """
    import pandas as pd

    C = np.array([vec for _, vec in centroids], dtype=np.float64)
    cids = np.array([int(cid) for cid, _ in centroids], dtype=np.int64)

    @F.pandas_udf("cluster long, sqdist double")
    def nearest(vecs):
        m = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        n = m.shape[0]
        best_d = None
        best_c = None
        for ci in range(C.shape[0]):
            d = np.zeros(n, dtype=np.float64)
            for j in range(C.shape[1]):  # left-to-right over dimensions
                t = m[:, j] - C[ci, j]
                d += t * t
            if best_d is None:
                best_d, best_c = d, np.full(n, cids[ci], dtype=np.int64)
            else:
                # strict less: ties keep the smaller cid. NaN sorts
                # GREATER than every double in Spark's ordering, so a
                # non-NaN candidate also beats a NaN incumbent.
                upd = (d < best_d) | (np.isnan(best_d) & ~np.isnan(d))
                best_d = np.where(upd, d, best_d)
                best_c = np.where(upd, cids[ci], best_c)
        return pd.DataFrame({"cluster": best_c, "sqdist": best_d})

    return (
        df.withColumn("__best", nearest(F.col(vec_col)))
        .withColumn("cluster", F.col("__best.cluster"))
        .withColumn("sqdist", F.col("__best.sqdist"))
        .drop("__best")
    )


def _fit_centroids(
    base: DataFrame, k: int, iters: int, vec_col: str, id_col: str
) -> list[tuple[int, list[float]]]:
    """The k-means iteration loop; returns the final centroids.

    Initial centroids are the ``k`` vectors with the smallest ids
    (cluster id = position in that order), each iteration reassigns by
    exact squared-L2 argmin (ties → smaller cluster id) and recomputes
    centroids as the decimal-exact per-dimension mean; a cluster that
    loses every member keeps its previous centroid. No convergence test,
    no RNG — a pure function of (base, k, iters), the property the
    cross-engine oracle and the partitioning-invariance test rely on.
    """
    from pyspark import StorageLevel

    # the loop evaluates `base` iters+1 times (init collect + one update
    # agg per iteration) — uncached that is iters+1 full SOURCE scans,
    # which on a cluster reading remote parquet dominates
    base = base.persist(StorageLevel.MEMORY_AND_DISK)
    init_rows = (
        base.orderBy(id_col).limit(k)
        .select(F.col(vec_col))
        .collect()
    )
    centroids = [(i, [float(x) for x in r[0]]) for i, r in enumerate(init_rows)]

    for _ in range(iters):
        assigned = _assign(base, centroids, vec_col)
        # narrow (cluster, pos, decimal) explode; partial agg bounds every
        # partition's output at k×dim rows
        sums = (
            assigned.select("cluster", F.posexplode(vec_col).alias("pos", "__v"))
            .groupBy("cluster", "pos")
            .agg(
                F.sum(
                    F.round(F.col("__v").cast("double"), 12).cast(
                        "decimal(28,12)"
                    )
                ).alias("__s"),
                F.count(F.lit(1)).alias("__n"),
            )
            .select(
                "cluster",
                "pos",
                F.round(F.col("__s").cast("double") / F.col("__n"), 12).alias(
                    "__c"
                ),
            )
            .collect()
        )
        new: dict[int, dict[int, float]] = {}
        for r in sums:
            new.setdefault(int(r["cluster"]), {})[int(r["pos"])] = float(r["__c"])
        centroids = [
            (cid, [new[cid][p] for p in range(len(old))] if cid in new else old)
            for cid, old in centroids
        ]
    base.unpersist()
    return centroids


def kmeans_embeddings(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    stats: dict | None = None,
) -> DataFrame:
    """Fixed-iteration k-means over an embedding column →
    (id, cluster, sqdist). See ``_fit_centroids`` for the deterministic
    semantics; the returned frame is the final zero-shuffle assignment
    projection."""
    base = df.select(F.col(id_col), F.col(vec_col))
    centroids = _fit_centroids(base, k, iters, vec_col, id_col)
    if stats is not None:
        stats["iters"] = iters
        stats["centroids"] = centroids
    return _assign(base, centroids, vec_col).select(
        id_col, "cluster", F.round("sqdist", 6).alias("sqdist")
    )


def semdedup(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cluster: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """SemDeDup pruning → (id, cluster, keep).

    A vector is DROPPED when some same-cluster vector with a smaller id
    is cosine-similar above ``threshold`` (rounded to 6 dp, the
    cosine_neardup convention) — the paper's greedy keep-one-per-group,
    with id order standing in for its centroid-distance order so the
    result is engine-portable. Pairs are blocked on the cluster id
    (equi-join); the corpus is labeled ONCE by the zero-shuffle
    assignment projection and PERSISTED (it feeds both self-join sides
    plus the output — uncached the distance projection would evaluate
    3×, the minhash lesson), so the only wide moves are the two
    cluster-keyed exchanges of the self-join. Vector NORMS are
    precomputed per row (n sqrt-sums, not n² — measured 3× per-pair
    cheaper at the 2M leg) — bit-identical to a per-pair norm because
    sqrt over the same left-to-right fold is the same IEEE double.

    ``max_cluster`` (VERDICT r5 #3) bounds the O(c²) within-cluster
    join against DEGENERATE clusterings (one centroid capturing most of
    the corpus — k ∝ n is the paper's design point, but a pathological
    embedding distribution can break it at runtime, when re-picking k is
    no longer an option). Clusters above the bound are split into
    ⌈size/max_cluster⌉ deterministic md5-hash sub-blocks and pairs are
    blocked on (cluster, sub-block), capping the candidate count at
    Σ⌈c/max⌉·max² instead of Σc². Sub-blocking a split cluster prunes
    its cross-block pairs — the same recall trade the paper makes by
    raising k, here applied ONLY to the oversized clusters (all others
    keep exact within-cluster semantics; ``max_cluster=None``, the
    default, changes nothing). ``stats`` records ``oversized_clusters``
    and ``max_cluster_size`` so a production run can see the guard fire.
    """
    import pandas as pd

    base = df.select(F.col(id_col), F.col(vec_col))
    centroids = _fit_centroids(base, k, iters, vec_col, id_col)
    labeled = (
        _assign(base, centroids, vec_col)
        .select(id_col, "cluster", vec_col)
        .persist()
    )
    if max_cluster is not None:
        # k-row size table: the split factor is metadata, broadcast back
        sizes = labeled.groupBy("cluster").agg(
            F.count(F.lit(1)).alias("__csz")
        )
        if stats is not None:
            srows = sizes.collect()
            stats["oversized_clusters"] = sum(
                1 for r in srows if r["__csz"] > max_cluster
            )
            stats["max_cluster_size"] = max(
                (r["__csz"] for r in srows), default=0
            )
        nsub = F.ceil(F.col("__csz") / F.lit(int(max_cluster))).cast("long")
        sub = (
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
            ).cast("long")
            % F.greatest(nsub, F.lit(1))
        )
        blocked = (
            labeled.join(F.broadcast(sizes), "cluster")
            .withColumn("__sub", sub)
            .drop("__csz")
        )
    else:
        blocked = labeled
    # Pairwise stage, two-stage like similarity.cosine_neardup_pairs
    # (guide §4.2): candidates from a per-block numpy GRAM MATRIX
    # (applyInPandas; BLAS — orders of magnitude cheaper than the
    # per-pair interpreted higher-order cosine the r5 self-join paid on
    # EVERY same-cluster pair), then the EXACT left-to-right HOF cosine
    # recomputed on candidates only, so the keep/drop decision stays
    # bit-identical to the naive form (and to the DuckDB oracle). The
    # candidate slack must cover BOTH error sources between the
    # normalized-gram estimate and round(exact, 6) >= τ: float
    # summation-order drift (~1e-12) AND the 6-dp round-UP window
    # (an exact cos of τ-4.9e-7 still rounds to τ) — hence 5.01e-7.
    group_cols = ["cluster"] + (
        ["__sub"] if max_cluster is not None else []
    )
    vsel = blocked.select(id_col, *group_cols, vec_col)
    slack = float(threshold) - 5.01e-7
    tile_rows = 4096

    def block_candidates(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(m, axis=1)
        nz = nrm > 0
        mn = np.zeros_like(m)
        mn[nz] = m[nz] / nrm[nz, None]
        rows = mn.shape[0]
        out_a, out_b = [], []
        for start in range(0, rows, tile_rows):
            strip = mn[start : start + tile_rows] @ mn.T  # (tile, rows)
            ai, bi = np.nonzero(strip >= slack)
            ai = ai + start
            keep = bi > ai  # strict upper triangle, global indices
            ai, bi = ai[keep], bi[keep]
            # the DROP target is the LARGER id (a smaller-id sibling
            # being similar is what marks a vector a duplicate)
            out_a.append(np.maximum(ids[ai], ids[bi]))
            out_b.append(np.minimum(ids[ai], ids[bi]))
        empty = np.empty(0, dtype=np.int64)
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else empty,
                "id_b": np.concatenate(out_b) if out_b else empty,
            }
        )

    cand = vsel.groupBy(*group_cols).applyInPandas(
        block_candidates, "id_a long, id_b long"
    )
    va = labeled.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    )
    vb = labeled.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb")
    )
    # guarded like similarity.cosine(): an all-zero vector makes the norm
    # product 0 and an unguarded division THROWS under ANSI mode (Spark 4
    # default) — and even non-ANSI NULL vs the oracle's NaN would flip
    # keep/drop; cosine-to-a-zero-vector is defined 0 here (never a dup)
    nprod = norm(F.col("__va")) * norm(F.col("__vb"))
    cos = F.when(
        nprod > 0, dot(F.col("__va"), F.col("__vb")) / nprod
    ).otherwise(F.lit(0.0))
    dups = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .filter(F.round(cos, 6) >= F.lit(float(threshold)))
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    out = (
        labeled.join(dups.withColumn("__dup", F.lit(True)), id_col, "left")
        .select(
            id_col,
            "cluster",
            F.coalesce(~F.col("__dup"), F.lit(True)).alias("keep"),
        )
        .localCheckpoint(eager=True)
    )
    labeled.unpersist()
    return out

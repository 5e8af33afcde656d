"""Distributed k-means over an embedding column — full-corpus Lloyd's.

Complements ``operators/similarity.py``'s driver-side sample training
(the faiss quantizer recipe, right for 16-256-centroid quantizers):
use THIS when the loop must see the WHOLE corpus — domain discovery /
training-mixture balancing over billions of documents, where exact
cluster populations and assignments matter and the corpus never fits
a driver sample.

Scale shape, per iteration (the MLlib recipe, spelled with the
DataFrame API):

- centroids (k x d float64 — kilobytes to a few MB) go executor-side
  via ``sparkContext.broadcast`` — shipped once per executor, not per
  task; destroyed when the iteration ends (destroy is safe there:
  nothing downstream re-reads the partials — but the k-means|| cost
  loop must use ``unpersist``, since its cached cost frame's lineage
  keeps referencing the broadcast for recompute fallback);
- assignment + partial update are ONE ``mapInPandas`` pass: each
  partition streams its Arrow batches through a numpy argmin
  (``|x|^2 - 2 x.C^T + |c|^2`` with the constant ``|x|^2`` dropped)
  and accumulates per-cluster (sum, count) locally, emitting <= k
  rows per partition — the corpus itself never shuffles;
- partials are scalar-exploded to (cluster, pos, v) and reduced by
  ``groupBy(cluster, pos).sum`` — hash partial aggregation keeps the
  shuffle at <= tasks x k x d scalar rows — and the k x d result is
  the only thing collected (the legitimate driver-side shape, cf. the
  ANN codebooks);
- the prepared (id, vec) frame is cached for the loop and unpersisted
  before returning (caches here back no lazily-returned frame, unlike
  the session-registered caches, so the operator can release them itself).

Float caveat, stated rather than hidden: centroid sums are float64
but summation ORDER follows partitioning, so centroids are equal
across partitionings only to float tolerance; assignments are stable
for non-degenerate data and ties break toward the lowest cluster id
(numpy argmin). The pytest suite pins reference equality under a
fixed init, blob recovery, partition-layout robustness, and
empty-cluster handling.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from solana_snapshot_etl_tools_spark._pickle import register_self

register_self(__name__)

ASSIGN_SCHEMA = "id long, cluster_id int, sq_dist double"
_PARTIAL_SCHEMA = "cluster int, s array<double>, n long, cost double"


def _prep(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    normalize: bool,
    extra: tuple = (),
) -> DataFrame:
    v = F.col(vec_col).cast("array<double>")
    if normalize:
        nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
        # CASE guard: an all-zero vector stays zero instead of killing
        # the job under ANSI (DIVIDE_BY_ZERO) / NaN-poisoning centroids
        v = F.when(nrm == 0.0, v).otherwise(F.transform(v, lambda x: x / nrm))
    # extra: already-aliased Columns to carry alongside (id, vec) in
    # the same narrow projection — no separate join back on id
    return emb.select(
        F.col(id_col).cast("long").alias("id"), v.alias("vec"), *extra
    )


def _argmin_sqdist(X: np.ndarray, C: np.ndarray):
    """Batch nearest-centroid kernel shared by every pass:
    (assignments, squared distances clamped at 0 — the
    ``|c|^2 - 2 x.c + |x|^2`` expansion can cancel to ~-1e-13 for
    near-coincident points, and a negative sq_dist NaNs any downstream
    sqrt). Ties break toward the lowest cluster id (np.argmin)."""
    D = (C * C).sum(axis=1)[None, :] - 2.0 * (X @ C.T)
    a = np.argmin(D, axis=1)
    d2 = D[np.arange(len(a)), a] + (X * X).sum(axis=1)
    np.maximum(d2, 0.0, out=d2)
    return a, d2


def kmeans_init(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    normalize: bool = False,
) -> np.ndarray:
    """Deterministic, partition-invariant seeding: the k vectors whose
    ``xxhash64(id, seed)`` sorts lowest (id tiebreak). A seeded random
    draw without the partition-layout dependence of ``F.rand``."""
    rows = (
        _prep(emb, id_col, vec_col, normalize)
        .orderBy(F.xxhash64(F.col("id"), F.lit(seed)), "id")
        .limit(k)
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"k={k} but corpus has only {len(rows)} vectors")
    return np.array([r.vec for r in rows], dtype=np.float64)


def _min_cost_pass(bc_new):
    """Update each point's running cost (squared distance to the
    nearest candidate so far) against a broadcast batch of NEW
    candidates only — the MLlib k-means|| recipe: the corpus streams,
    the candidate history never re-ships."""

    def gen(batches):
        C = None
        for pdf in batches:
            if C is None:
                C = np.asarray(bc_new.value, dtype=np.float64)
            if not len(pdf):
                continue
            X = np.array(pdf["vec"].tolist(), dtype=np.float64)
            _, d2 = _argmin_sqdist(X, C)
            out = pdf[["id", "vec", "cost"]].copy()
            out["cost"] = np.minimum(out["cost"].to_numpy(), d2)
            yield out

    return gen


_COST_SCHEMA = "id long, vec array<double>, cost double"


def _weighted_kmeanspp_lloyds(P, w, k, seed, iters=30):
    """Driver-side finish on the small candidate set: weighted
    k-means++ seeding then weighted Lloyd's (numpy, deterministic)."""
    rng = np.random.default_rng(seed)
    m = len(P)
    centers = [int(rng.choice(m, p=w / w.sum()))]
    d2 = ((P - P[centers[0]]) ** 2).sum(axis=1)
    for _ in range(1, k):
        p = w * d2
        if p.sum() <= 0:  # fewer distinct candidates than k
            rest = [i for i in range(m) if i not in centers]
            centers.append(rest[0] if rest else centers[-1])
        else:
            centers.append(int(rng.choice(m, p=p / p.sum())))
        d2 = np.minimum(d2, ((P - P[centers[-1]]) ** 2).sum(axis=1))
    C = P[centers].copy()
    for _ in range(iters):
        a = np.argmin(
            (C * C).sum(axis=1)[None, :] - 2.0 * (P @ C.T), axis=1
        )
        new = C.copy()
        for j in range(k):
            mask = a == j
            if w[mask].sum() > 0:
                new[j] = (P[mask] * w[mask, None]).sum(axis=0) / w[mask].sum()
        if np.allclose(new, C):
            break
        C = new
    return C


def kmeans_parallel_init(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rounds: int = 5,
    oversample: int | None = None,
    seed: int = 42,
    normalize: bool = False,
    _prepped: DataFrame | None = None,
) -> np.ndarray:
    """k-means|| seeding (Bahmani et al., VLDB'12 — the MLlib
    default): ``rounds`` corpus passes each sampling ~``oversample``
    (default 2k) points with probability proportional to their squared
    distance from the candidates so far, then a driver-side weighted
    k-means++ / Lloyd's over the ~rounds x 2k candidates. Avoids the
    split-blob local optima random-point seeding falls into.

    Scale shape: the per-point cost column is cached and updated
    against only each round's NEW candidates (broadcast, ~2k x d);
    sampling is deterministic hash thresholding
    (``xxhash64(id, seed, round)`` vs ``2k * cost / total``) — no
    partition-layout dependence; the candidate weights are one
    count-by-nearest pass. Driver state: candidates + weights
    (~rounds x 2k x d — kilobytes to MB).

    ``_prepped`` (internal — kmeans_fit): the already cast/normalized
    ``(id, vec)`` frame, so a fit that has cached its own _prep output
    does not re-run the full-corpus cast+normalize here."""
    spark = emb.sparkSession
    l = oversample or 2 * k
    base = _prepped if _prepped is not None else _prep(emb, id_col, vec_col, normalize)
    first = base.orderBy(F.xxhash64(F.col("id"), F.lit(seed)), "id").limit(1).collect()
    if not first:
        raise ValueError("empty corpus")
    cands = [np.asarray(first[0].vec, dtype=np.float64)]
    d = base.withColumn("cost", F.lit(float("inf")))
    new_batch = np.array(cands)
    total = 0.0
    fresh = True  # new candidates since the last cost pass?
    for rnd in range(rounds):
        if fresh:
            bc = spark.sparkContext.broadcast(new_batch)
            nxt = d.mapInPandas(_min_cost_pass(bc), _COST_SCHEMA).cache()
            total = nxt.agg(F.sum("cost")).first()[0] or 0.0
            # unpersist, not destroy: the cached cost frame's lineage
            # still references this broadcast (tasks serialize the full
            # parent chain for recompute fallback); unpersist frees
            # executors and re-ships on demand
            bc.unpersist()
            if d.is_cached:
                d.unpersist()
            d = nxt
        if total <= 0:
            break
        # deterministic Bernoulli(l * cost / total) via hash threshold
        u = (F.pmod(F.xxhash64("id", F.lit(seed), F.lit(rnd)), F.lit(2**32)) + 0.5) / 2**32
        # sorted so the candidate ORDER (which feeds the driver rng) is
        # partition-invariant; the only residual layout sensitivity is
        # float rounding of the cost total at the sampling threshold
        picked = sorted(
            d.filter(u < F.lit(float(l)) * F.col("cost") / F.lit(total))
            .select("id", "vec")
            .collect(),
            key=lambda r: r.id,
        )
        # an empty draw leaves costs unchanged — skip the (idempotent)
        # cost pass next round and just redraw with the next rnd hash
        fresh = bool(picked)
        if not picked:
            continue
        new_batch = np.array([r.vec for r in picked], dtype=np.float64)
        cands.extend(new_batch)
    P = np.array(cands, dtype=np.float64)
    # weight candidates by the number of corpus points nearest to them
    w = np.zeros(len(P), dtype=np.float64)
    for r in (
        kmeans_assign(
            d.select(F.col("id").alias(id_col), F.col("vec").alias(vec_col)),
            {"centroids": P},
            id_col,
            vec_col,
        )
        .groupBy("cluster_id")
        .count()
        .collect()
    ):
        w[r.cluster_id] = r["count"]
    if d.is_cached:
        d.unpersist()
    if len(P) < k:
        # rare (tiny corpus or degenerate sampling): pad with distinct
        # hash-sampled points so Lloyd's still gets k starting centers
        pad = kmeans_init(emb, min(k, int(w.sum())), id_col, vec_col, seed + 1, normalize)
        P = np.vstack([P, pad])
        w = np.concatenate([w, np.ones(len(pad))])
    return _weighted_kmeanspp_lloyds(P, w, k, seed)


def _assign_partials(bc):
    """Per-partition combined pass: argmin assignment + per-cluster
    (sum, count) accumulation. Emits <= k rows per partition."""

    def gen(batches):
        C = None
        sums = counts = costs = None
        for pdf in batches:
            if C is None:
                C = np.asarray(bc.value, dtype=np.float64)
                sums = np.zeros_like(C)
                counts = np.zeros(len(C), dtype=np.int64)
                costs = np.zeros(len(C), dtype=np.float64)
            if not len(pdf):
                continue
            X = np.array(pdf["vec"].tolist(), dtype=np.float64)
            a, d2 = _argmin_sqdist(X, C)
            np.add.at(sums, a, X)
            np.add.at(counts, a, 1)
            np.add.at(costs, a, d2)
        if C is not None:
            hit = np.flatnonzero(counts)
            yield pd.DataFrame(
                {
                    "cluster": hit.astype(np.int32),
                    "s": list(sums[hit]),
                    "n": counts[hit],
                    "cost": costs[hit],
                }
            )

    return gen


def kmeans_fit(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 20,
    tol: float = 1e-6,
    seed: int = 42,
    normalize: bool = False,
    init: np.ndarray | str = "parallel",
) -> dict:
    """Full-corpus Lloyd's. Returns ``{"centroids": k x d float64,
    "sizes": k int64, "n_iter": int, "shift": float,
    "inertia": float (total within-cluster squared distance — the
    elbow-selection metric, measured under the returned centroids),
    "normalize": bool}``. Empty clusters keep their previous centroid
    (and report size 0). Stops when every centroid moves < ``tol``
    (L2) or at ``max_iter``. ``sizes`` are the populations under the
    RETURNED centroids (one extra counting pass after the loop — the
    in-loop counts describe the penultimate centroids and would
    disagree with ``kmeans_assign`` whenever the loop stops at
    ``max_iter``). With ``normalize=True`` this is spherical k-means:
    inputs are L2-normalized once and centroids are re-normalized
    after every mean update, so assignment order matches cosine
    similarity.

    ``init``: ``"parallel"`` (default — k-means|| seeding, the
    quality/scale choice), ``"sample"`` (deterministic hash-sampled
    corpus points — cheap, can hit split-blob local optima), or an
    explicit k x d array."""
    spark = emb.sparkSession
    d = _prep(emb, id_col, vec_col, normalize).cache()
    try:
        if isinstance(init, str):
            if init == "parallel":
                # reuse the fit's cached prepped frame — re-running
                # _prep would duplicate the full-corpus cast/normalize
                C = kmeans_parallel_init(
                    emb, k, id_col, vec_col, seed=seed, normalize=normalize,
                    _prepped=d,
                )
            elif init == "sample":
                C = kmeans_init(emb, k, id_col, vec_col, seed, normalize)
            else:
                raise ValueError(f"unknown init mode {init!r}")
        else:
            C = np.asarray(init, dtype=np.float64)
        if C.shape[0] != k:
            raise ValueError(f"init has {C.shape[0]} rows, expected k={k}")
        def reduce_pass(cent):
            """One corpus pass: per-cluster (sum vector, count, cost)
            under centroids ``cent``."""
            bc = spark.sparkContext.broadcast(cent)
            try:
                partials = d.select("vec").mapInPandas(
                    _assign_partials(bc), _PARTIAL_SCHEMA
                )
                rows = (
                    partials.select(
                        "cluster", "n", "cost", F.posexplode("s").alias("pos", "v")
                    )
                    .groupBy("cluster", "pos")
                    .agg(
                        F.sum("v").alias("sv"),
                        # n/cost repeat across a partial's d positions;
                        # count them once (pos 0) instead of a second pass
                        F.sum(F.when(F.col("pos") == 0, F.col("n"))).alias("nv"),
                        F.sum(F.when(F.col("pos") == 0, F.col("cost"))).alias("cv"),
                    )
                    .collect()
                )
            finally:
                bc.destroy()
            sums = np.zeros_like(cent)
            sz = np.zeros(k, dtype=np.int64)
            cost = 0.0
            for r in rows:
                sums[r.cluster, r.pos] = r.sv
                if r.pos == 0:
                    sz[r.cluster] = r.nv
                    cost += r.cv
            return sums, sz, cost

        shift = float("inf")
        it = 0
        while it < max_iter and shift >= tol:
            sums, sizes, _ = reduce_pass(C)
            new = C.copy()  # empty clusters keep their centroid
            hit = sizes > 0
            new[hit] = sums[hit] / sizes[hit, None]
            if normalize:
                # spherical update: centroids live on the unit sphere so
                # argmin-of-sq-dist == argmax-of-cosine; a zero mean
                # (perfectly antipodal members) keeps the old centroid
                nrm = np.linalg.norm(new[hit], axis=1)
                nz = nrm > 0
                new[np.flatnonzero(hit)[nz]] /= nrm[nz, None]
                new[np.flatnonzero(hit)[~nz]] = C[np.flatnonzero(hit)[~nz]]
            shift = float(np.sqrt(((new - C) ** 2).sum(axis=1)).max())
            C = new
            it += 1
        # exact populations + inertia under the FINAL centroids
        _, sizes, inertia = reduce_pass(C)
        return {
            "centroids": C,
            "sizes": sizes,
            "n_iter": it,
            "shift": shift,
            "inertia": inertia,
            "normalize": normalize,
        }
    finally:
        d.unpersist()


def kmeans_assign(
    emb: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cluster_id, sq_dist) for every vector under the fitted
    model — one narrow Arrow-batched pass, centroids broadcast."""
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(
        np.asarray(model["centroids"], dtype=np.float64)
    )

    def gen(batches):
        C = None
        for pdf in batches:
            if C is None:
                C = np.asarray(bc.value, dtype=np.float64)
            if not len(pdf):
                continue
            X = np.array(pdf["vec"].tolist(), dtype=np.float64)
            a, d2 = _argmin_sqdist(X, C)
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(),
                    "cluster_id": a.astype(np.int32),
                    "sq_dist": d2,
                }
            )

    return (
        _prep(emb, id_col, vec_col, bool(model.get("normalize")))
        .mapInPandas(gen, ASSIGN_SCHEMA)
        .withColumnRenamed("id", id_col)
    )


def kmeans_save(model: dict, path: str, spark=None) -> None:
    """Persist a :func:`kmeans_fit` result: one parquet row per
    centroid (cluster_id, centroid, size) plus a one-row JSON meta —
    the ``dsir_save`` layout. A k-means model is k×d floats, so this
    is kilobytes; both writes go through the Hadoop FS layer (local /
    HDFS / S3). Reuse across corpora/runs is the train-once posture
    ``semdedup(model=...)`` and ``kmeans_assign`` expect."""
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise ValueError("kmeans_save needs an active SparkSession")
    C = np.asarray(model["centroids"], dtype=np.float64)
    sizes = np.asarray(model["sizes"], dtype=np.int64)
    spark.createDataFrame(
        [
            (int(i), [float(v) for v in C[i]], int(sizes[i]))
            for i in range(len(C))
        ],
        "cluster_id int, centroid array<double>, size long",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [
            (
                1,
                bool(model.get("normalize")),
                int(model.get("n_iter", -1)),
                float(model.get("shift", float("nan"))),
                float(model.get("inertia", float("nan"))),
            )
        ],
        "format int, normalize boolean, n_iter int, shift double, "
        "inertia double",
    ).coalesce(1).write.mode("overwrite").json(f"{path}/meta")


def kmeans_load(spark, path: str) -> dict:
    """Load a model persisted by :func:`kmeans_save` —
    interchangeable with a fresh :func:`kmeans_fit` result (pinned by
    test)."""
    rows = spark.read.json(f"{path}/meta").collect()
    if len(rows) != 1:
        raise ValueError(
            f"corrupt k-means meta at {path}/meta: expected 1 row, "
            f"got {len(rows)}"
        )
    meta = rows[0].asDict()
    if meta.get("format") != 1 or "normalize" not in meta:
        raise ValueError(f"unrecognized k-means meta at {path}/meta: {meta}")
    cent = sorted(
        spark.read.parquet(f"{path}/centroids").collect(),
        key=lambda r: r.cluster_id,
    )
    if not cent or [r.cluster_id for r in cent] != list(range(len(cent))):
        raise ValueError(
            f"corrupt centroid table at {path}/centroids: ids not 0..k-1"
        )
    return {
        "centroids": np.array([r.centroid for r in cent], dtype=np.float64),
        "sizes": np.array([r.size for r in cent], dtype=np.int64),
        "n_iter": int(meta.get("n_iter", -1)),
        "shift": float(meta.get("shift", float("nan"))),
        "inertia": float(meta.get("inertia", float("nan"))),
        "normalize": bool(meta["normalize"]),
    }

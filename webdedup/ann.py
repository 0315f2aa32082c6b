"""Similarity search over embedding columns.

Brute-force cosine top-k as the correctness baseline (JVM-side zip_with /
aggregate — no Python in the loop) and an LSH-bucketed variant (random
hyperplane signs = SimHash-for-vectors) as the scale path: at 10^12 rows the
cross join is impossible; the bucketed variant turns it into an equi-join on
plane-sign blocks, the exact vector analogue of the text pipeline's LSH
bands.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

E4 = 10_000


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_norm(emb: DataFrame, col: str = "embedding") -> DataFrame:
    return emb.withColumn("_norm", F.sqrt(_dot(F.col(col), F.col(col))))


def cosine_topk(emb: DataFrame, k: int = 5, col: str = "embedding") -> DataFrame:
    """(vec_id, nn_id, cos_e4, rnk) — exact brute-force cosine top-k.

    Plays the role of the reference's exact re-rank metric
    (sparseMatrix.h:232-316 cosineSimilarity) set-at-a-time. Quadratic:
    baseline/oracle only.
    """
    e = with_norm(emb, col).select(
        F.col("vec_id"), F.col(col).alias("_v"), "_norm"
    )
    l = e.select(
        F.col("vec_id").alias("vec_id"), F.col("_v").alias("va"), F.col("_norm").alias("na")
    )
    r = e.select(
        F.col("vec_id").alias("nn_id"), F.col("_v").alias("vb"), F.col("_norm").alias("nb")
    )
    cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_e4"), F.asc("nn_id"))
    return (
        l.crossJoin(r)
        .where(F.col("vec_id") != F.col("nn_id"))
        .where((F.col("na") > 0) & (F.col("nb") > 0))
        .withColumn("cos_e4", F.floor(F.lit(float(E4)) * cos).cast("long"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("vec_id", "nn_id", "cos_e4", "rnk")
    )


def _kmeans_numpy(X: np.ndarray, k: int, iters: int = 10, seed: int = 42) -> np.ndarray:
    """Spherical k-means on a driver-side sample → (k, dim) unit centroids.

    Training on a bounded sample is the scale-correct pattern (FAISS trains
    IVF quantizers on samples, not the corpus); the sample is deterministic
    (xxhash64 order upstream) so runs are reproducible.
    """
    X = np.asarray(X, dtype=np.float64)
    n = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    rng = np.random.RandomState(seed)
    C = n[rng.choice(len(n), size=min(k, len(n)), replace=False)].copy()
    for _ in range(iters):
        assign = (n @ C.T).argmax(axis=1)
        for j in range(C.shape[0]):
            pts = n[assign == j]
            if len(pts):
                C[j] = pts.mean(axis=0)
        C /= np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    return C


def train_ivf_centroids(
    emb: DataFrame,
    n_cells: int = 32,
    col: str = "embedding",
    seed: int = 42,
    train_sample: int = 4096,
) -> np.ndarray:
    """Train the IVF coarse quantizer on a deterministic bounded sample
    (FAISS's own pattern) → (n_cells, dim) unit centroids. Exposed so the
    incremental face can train ONCE, persist the centroids, and assign
    every later snapshot against the frozen cells."""
    sample = [
        r[0]
        for r in emb.select(col)
        .orderBy(F.xxhash64(F.col("vec_id")))
        .limit(train_sample)
        .collect()
    ]
    return _kmeans_numpy(np.array(sample, dtype=np.float64), n_cells, seed=seed)


def ivf_topk(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 32,
    nprobe: int = 8,
    col: str = "embedding",
    seed: int = 42,
    train_sample: int = 4096,
    centroids: np.ndarray | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index.

    Scale path: spherical-k-means coarse quantizer (trained on a
    deterministic driver-side sample), every vector assigned to its nearest
    centroid cell, queries probe their ``nprobe`` nearest cells and re-rank
    exactly within candidates. Join volume ≈ brute-force × nprobe/n_cells;
    recall depends on the data's neighbor structure — clustered embedding
    corpora (the real 100-TB case) reach ~1.0 at small nprobe, while
    uniform-random vectors (no similarity gap) need nprobe → n_cells (see
    BASELINE.md's measured curve; this is a property of the data, not the
    index — no sublinear ANN structure can beat it on structureless data).

    Assignment/probing are Arrow-batched numpy matmuls (one (batch, dim) @
    (dim, n_cells) per batch); the candidate join + exact re-rank stay
    JVM-side.

    ``centroids`` (frozen pre-trained cells) skips training — the
    incremental partial_fit face. ``queries`` restricts the PROBING side
    to a different frame (bipartite: e.g. only a new snapshot's vectors
    query, while ``emb`` — the full store — is searched); self-pairs are
    masked by id either way.

    The self-query (``queries=None``) runs the assignment UDF in this call,
    into one eager checkpoint leaf owned by the caller's persist scope
    (webdedup.joins): materialize the result before releasing that scope.
    """
    if centroids is not None:
        C = np.asarray(centroids, dtype=np.float64)
    else:
        C = train_ivf_centroids(
            emb, n_cells=n_cells, col=col, seed=seed, train_sample=train_sample
        )
    P = min(nprobe, C.shape[0])

    _CELL_PROBE_SCHEMA = StructType(
        [
            StructField("cell", IntegerType(), False),
            StructField("probes", ArrayType(IntegerType()), False),
        ]
    )

    @pandas_udf(_CELL_PROBE_SCHEMA)
    def assign_and_probe(v: pd.Series) -> pd.DataFrame:
        # one X @ C.T serves BOTH faces: cell via argmax, probes via argsort
        X = np.array(list(v), dtype=np.float64)
        nrm = np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sim = X / nrm @ C.T
        top = np.argsort(-sim, axis=1)[:, :P].astype("int32")
        return pd.DataFrame(
            {"cell": sim.argmax(axis=1).astype("int32"), "probes": list(top)}
        )

    if queries is None:
        # self-query: the data and probe sides are the SAME vectors, so
        # one fused Arrow pass (one matmul per vector) into an eager
        # checkpoint leaf (webdedup.pipeline's caching rule) serves both
        from webdedup.joins import track_checkpoint

        both = track_checkpoint(
            emb.select(
                "vec_id", F.col(col).alias("_v"),
                assign_and_probe(F.col(col)).alias("_cp"),
            )
        )
        data = both.select("vec_id", "_v", F.col("_cp.cell").alias("cell"))
        probes = both.select(
            F.col("vec_id").alias("qid"),
            F.col("_v").alias("_q"),
            F.explode("_cp.probes").alias("cell"),
        )
    else:
        data = emb.select(
            "vec_id", F.col(col).alias("_v"),
            assign_and_probe(F.col(col)).cell.alias("cell"),
        )
        probes = queries.select(
            F.col("vec_id").alias("qid"),
            F.col(col).alias("_q"),
            F.explode(assign_and_probe(F.col(col)).probes).alias("cell"),
        )

    def _rerank(qdf: pd.DataFrame, ddf: pd.DataFrame) -> pd.DataFrame:
        # per-cell exact rerank as ONE numpy matmul (queries probing this
        # cell × vectors stored in it) — the Arrow-batched replacement for a
        # per-pair JVM expression; emits each query's top-k within the cell,
        # the global window below merges across probed cells
        if qdf.empty or ddf.empty:
            return pd.DataFrame({"vec_id": [], "nn_id": [], "cos_e4": []}).astype(
                {"vec_id": "int64", "nn_id": "int64", "cos_e4": "int64"}
            )
        Q = np.array(list(qdf["_q"]), dtype=np.float64)
        X = np.array(list(ddf["_v"]), dtype=np.float64)
        Qn = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        sim = Qn @ Xn.T
        qids = qdf["qid"].to_numpy()
        xids = ddf["vec_id"].to_numpy()
        sim[qids[:, None] == xids[None, :]] = -np.inf  # self-pairs
        kk = min(k, sim.shape[1])
        part = np.argpartition(-sim, kk - 1, axis=1)[:, :kk]
        rows_q = np.repeat(qids, kk)
        rows_n = xids[part.ravel()]
        rows_s = np.take_along_axis(sim, part, axis=1).ravel()
        keep = np.isfinite(rows_s)
        return pd.DataFrame(
            {
                "vec_id": rows_q[keep].astype("int64"),
                "nn_id": rows_n[keep].astype("int64"),
                "cos_e4": np.floor(E4 * rows_s[keep]).astype("int64"),
            }
        )

    partial = (
        probes.groupBy("cell")
        .cogroup(data.groupBy("cell"))
        .applyInPandas(_rerank, schema="vec_id long, nn_id long, cos_e4 long")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_e4"), F.asc("nn_id"))
    return (
        partial.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("vec_id", "nn_id", "cos_e4", "rnk")
    )


def _plane_matrix(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.standard_normal((dim, n_planes)).astype(np.float64)


def hyperplane_buckets(
    emb: DataFrame, dim: int, n_planes: int = 16, seed: int = 42, col: str = "embedding"
) -> DataFrame:
    """Add a random-hyperplane sign-bucket column (int) per vector.

    sign-LSH: P[same bit] = 1 - angle/pi; vectors in the same bucket of
    n_planes bits are near-neighbor candidates. Plane matrix is broadcast as
    a literal array (tiny), dot products stay JVM-side via aggregate().
    """
    planes = _plane_matrix(dim, n_planes, seed)
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in planes[:, p]])
        bit = (_dot(F.col(col), lit_plane) >= 0).cast("long")
        bucket = bucket + F.shiftleft(bit, p)
    return emb.withColumn("bucket", bucket)


def cosine_topk_lsh(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 8,
    col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: candidates from multi-table sign-LSH buckets,
    exact cosine re-rank within candidates (the fast=False two-stage shape of
    the reference, nearestNeighbors.cpp:122-190, for vectors).

    Defaults are tuned for NEAR-DUP retrieval (cos >= ~0.9 → per-bit match
    p >= 0.86 → recall 1-(1-p^6)^8 >= 0.95, measured 0.98 on planted
    clusters, tests/test_ann.py). Sign-LSH is the wrong tool for generic
    top-k over structureless vectors — use ``ivf_topk`` for that."""
    tagged = []
    for t in range(n_tables):
        b = hyperplane_buckets(emb, dim, n_planes, seed=42 + t, col=col)
        tagged.append(
            b.select("vec_id", F.col(col).alias("_v"), F.lit(t).alias("table"), "bucket")
        )
    all_b = tagged[0]
    for t in tagged[1:]:
        all_b = all_b.unionByName(t)
    l, r = all_b.alias("l"), all_b.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.table") == F.col("r.table"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vec_id") != F.col("r.vec_id")),
        )
        .select(
            F.col("l.vec_id").alias("vec_id"),
            F.col("r.vec_id").alias("nn_id"),
            F.col("l._v").alias("va"),
            F.col("r._v").alias("vb"),
        )
        .dropDuplicates(["vec_id", "nn_id"])
    )
    na = F.sqrt(_dot(F.col("va"), F.col("va")))
    nb = F.sqrt(_dot(F.col("vb"), F.col("vb")))
    cos = _dot(F.col("va"), F.col("vb")) / (na * nb)
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos_e4"), F.asc("nn_id"))
    return (
        cand.withColumn("cos_e4", F.floor(F.lit(float(E4)) * cos).cast("long"))
        .withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("vec_id", "nn_id", "cos_e4", "rnk")
    )


def semantic_dup_clusters(
    emb: DataFrame,
    dim: int,
    threshold_e4: int = 9000,
    k: int = 5,
    n_cells: int = 32,
    nprobe: int = 8,
    col: str = "embedding",
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """SemDeDup-style embedding near-duplicate clustering: IVF candidate
    pairs whose exact re-ranked cosine clears ``threshold_e4`` (floor of
    1e4·cos) become dup edges; transitive closure via the pipeline's
    hash-min connected components. Returns (vec_id, cluster_id = min
    vec_id in component) for EVERY input vector — singletons keep their
    own id, exactly like the text pipeline's cluster output.

    ``k`` bounds per-vector edge fan-out (the IVF top-k). A vector with
    more than ``k`` above-threshold neighbors still lands in the right
    cluster when the dup neighborhood is transitively connected — the
    standard SemDeDup regime — but the raw pair set itself is k-capped.

    Scale shape: inherits ivf_topk's bounded-sample training + per-cell
    matmul re-rank; the edge filter and least/greatest canonicalization
    are JVM-side; components runs O(log d) label rounds with edge-scaled
    partitions.
    """
    from webdedup.components import connected_components

    cand = ivf_topk(
        emb, dim=dim, k=k, n_cells=n_cells, nprobe=nprobe, col=col,
        centroids=centroids,
    )
    edges = (
        cand.where(F.col("cos_e4") >= int(threshold_e4))
        .select(
            F.least("vec_id", "nn_id").alias("a"),
            F.greatest("vec_id", "nn_id").alias("b"),
        )
        .dropDuplicates(["a", "b"])
    )
    verts = emb.select(F.col("vec_id").alias("id"))
    return connected_components(verts, edges).select(
        F.col("id").alias("vec_id"), "cluster_id"
    )


class IncrementalSemanticDedup:
    """Catalog-backed incremental SemDeDup: the IVF partial_fit face
    (VERDICT r4 ask #9).

    The batch :func:`semantic_dup_clusters` retrains its quantizer per
    run; at 10^12 vectors the quantizer must be TRAINED ONCE and frozen —
    every later snapshot assigns against the stored cells, mirroring the
    text pipeline's new-touching-pairs property (incremental.py): a new
    snapshot's vectors probe the frozen cells, re-rank exactly against
    everything stored there (old AND new), and only new-touching edges
    are appended. Old-old pairs are never recomputed — they were found
    when "old" was new. CC re-resolves over the full (small, O(dups))
    edge store.

    State lives in a :class:`~webdedup.catalog.Catalog` under
    ``<work_root>/semstore``:

    * ``sem_centroids`` (cell, centroid) — written once, frozen; config
      (dim, threshold, k, nprobe) committed in the same manifest swap.
    * ``sem_vectors`` (vec_id, embedding) — appended per snapshot (cells
      are recomputed from the frozen centroids at probe time).
    * ``sem_edges`` (a, b) — appended per snapshot.

    Equality contract: with the same frozen centroids, threshold, and k,
    incremental clusters == batch clusters whenever each vector's
    above-threshold neighborhood fits in ``k`` (the SemDeDup regime) —
    batch finds pair (v, n) through BOTH vectors' probes while the
    incremental path only has the later arrival's probe, so a k-capped
    top-k can drop pairs the batch keeps if a vector has > k dups (the
    clusters still usually agree via transitivity). Gated by
    tests/test_ann.py::test_incremental_semantic_matches_batch.
    """

    CENTROIDS, VECTORS, SEM_EDGES = "sem_centroids", "sem_vectors", "sem_edges"

    def __init__(
        self,
        spark,
        work_root: str,
        dim: int,
        threshold_e4: int = 9000,
        k: int = 5,
        n_cells: int = 32,
        nprobe: int = 8,
        seed: int = 42,
        col: str = "embedding",
    ):
        import os

        from webdedup.catalog import Catalog

        self.spark = spark
        self.work = Catalog(os.path.join(work_root, "semstore"))
        self.dim, self.threshold_e4, self.k = dim, int(threshold_e4), k
        self.n_cells, self.nprobe, self.seed, self.col = n_cells, nprobe, seed, col

    # ---- centroid store ----

    def _load_centroids(self) -> np.ndarray:
        rows = (
            self.work.read(self.spark, self.CENTROIDS)
            .orderBy("cell")
            .collect()
        )
        return np.array([r.centroid for r in rows], dtype=np.float64)

    def _ensure_centroids(self, emb: DataFrame) -> np.ndarray:
        if self.work.exists(self.CENTROIDS):
            return self._load_centroids()
        C = train_ivf_centroids(
            emb, n_cells=self.n_cells, col=self.col, seed=self.seed,
            train_sample=4096,
        )
        cdf = self.spark.createDataFrame(
            [(i, [float(x) for x in C[i]]) for i in range(C.shape[0])],
            "cell int, centroid array<double>",
        )
        # config frozen in the same manifest swap as the centroids: a
        # resumed run with different knobs must read the STORED ones
        self.work.append(
            self.CENTROIDS, cdf,
            meta_update={
                "dim": self.dim, "threshold_e4": self.threshold_e4,
                "k": self.k, "n_cells": self.n_cells, "nprobe": self.nprobe,
            },
        )
        return C

    # ---- partial_fit ----

    def process(self, new_emb: DataFrame, key: str | None = None) -> None:
        """Ingest one snapshot of (vec_id, embedding) rows: assign against
        frozen cells, find new-touching above-threshold pairs, append.
        ``key`` makes the ingest idempotent (catalog keyed append)."""
        if key is not None and self.work.has_key(self.VECTORS, key):
            return  # replay: snapshot already ingested
        C = self._ensure_centroids(new_emb)
        new_v = new_emb.select("vec_id", F.col(self.col).alias("embedding"))
        store = (
            self.work.read(self.spark, self.VECTORS).select("vec_id", "embedding")
            if self.work.exists(self.VECTORS)
            else None
        )
        all_v = new_v if store is None else store.unionByName(new_v)
        pairs = ivf_topk(
            all_v, dim=self.dim, k=self.k, n_cells=self.n_cells,
            nprobe=self.nprobe, col="embedding", centroids=C,
            queries=new_v,
        )
        edges = (
            pairs.where(F.col("cos_e4") >= self.threshold_e4)
            .select(
                F.least("vec_id", "nn_id").alias("a"),
                F.greatest("vec_id", "nn_id").alias("b"),
            )
            .dropDuplicates(["a", "b"])
        )
        # materialize edges BEFORE appending vectors: the edge plan reads
        # the vector store, and appending first would double-count
        self.work.append(self.SEM_EDGES, edges, key=key)
        self.work.append(self.VECTORS, new_v, key=key)

    def clusters(self) -> DataFrame:
        """(vec_id, cluster_id = min vec_id in component) over everything
        ingested so far — identical shape to semantic_dup_clusters; empty
        frame (same schema) before the first process() call."""
        from webdedup.components import connected_components

        if not self.work.exists(self.VECTORS):
            return self.spark.createDataFrame([], "vec_id long, cluster_id long")
        verts = self.work.read(self.spark, self.VECTORS).select(
            F.col("vec_id").alias("id")
        )
        edges = (
            self.work.read(self.spark, self.SEM_EDGES)
            if self.work.exists(self.SEM_EDGES)
            else self.spark.createDataFrame([], "a long, b long")
        )
        return connected_components(verts, edges.select("a", "b")).select(
            F.col("id").alias("vec_id"), "cluster_id"
        )

"""scikit-learn-shaped query surface over Spark DataFrames.

Re-expresses the reference's public API (neighbors/minHash.py:19-506,
neighbors/minHashClassifier.py, cluster/*) set-at-a-time:

* ``MinHashNeighbors.fit``            — index build (B1): featurize + band table
* ``kneighbors``                      — Q1-Q4 collision counting + tie-extended
                                        top-k, optional exact re-rank (Q7/Q9)
* ``radius_neighbors``                — Q5 (distance threshold filter)
* ``kneighbors_graph``                — O3 (symmetrized edge list)
* ``fit_kneighbors``                  — Q11 fused self-query
* ``MinHashClassifier``               — M1/M2 majority vote over neighbor labels
* ``cluster``                         — M3-equivalent: connected components over
                                        the radius graph (eps = distance cut)

Input convention: a DataFrame with an integer ``id`` column and a
``features`` column of array<long> feature ids (the reference's CSR row =
set of feature ids, SURVEY.md §1.1). Results are edge lists — the ragged
ndarray shaping of the reference (O1/O2) has no DataFrame counterpart and is
available via ``to_local_arrays`` for API parity at small scale.
"""

from __future__ import annotations

import threading

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.functions import pandas_udf

from webdedup import kernels as K
from webdedup.components import connected_components
from webdedup.config import BROADCAST_ID_LIMIT
from webdedup.joins import track_checkpoint, track_persist, track_release
from webdedup.lsh import drop_hot


def _signature_udf(
    num_hashes: int,
    rows_per_band: int,
    shingle: bool,
    hash_algorithm: int = 0,
    range_k_wta: int = 20,
):
    """(features array<long>, values array<double>) → struct(bands, fpk,
    vpk), one Python pass per row.

    bands: shingle=False gives one entry per raw signature slot (the
    reference's default shingle=0 — one hash table per hash function,
    inverseIndexStorageUnorderedMap.h:19-38); shingle=True folds the slots
    by the chained wang32 (P4). hash_algorithm=1: WTA-Hash signatures (P5)
    instead of MinHash; WTA is the one signature family that reads feature
    VALUES (inverseIndex.cpp:319-328 picks the max-value key among the
    rangeK smallest hashed keys). MinHash stays presence-only
    (inverseIndex.cpp:256), matching the reference.

    fpk / vpk: the row's ids as ``<i8`` bytes (the reference's uint64 id
    domain, exact) and its values as ``<f8`` bytes, in the given order so
    euclidean/cosine sum in the same order; vpk is null where ``values``
    is (callers without values pass a null literal and drop vpk).
    """

    @pandas_udf("bands array<bigint>, fpk binary, vpk binary")
    def sig(features: pd.Series, values: pd.Series) -> pd.DataFrame:
        ids = [np.asarray(r, dtype="<i8") for r in features]
        if hash_algorithm == 1:
            sigs = np.array(
                [K.wta_signature(r, v, num_hashes, range_k_wta)
                 for r, v in zip(ids, values)],
                dtype=np.uint32,
            ).reshape(-1, num_hashes)
        else:
            sigs = K.minhash_signatures(ids, num_hashes)
        if shingle:
            sigs = K.fold_bands(sigs, rows_per_band)
        fpk = [r.tobytes() for r in ids]
        vpk = [None if v is None else np.asarray(v, "<f8").tobytes() for v in values]
        return pd.DataFrame({"bands": list(sigs.astype(np.int64)), "fpk": fpk, "vpk": vpk})

    return sig


def _by_query(df: DataFrame) -> DataFrame:
    """``df`` hash-partitioned by query_id into one partition per core
    (``defaultParallelism``), so a query's collision count, its collision
    rank and its exact round run in one stage, one Python task per core.
    The count is not ``spark.sql.shuffle.partitions``: each Python task
    pays a fixed start (87-98 ms from submit to the function on a 4-core
    host), and 8 partitions on 4 cores ran each round in two waves.
    The exchange is the caller's own, so AQE neither coalesces it by bytes
    (which ran the rounds as 1-2 tasks on 4 cores) nor splits skewed
    partitions of it. That is acceptable because no join reads this
    partitioning, so AQE's skew split would have nothing to split, and a
    query's pairs are bounded: its collisions by the signature length
    times ``max_bin_size`` (hot buckets are dropped), its round-2 pairs by
    ``limit`` × (``limit`` + 1)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, "query_id")


def _exact_pass(metric: str, q_rows, c_rows, k: int | None):
    """mapInArrow body of an exact round over (query_id, cand_id) batches
    sorted by query_id within the partition: each pair's exact metric,
    both rows looked up by id in the broadcast ``kernels.RowTable``s
    ``q_rows`` / ``c_rows`` (kernels.table_pair_metric; reference exact
    refinement, sparseMatrix.h:231-316), as 'distance' (euclidean's square
    root taken, as the reference's output does, nearestNeighbors.cpp:357).
    With ``k`` each query keeps its top k by ``kernels.rank_cut`` with
    their 'rnk' (cosine is a similarity, ranked descending like
    mapSortDescByValueFloat, sparseMatrix.h:313; the distances ascending,
    sparseMatrix.h:269), so a query's pairs are scored and ranked in one
    pass: the last query of a batch is carried into the next, and a worker
    holds at most one batch plus one query's pairs. The kernel's scratch
    vector is allocated once a partition."""

    def score(qid, cid, scratch):
        d = K.table_pair_metric(q_rows.value, c_rows.value, qid, cid, metric, scratch)
        if metric == "euclidean":
            d = np.sqrt(d)
        cols = [qid, cid, d]
        if k is not None:
            kept, rnk = K.rank_cut(qid, cid, d, k, descending=metric == "cosine")
            cols = [qid[kept], cid[kept], d[kept], rnk.astype(np.int32)]
        return pa.RecordBatch.from_arrays(
            [pa.array(c) for c in cols], ["query_id", "cand_id", "distance", "rnk"][: len(cols)]
        )

    def run(batches):
        scratch = K.pair_scratch(q_rows.value, c_rows.value, metric)
        qid = cid = np.empty(0, np.int64)
        for b in batches:
            qid = np.concatenate([qid, b.column(0).to_numpy()])
            cid = np.concatenate([cid, b.column(1).to_numpy()])
            if qid.size:
                cut = np.searchsorted(qid, qid[-1])
                if cut:
                    yield score(qid[:cut], cid[:cut], scratch)
                qid, cid = qid[cut:], cid[cut:]
        if qid.size:
            yield score(qid, cid, scratch)

    return run


def _row_table(feat: DataFrame, name: str, vocab=None):
    """(table, vocab): feat's rows and their values, if it has them, read
    with one Arrow collect into a ``kernels.code_rows`` table coded over
    ``vocab``, else over feat's own ids, which it returns. ``name`` is for
    the repeated-id error."""
    t = feat.select("id", "fpk", *(["vpk"] if "vpk" in feat.columns else [])).toArrow()
    vpk = t["vpk"] if "vpk" in t.column_names else None
    return K.code_rows(t["id"].to_numpy(), t["fpk"], vpk, vocab, name)


class _FittedRows:
    """One fitted leaf's rows as one broadcast ``kernels.RowTable``, which
    every metric reads, built at the leaf's first exact query (the
    streaming thread may query too, hence the lock) and destroyed with the
    scope owning the leaf."""

    def __init__(self, leaf: DataFrame):
        self._leaf = leaf
        self._lock = threading.Lock()
        self._table = None  # (broadcast, vocab)
        self.n_rows = None  # the leaf's row count, once the table is built

    def get(self):
        """→ (the broadcast table, the fitted vocabulary)."""
        with self._lock:
            if self._table is None:
                table, vocab = _row_table(self._leaf, "the fitted rows (fit / partial_fit)")
                self.n_rows = table.ids.size
                self._table = self._leaf.sparkSession.sparkContext.broadcast(table), vocab
            return self._table

    def destroy(self) -> None:
        with self._lock:
            if self._table is not None:
                self._table[0].destroy()
                self._table = None


def _graph(edges: DataFrame, mode: str, symmetric: bool) -> DataFrame:
    """O3/O4: (query_id, cand_id, distance) edges → (src, dst, weight);
    symmetric=True averages the two directed weights ((w_ij+w_ji)/2,
    parsePythonToCpp.h:206-221); mode='connectivity' sets weight 1.0."""
    e = edges.select(
        F.col("query_id").alias("src"), F.col("cand_id").alias("dst"), "distance"
    )
    if symmetric:
        e = (
            e.unionByName(
                e.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "distance")
            )
            .groupBy("src", "dst")
            .agg(F.avg("distance").alias("distance"))
        )
    weight = F.lit(1.0) if mode == "connectivity" else F.col("distance")
    return e.select("src", "dst", weight.alias("weight"))


class MinHashNeighbors:
    """Approximate nearest neighbors over sparse feature-id sets.

    Parameter names mirror the reference constructor (minHash.py:106-111);
    ``shingle_size`` is the reference's signature-fold width (= LSH rows per
    band when ``shingle=1``). ``minimal_blocks_in_common`` is accepted and
    ignored — it is a dead parameter in the reference too (stored at
    inverseIndex.cpp:56, never read at query time; SURVEY.md §5).
    """

    def __init__(
        self,
        n_neighbors: int = 5,
        radius: float = 1.0,
        fast: bool = False,
        number_of_hash_functions: int = 400,
        max_bin_size: int = 50,
        shingle_size: int = 4,
        shingle: int = 0,
        excess_factor: int = 5,
        similarity: bool = False,
        minimal_blocks_in_common: int = 1,  # dead parameter, reference parity
        hash_algorithm: int = 0,            # 0 = MinHash (P3), 1 = WTA-Hash (P5)
        rangeK_wta: int = 20,
        store_value_with_least_sigificant_bit: int = 0,  # P7 (typo = reference's)
        metric: str | None = None,
    ):
        """``metric`` selects the exact refinement metric for fast=False
        (reference Q7/Q9, nearestNeighbors.cpp:150-190):

        * ``'euclidean'`` — SQUARED euclidean over (feature, value) rows,
          the reference's similarity=0 default (sparseMatrix.h:231-272).
        * ``'cosine'``    — cosine similarity, what similarity=1 selects
          (sparseMatrix.h:274-316). 'distance' outputs hold the similarity
          score; ranking is descending.
        * ``'jaccard'``   — 1 - Jaccard over the id sets (dedup-native).
        * ``None`` (default) — auto: cosine if ``similarity=True``
          (reference parity), else euclidean when the fitted data carries a
          ``values`` column (reference parity for weighted CSR input), else
          jaccard (presence-only dedup default; documented deviation — the
          reference would return |A|+|B|-2|A∩B| for binary rows).
        """
        if shingle and number_of_hash_functions % shingle_size != 0:
            raise ValueError(
                "number_of_hash_functions must be divisible by shingle_size "
                "when shingle=1 (band fold width, inverseIndex.cpp:70-79)"
            )
        if metric not in (None, "jaccard", "euclidean", "cosine"):
            raise ValueError(f"unknown metric {metric!r}")
        self.n_neighbors = n_neighbors
        self.radius = radius
        self.fast = fast
        self.number_of_hash_functions = number_of_hash_functions
        self.max_bin_size = max_bin_size
        self.shingle_size = shingle_size
        self.shingle = shingle
        self.excess_factor = excess_factor
        self.similarity = similarity
        self.hash_algorithm = hash_algorithm
        self.rangeK_wta = rangeK_wta
        self.lsb_bits = store_value_with_least_sigificant_bit
        self.metric = metric
        self._index: DataFrame | None = None   # (id, slot, hash) bucket rows
        self._fitted: DataFrame | None = None  # (id, bands, fpk[, vpk])
        self._rows: _FittedRows | None = None  # _fitted as a broadcast table
        self._labels: DataFrame | None = None
        self._released = False  # the scope owning the fitted leaf was released
        self._has_values = False
        self._sig_len = (
            number_of_hash_functions // shingle_size if shingle else number_of_hash_functions
        )

    def _resolved_metric(self) -> str:
        """similarity=True forces cosine (nearestNeighbors.cpp:155-157);
        otherwise the explicit metric, else euclidean for valued data
        (reference default) / jaccard for presence-only data."""
        if self.similarity:
            return "cosine"
        if self.metric is not None:
            return self.metric
        return "euclidean" if self._has_values else "jaccard"

    # ---------------- index build (B1) ----------------

    def _featurize(self, X: DataFrame) -> DataFrame:
        """X → (id, bands, fpk[, vpk]); vpk only when X has ``values``."""
        has_values = "values" in X.columns
        udf = _signature_udf(
            self.number_of_hash_functions,
            self.shingle_size,
            bool(self.shingle),
            self.hash_algorithm,
            self.rangeK_wta,
        )
        values = F.col("values") if has_values else F.lit(None).cast("array<double>")
        return X.select("id", udf("features", values).alias("_s")).select(
            "id", "_s.bands", "_s.fpk", *(["_s.vpk"] if has_values else [])
        )

    def _query_feat(self, X: DataFrame | None) -> DataFrame:
        """The fitted leaf for a self-query (X=None), else X featurized.
        With fast=False two readers take X's signature UDF output, the query
        table's collect (``_query_rows``) and the collision join, so it is
        cached in the caller's persist scope."""
        if X is None:
            return self._fitted
        return self._featurize(X) if self.fast else track_persist(self._featurize(X))

    def _build_index(self, feat: DataFrame) -> DataFrame:
        idx = feat.select("id", F.posexplode("bands").alias("slot", "hash"))
        if self.lsb_bits > 0:
            # P7 LSB subsampling: only index hash values whose low v bits are
            # all ones (inverseIndexStorageUnorderedMap.cpp:50-56)
            mask = (1 << self.lsb_bits) - 1
            idx = idx.where(F.col("hash").bitwiseAND(F.lit(mask)) == F.lit(mask))
        return idx

    def _set_fitted(self, feat: DataFrame) -> None:
        """Make ``feat`` the fitted data: one eager checkpoint leaf owned by
        the caller's persist scope, with the index rebuilt over it and a
        fresh row table for the exact re-rank. Releasing that scope destroys
        the table's broadcast and un-fits the model unless a later leaf
        replaced this one."""
        leaf = track_checkpoint(feat)
        rows = _FittedRows(leaf)
        self._fitted, self._rows, self._released = leaf, rows, False
        self._index = self._build_index(leaf)

        def unfit():
            rows.destroy()
            if self._fitted is leaf:
                self._fitted = self._index = self._rows = None
                self._released = True

        track_release(unfit)

    def _check_fitted(self) -> None:
        if self._released:
            raise RuntimeError(
                "the fitted data was released with the persist scope that owned "
                "it (scope.release() / release_persisted()); fit again"
            )
        if self._fitted is None:
            raise RuntimeError("fit first")

    def fit(self, X: DataFrame, y: DataFrame | None = None) -> "MinHashNeighbors":
        """X: (id long, features array<long>[, values array<double>]);
        y: optional (id, label). ``values`` is the reference CSR ``data``
        array aligned with ``features`` — read by WTA signatures and the
        euclidean/cosine exact refinement; MinHash ignores it.

        Runs the featurize job now; its output is an eager checkpoint leaf
        in the caller's persist scope, and releasing that scope un-fits the
        model. In a loop use one ``scoped_persists()`` per fit and its
        queries, released once their results are materialized.

        Row ids must be unique, also across ``partial_fit`` calls: the
        exact re-rank looks rows up by id, and the first fast=False query
        raises ``ValueError`` naming the fitted rows and a repeated id.
        That query collects the fitted rows once into a broadcast row
        table; ``kneighbors`` gives its size limit."""
        self._has_values = "values" in X.columns
        self._set_fitted(self._featurize(X))
        self._labels = y
        return self

    def partial_fit(self, X: DataFrame, y: DataFrame | None = None) -> "MinHashNeighbors":
        """Append new rows to the fitted index (reference S2) — a union, no
        reallocation (append-only snapshots at scale, SURVEY.md §1.2),
        checkpointed as the new fitted leaf. X must not repeat a fitted id
        (see ``fit``)."""
        if self._fitted is None and not self._released:
            return self.fit(X, y)
        self._check_fitted()
        self._set_fitted(self._fitted.unionByName(self._featurize(X)))
        if y is not None and self._labels is not None:
            self._labels = self._labels.unionByName(y)
        return self

    # ---------------- index maintenance (B3/B4/B6) ----------------

    def prune(self, n: int = 1) -> "MinHashNeighbors":
        """B3: delete every bucket with <= n members
        (inverseIndexStorageUnorderedMap.cpp:162-187)."""
        sizes = self._index.groupBy("slot", "hash").agg(F.count("*").alias("c"))
        keep = sizes.where(F.col("c") > n).select("slot", "hash")
        self._index = self._index.join(keep, ["slot", "hash"], "left_semi")
        return self

    def remove_weak_slots(self, n: int = 0) -> "MinHashNeighbors":
        """B4: drop every signature slot whose table has < n distinct hash
        values; n=0 ⇒ below mean+stddev over slots
        (inverseIndexStorageUnorderedMap.cpp:192-236)."""
        per_slot = self._index.groupBy("slot").agg(
            F.countDistinct("hash").alias("nvals")
        )
        if n == 0:
            stats = per_slot.agg(
                F.avg("nvals").alias("mu"), F.stddev_pop("nvals").alias("sd")
            ).collect()[0]
            n = (stats["mu"] or 0) + (stats["sd"] or 0)
        keep = per_slot.where(F.col("nvals") >= F.lit(n)).select("slot")
        self._index = self._index.join(F.broadcast(keep), ["slot"], "left_semi")
        return self

    def index_stats(self) -> DataFrame:
        """B6: per-slot distribution stats — (slot, n_hash_values,
        mean_bucket_size, stddev_bucket_size), the reference's
        distribution_of_inverse_index (minHash.py:495-499)."""
        sizes = self._index.groupBy("slot", "hash").agg(F.count("*").alias("c"))
        return sizes.groupBy("slot").agg(
            F.count("*").alias("n_hash_values"),
            F.avg("c").alias("mean_bucket_size"),
            F.coalesce(F.stddev_pop("c"), F.lit(0.0)).alias("stddev_bucket_size"),
        )

    # ---------------- persistence (S4) ----------------

    def save(self, path: str) -> None:
        """Persist the fitted data (id, bands, fpk[, vpk]) and config to
        parquet + JSON — the partial_fit-able on-disk form of the model."""
        import json
        import os

        self._check_fitted()
        self._fitted.write.mode("overwrite").parquet(os.path.join(path, "fitted"))
        if self._labels is not None:
            self._labels.write.mode("overwrite").parquet(os.path.join(path, "labels"))
        cfg = {
            k: getattr(self, k)
            for k in (
                "n_neighbors", "radius", "fast", "number_of_hash_functions",
                "max_bin_size", "shingle_size", "shingle", "excess_factor",
                "similarity", "hash_algorithm", "rangeK_wta", "lsb_bits",
                "metric",
            )
        }
        with open(os.path.join(path, "config.json"), "w") as f:
            json.dump(cfg, f)

    @classmethod
    def load(cls, spark, path: str) -> "MinHashNeighbors":
        import json
        import os

        with open(os.path.join(path, "config.json")) as f:
            cfg = json.load(f)
        lsb = cfg.pop("lsb_bits")
        obj = cls(**cfg, store_value_with_least_sigificant_bit=lsb)
        feat = spark.read.parquet(os.path.join(path, "fitted"))
        if "fpk" not in feat.columns:
            raise ValueError(
                f"{path}: the fitted data has no 'fpk' column (packed feature "
                "ids); it was saved in an older layout — re-fit and save again"
            )
        obj._has_values = "vpk" in feat.columns
        obj._set_fitted(feat)
        lab = os.path.join(path, "labels")
        if os.path.exists(lab):
            obj._labels = spark.read.parquet(lab)
        return obj

    # ---------------- query (Q1-Q9) ----------------

    def _collisions(self, query_feat: DataFrame) -> DataFrame:
        """Q2: equi-join on (slot, hash) + collision count per (query, cand).

        Hot buckets (>= max_bin_size members on the INDEX side) are skipped
        entirely at query time, matching inverseIndex.cpp:555's bucket-size
        guard with B2 tombstone semantics.
        """
        idx_ok = drop_hot(self._index, ["slot", "hash"], self.max_bin_size).select(
            F.col("id").alias("cand_id"), "slot", "hash"
        )
        q = query_feat.select(
            F.col("id").alias("query_id"), F.posexplode("bands").alias("slot", "hash")
        )
        # reference parity: slots whose signature value is 0 or MAX_VALUE are
        # skipped at query time (inverseIndex.cpp:530-561 hashID guard)
        q = q.where(
            (F.col("hash") != 0) & (F.col("hash") != F.lit(0xFFFFFFFF))
        )
        return (
            q.join(idx_ok, ["slot", "hash"])
            .transform(_by_query)
            .groupBy("query_id", "cand_id")
            .agg(F.count("*").alias("collisions"))
        )

    def _approx_neighbors(self, query_feat: DataFrame, k: int, cut: bool) -> DataFrame:
        """Q2-Q4: collision counting → distance transform → tie-extended top-k.

        distance = 1 - collisions / sig_len (Q3, inverseIndex.cpp:626-633
        with maximal collisions = number of indexed slots); top
        k·excess_factor kept by rank() so boundary ties extend the cut
        (Q4, inverseIndex.cpp:586-617).
        """
        col = self._collisions(query_feat)
        if cut:
            col = col.where(F.col("query_id") != F.col("cand_id"))
        dist = 1.0 - F.col("collisions") / F.lit(float(self._sig_len))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("collisions"), F.asc("cand_id")
        )
        return (
            col.withColumn("distance", dist)
            .withColumn("rnk", F.rank().over(w))
            .where(F.col("rnk") <= k * self.excess_factor)
        )

    def _query_rows(self, query_feat: DataFrame):
        """The broadcast row table of the query side of the exact re-rank:
        the fitted leaf's own for a self-query; else one built now from the
        featurized X, coded over the fitted vocabulary, and destroyed with
        the caller's persist scope."""
        metric = self._resolved_metric()
        if query_feat is self._fitted:
            return self._rows.get()[0]
        q_has_values = "vpk" in query_feat.columns
        if metric in ("euclidean", "cosine") and q_has_values != self._has_values:
            # mirrors the reference's single-CSR-format contract: fit and
            # query share one (indices, data) layout. Silently substituting
            # ones for the missing side computes euclidean/cosine between
            # weighted candidates and implicitly-binary queries — plausible-
            # looking but inconsistent vectors (ADVICE r2).
            raise ValueError(
                f"fit data has_values={self._has_values} but query data "
                f"has_values={q_has_values}; {metric} needs one consistent "
                "CSR format — add/drop the 'values' column on the query side"
            )
        table, _ = _row_table(query_feat, "the query X", self._rows.get()[1])
        rows = self._fitted.sparkSession.sparkContext.broadcast(table)
        track_release(rows.destroy)
        return rows

    def _exact_rerank(self, cand: DataFrame, q_rows, k: int | None) -> DataFrame:
        """Q7/Q9: (query_id, cand_id, distance[, rnk]) — the exact metric of
        ``cand``'s pairs and, with ``k``, each query's top k by it (rank()
        semantics, ties in (distance, cand_id) extend the cut); k=None keeps
        every pair (Q5). One ``mapInArrow`` pass (``_exact_pass``) per
        partition, after an in-partition sort by query_id and no exchange:
        ``cand`` must come partitioned by query_id, as ``_collisions`` and
        round 2 leave it.

        Metric per ``_resolved_metric`` — squared euclidean / cosine over
        (feature, value) rows exactly like the reference's refinement
        (nearestNeighbors.cpp:150-190 → sparseMatrix.h:231-316), or Jaccard
        for the presence-only dedup default — looking both rows of a pair
        up in broadcast row tables (query side ``q_rows``, see
        ``_query_rows``); only the ids cross the Python boundary.
        ``kneighbors`` runs it twice on the default path: over the LSH
        candidates (round 1) and over round 1 plus its
        neighbor-of-neighbor pairs (Q8 + round 2).
        """
        metric = self._resolved_metric()
        schema = "query_id long, cand_id long, distance double" + (
            ", rnk int" if k is not None else ""
        )
        body = _exact_pass(metric, q_rows, self._rows.get()[0], k)
        return (
            cand.select("query_id", "cand_id")
            .sortWithinPartitions("query_id")
            .mapInArrow(body, schema)
        )

    def kneighbors(
        self,
        X: DataFrame | None = None,
        n_neighbors: int | None = None,
        neighbor_of_neighbor: bool = True,
    ) -> DataFrame:
        """→ (query_id, cand_id, distance, rnk) edge list.

        X=None queries the fitted data against itself with self-edges
        dropped (cutFirstValue semantics, parsePythonToCpp.h:110-180).

        fast=False runs the reference's full chain: exact round 1 over LSH
        candidates capped at limit_neighbors_of_neighbors=100
        (nearestNeighbors.cpp:86-89), neighbor-of-neighbor expansion through
        the fitted data's own round-1 edges (Q8, :229-315 — set-at-a-time
        instead of demand-memoized), then exact round-2 re-rank to top k
        (Q9, :326-382). Disable the expansion with
        ``neighbor_of_neighbor=False``.

        fast=False caches the featurized X (see ``_query_feat``), its row
        table (see ``_query_rows``) and, with the expansion, the round-1
        edge table in the CALLER's persist scope. In a loop use one
        ``scoped_persists()`` per call, released once the result is
        materialized (a release also un-fits a model fitted inside that
        scope).

        Each round moves its pairs by query_id once, into one partition
        per core (``_by_query``), in place of the exchanges Spark would
        plan for the pair count and a rank window; the collision count,
        the collision rank and round 1 then run in one stage, and round 2
        dedupes, scores and ranks in one. Each round's exact pass is one
        ``mapInArrow`` per partition (``_exact_rerank``). That exchange is
        of the caller's origin, which AQE neither coalesces nor splits for
        skew; no join reads its partitioning, so there is no skewed join
        to split, and a query's pairs are bounded by ``limit``. The
        neighbor-of-neighbor join broadcasts the fitted rows' round-1
        pairs when their bound, fitted rows × ``limit``, is within
        ``config.BROADCAST_ID_LIMIT``, and is left to AQE above it.

        The exact rounds look both rows of each (query_id, cand_id) pair
        up in broadcast row tables: one per fitted leaf, built at its
        first fast=False query, and one per call for an explicit X. Each
        is built from one Arrow collect of that side's packed rows (8 bytes
        an id, 16 with ``values``), so they must fit in
        ``spark.driver.maxResultSize`` and the driver (Spark's own collect
        error above that), and that side's ids must be unique. Each Python
        worker loads the tables, whatever the metric: the smallest
        unsigned int that holds the fitted vocabulary's size an id (2
        bytes up to 65,535 distinct ids), plus 8 bytes an id for a value
        and 8 a row for its squared norm when the rows have ``values``.
        There is no join fallback. On generated pages (4-core host, fit +
        kneighbors, the packed-row joins these tables replaced → the
        tables) the tables were faster at every size measured, with peak
        memory inside the joins' range: self-query 20,000 pages 14.3-17.1 → 8.9-9.8 s; 200,000 pages (82.6M ids: 631
        MB collected, a 162 MB table) 37.9-49.2 → 31.0-33.2 s at 7.4-8.4
        vs 7.6-8.0 GB; fit on 2,000 pages, X of 20,000 39.3-39.4 → 18.9-21.2 s.
        """
        self._check_fitted()
        k = n_neighbors or self.n_neighbors
        self_query = X is None
        qf = self._query_feat(X)
        approx = self._approx_neighbors(qf, k, cut=self_query)
        if self.fast:
            # _approx_neighbors already ranks by (collisions desc, cand_id)
            return approx.where(F.col("rnk") <= k).select(
                "query_id", "cand_id", "distance", "rnk"
            )
        # limit_neighbors_of_neighbors = min(100, n + excess) — note PLUS,
        # not times (nearestNeighbors.cpp:86-89)
        limit = min(100, k + self.excess_factor)
        q_rows = self._query_rows(qf)
        round1 = self._exact_rerank(approx, q_rows, limit)
        if not neighbor_of_neighbor:
            return round1.where(F.col("rnk") <= k)
        # round1 feeds BOTH sides of the 2-hop join AND the candidate union
        # below — without a cache the whole round-1 subtree (collision join
        # + exact pass) executes three times (measured 26.6 s → 15.1 s
        # at the 200k bench corpus). A checkpoint leaf here ran the same jobs
        # with +2.4 % shuffle (kneighbors_5k seed 1), so it stays a cache.
        round1 = track_persist(round1)
        if self_query:
            base = round1
        else:
            base = self._exact_rerank(
                self._approx_neighbors(self._fitted, limit, cut=True),
                self._query_rows(self._fitted),
                limit,
            )
        # base holds at most limit pairs a fitted row: broadcast it when that
        # bound is within BROADCAST_ID_LIMIT. Left to AQE, the join was
        # planned sort-merge in the runs where a round-1 cache scan had not
        # reported its size yet, and one side was shuffled before the switch
        # to a broadcast: one more job and 4 % more shuffle at kneighbors_5k.
        mids = base.select(F.col("query_id").alias("_mid"), F.col("cand_id"))
        if self._rows.n_rows * limit <= BROADCAST_ID_LIMIT:
            mids = F.broadcast(mids)
        hop2 = (
            round1.select("query_id", F.col("cand_id").alias("_mid"))
            .join(mids, "_mid")
            .select("query_id", "cand_id")
        )
        cand2 = (
            round1.select("query_id", "cand_id")
            .unionByName(hop2)
            .transform(_by_query)
            .dropDuplicates(["query_id", "cand_id"])
        )
        if self_query:
            # 2-hop reintroduces A→B→A self-pairs; drop BEFORE the top-k
            # rank so self never consumes a neighbor slot
            cand2 = cand2.where(F.col("query_id") != F.col("cand_id"))
        return self._exact_rerank(cand2, q_rows, k)

    def radius_neighbors(self, X: DataFrame | None = None, radius: float | None = None) -> DataFrame:
        """Q5: all neighbors within a distance radius (no k cut).

        For distance metrics (jaccard/euclidean) keeps distance <= radius
        (nearestNeighbors.cpp:175-180). For cosine the radius is a
        SIMILARITY floor: keeps score >= radius — deliberate deviation from
        the reference, whose desc-sorted `val <= pRadius → push else break`
        loop (nearestNeighbors.cpp:172-181) drops everything for any
        meaningful similarity radius; a floor is the semantics its callers
        would want. fast=False with an explicit X caches it featurized and
        its row table in the CALLER's persist scope, as ``kneighbors`` does;
        X's packed rows must then fit in ``spark.driver.maxResultSize`` and
        its ids must be unique (see ``kneighbors``).
        """
        self._check_fitted()
        r = radius if radius is not None else self.radius
        self_query = X is None
        qf = self._query_feat(X)
        approx = self._approx_neighbors(qf, k=2**31 - 1, cut=self_query)
        if self.fast:
            return approx.where(F.col("distance") <= r).select(
                "query_id", "cand_id", "distance"
            )
        metric = self._resolved_metric()
        gate = (
            F.col("distance") >= r if metric == "cosine" else F.col("distance") <= r
        )
        return (
            self._exact_rerank(approx, self._query_rows(qf), None)
            .where(gate)
            .select("query_id", "cand_id", "distance")
        )

    def kneighbors_graph(
        self,
        X: DataFrame | None = None,
        n_neighbors: int | None = None,
        mode: str = "distance",
        symmetric: bool = True,
    ) -> DataFrame:
        """O3: (src, dst, weight) k-NN graph, see :func:`_graph`."""
        return _graph(self.kneighbors(X, n_neighbors), mode, symmetric)

    def radius_neighbors_graph(
        self, X: DataFrame | None = None, radius: float | None = None,
        mode: str = "distance", symmetric: bool = True,
    ) -> DataFrame:
        """O4: (src, dst, weight) radius graph, see :func:`_graph`."""
        return _graph(self.radius_neighbors(X, radius), mode, symmetric)

    def fit_kneighbors(self, X: DataFrame, n_neighbors: int | None = None) -> DataFrame:
        """Q11 fused fit + self-query."""
        return self.fit(X).kneighbors(None, n_neighbors)

    def fit_kneighbors_graph(
        self, X: DataFrame, n_neighbors: int | None = None,
        mode: str = "distance", symmetric: bool = True,
    ) -> DataFrame:
        """Fused fit + k-NN self-graph
        (nearestNeighbors_PythonInterface.cpp:265-363 family)."""
        return self.fit(X).kneighbors_graph(None, n_neighbors, mode, symmetric)

    def fit_radius_neighbors(self, X: DataFrame, radius: float | None = None) -> DataFrame:
        """Fused fit + radius self-query
        (nearestNeighbors_PythonInterface.cpp:388)."""
        return self.fit(X).radius_neighbors(None, radius)

    def fit_radius_neighbors_graph(
        self, X: DataFrame, radius: float | None = None,
        mode: str = "distance", symmetric: bool = True,
    ) -> DataFrame:
        """Fused fit + radius self-graph
        (nearestNeighbors_PythonInterface.cpp:389)."""
        return self.fit(X).radius_neighbors_graph(None, radius, mode, symmetric)

    def cluster(self, eps: float = 0.5, min_samples: int = 1) -> DataFrame:
        """M3: DBSCAN over the radius graph → (id, cluster_id).

        min_samples matches sklearn DBSCAN semantics as used by the
        reference's MinHashDBSCAN wrapper (cluster/minHashDBSCAN.py:21,47):
        a point is CORE iff its eps-neighborhood (including itself) has
        >= min_samples points; clusters = connected components over
        core-core edges; BORDER points (non-core within eps of a core)
        adopt the min cluster label among their core neighbors (sklearn's
        assignment is scan-order-dependent — we pin the deterministic min);
        remaining points are NOISE with cluster_id = -1.

        min_samples <= 1 degenerates to pure connectivity with singletons
        labeled by their own id (the engine's dedup-native default; sklearn
        min_samples=1 would likewise make every point core).

        min_samples >= 2 runs the radius query now, as one eager checkpoint
        leaf in the caller's persist scope, which may also own the connected
        components labels. Release it (one ``scoped_persists()`` per call in
        a loop) only after the labels are materialized.
        """
        edges = self.radius_neighbors(None, radius=eps).select(
            F.col("query_id").alias("a"), F.col("cand_id").alias("b")
        )
        verts = self._fitted.select(F.col("id"))
        if min_samples <= 1:
            return connected_components(verts, edges)
        # three subtrees read this Python pass's output: one eager leaf in the
        # caller's scope; core is a cheap aggregate over it
        edges = track_checkpoint(edges)
        # radius_neighbors self-query emits both directions of every pair
        # (collision join + symmetric metric), so out-degree == eps-degree
        deg = edges.groupBy("a").agg(F.count("*").alias("_deg"))
        core = deg.where(F.col("_deg") >= min_samples - 1).select(
            F.col("a").alias("id")
        )
        core_edges = (
            edges.join(core.withColumnRenamed("id", "a"), "a", "left_semi")
            .join(core.withColumnRenamed("id", "b"), "b", "left_semi")
            .select("a", "b")
        )
        core_labels = connected_components(core, core_edges)
        # border points: non-core touching >= 1 core → min core-neighbor label
        border = (
            edges.join(core.withColumnRenamed("id", "a"), "a", "left_anti")
            .join(
                core_labels.withColumnRenamed("id", "b"), "b"
            )
            .groupBy("a")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .select(F.col("a").alias("id"), "cluster_id")
        )
        labeled = core_labels.unionByName(border)
        return verts.join(labeled, "id", "left").select(
            "id", F.coalesce("cluster_id", F.lit(-1)).alias("cluster_id")
        )

    def to_local_arrays(self, edges: DataFrame, k: int):
        """O1 shaping for small results: rectangular (ids, distances) lists
        padded with -1 / 0.0 like parsePythonToCpp.h:110-180."""
        rows = edges.orderBy("query_id", "rnk", "cand_id").collect()
        by_q: dict = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append((r["cand_id"], r["distance"]))
        ids, dists = [], []
        for q in sorted(by_q):
            ns = by_q[q][:k]
            pad = k - len(ns)
            ids.append([n for n, _ in ns] + [-1] * pad)
            dists.append([d for _, d in ns] + [0.0] * pad)
        return ids, dists


class MinHashClassifier(MinHashNeighbors):
    """M1/M2: k-NN majority-vote classifier over the MinHash index."""

    def fit(self, X: DataFrame, y: DataFrame) -> "MinHashClassifier":
        if y is None:
            raise ValueError("classifier needs labels (id, label)")
        super().fit(X, y)
        return self

    def _votes(self, X: DataFrame | None, n_neighbors: int | None) -> DataFrame:
        """(query_id, label, v): neighbor count per label per query."""
        lab = self._labels.select(F.col("id").alias("cand_id"), "label")
        return (
            self.kneighbors(X, n_neighbors)
            .join(lab, "cand_id")
            .groupBy("query_id", "label")
            .agg(F.count("*").alias("v"))
        )

    def predict(self, X: DataFrame | None = None, n_neighbors: int | None = None) -> DataFrame:
        """→ (query_id, label): mode over neighbor labels; deterministic
        tie-break = smallest label (Counter.most_common order is
        insertion-dependent in the reference; we pin it). fast=False with
        an explicit X collects X's packed rows into a row table per call:
        they must fit in ``spark.driver.maxResultSize`` and X's ids must
        be unique (see ``kneighbors``)."""
        votes = self._votes(X, n_neighbors)
        w = Window.partitionBy("query_id").orderBy(F.desc("v"), F.asc("label"))
        return (
            votes.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") == 1)
            .select("query_id", "label")
        )

    def predict_proba(self, X: DataFrame | None = None, n_neighbors: int | None = None) -> DataFrame:
        """→ (query_id, label, proba) label vote frequencies."""
        votes = self._votes(X, n_neighbors)
        tot = votes.groupBy("query_id").agg(F.sum("v").alias("t"))
        return votes.join(tot, "query_id").select(
            "query_id", "label", (F.col("v") / F.col("t")).alias("proba")
        )

    def score(self, X: DataFrame, y: DataFrame) -> float:
        """Accuracy of predict(X) against (id, label)."""
        pred = self.predict(X)
        truth = y.select(F.col("id").alias("query_id"), F.col("label").alias("truth"))
        j = pred.join(truth, "query_id")
        n, hits = j.agg(
            F.count("*"), F.count_if(F.col("label") == F.col("truth"))
        ).first()
        return hits / n if n else 0.0

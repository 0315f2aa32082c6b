"""Checkpoint-resumable incremental dedup over catalog snapshots.

North-rule requirement: "checkpoint-resumable per Iceberg snapshot with
per-partition lineage and counters". Each source snapshot is processed
exactly once (the set-oriented ``partial_fit``, reference S2 /
sparseMatrix.h:187-231 — append, never reallocate):

1. new docs → fingerprint; exact dups of *known* texts short-circuit to an
   exact edge (compute-once-per-unique-row, inverseIndex.cpp:442-464)
2. new unique docs → featurize → appended to the features store
3. LSH/SimHash candidates restricted to pairs touching >= 1 new doc
   (old-old pairs were found when "old" was new)
4. verify → edges appended; connected components re-resolved over the full
   edge store (cheap: edges ~ O(dups), not O(corpus))
5. state.json advanced ONLY after outputs land; a crash mid-run leaves
   state behind and the next run rolls the work stores back to the last
   committed state before reprocessing (idempotent resume).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, functions as F

from webdedup import lsh, verify
from webdedup.catalog import Catalog
from webdedup.components import connected_components
from webdedup.config import DedupConfig
from webdedup.joins import (
    scoped_persists, semi_join_ids, track_checkpoint, track_persist,
)
from webdedup.metrics import PipelineMetrics, partition_lineage
from webdedup.signatures import featurize
from webdedup.substring import substring_pairs

DOCS = "docs"          # (doc_id, url, fingerprint, src_snapshot)
FEATURES = "features"  # (doc_id, text, shingles, bands, simhash, n_shingles, src_snapshot)
EDGES = "edges"        # (a, b, jaccard, kind, src_snapshot)


class IncrementalDedup:
    def __init__(
        self,
        spark: SparkSession,
        source: Catalog,
        work_root: str,
        cfg: DedupConfig | None = None,
    ):
        self.spark = spark
        self.source = source
        self.cfg = cfg or DedupConfig()
        self.work = Catalog(os.path.join(work_root, "store"))
        self.work_root = work_root
        os.makedirs(work_root, exist_ok=True)
        self.state_path = os.path.join(work_root, "state.json")

    # ---- state ----

    def _state(self) -> dict:
        if not os.path.exists(self.state_path):
            return {"processed_snapshot": None, "work_snaps": {}}
        with open(self.state_path) as f:
            return json.load(f)

    def _commit_state(self, st: dict) -> None:
        tmp = self.state_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(st, f, indent=1)
        os.replace(tmp, self.state_path)

    def _rollback_partial(self, st: dict) -> None:
        """Remove any work-store snapshots not recorded in committed state
        (debris from a run that died before its state commit)."""
        committed = {
            t: max(
                (v[t] for v in st["work_snaps"].values() if t in v),
                default=None,
            )
            for t in (DOCS, FEATURES, EDGES)
        }
        for t in (DOCS, FEATURES, EDGES):
            if not self.work.exists(t):
                continue
            keep = committed[t]
            m = self.work._load(t)
            bad = [s for s in m["snapshots"] if keep is None or s["id"] > keep]
            if not bad:
                continue
            for s in bad:
                for fdir in {os.path.dirname(f) for f in s["files"]}:
                    shutil.rmtree(fdir, ignore_errors=True)
            m["snapshots"] = [s for s in m["snapshots"] if s not in bad]
            m["current"] = keep
            self.work._store(t, m)

    # ---- main ----

    def process(self, table: str = "pages", text_col: str = "text") -> dict | None:
        """Process all unprocessed source snapshots; returns run metrics or
        None when already up to date. Safe to re-run after a crash.

        All caches this run persists (explicit + helper-tracked) are scoped
        to the run and released before returning — a concurrent dedup()'s
        caches in the same driver are never evicted (ADVICE r3)."""
        with scoped_persists() as scope:
            try:
                return self._process_impl(table, text_col)
            finally:
                # every output is on disk by the time _process_impl returns
                # (or the run failed); drop this run's caches so a long-lived
                # driver (streaming continuous mode) doesn't accumulate
                # MEMORY_AND_DISK blocks per micro-batch without bound
                scope.release()

    def _process_impl(self, table: str, text_col: str) -> dict | None:
        cfg = self.cfg
        st = self._state()
        cur = self.source.current_snapshot(table)
        last = st["processed_snapshot"]
        if cur is None or cur == last:
            return None
        self._rollback_partial(st)

        mx = PipelineMetrics()
        new = self.source.read_incremental(
            self.spark, table, after=last, upto=cur, snapshot_col="src_snapshot"
        )
        new = mx.observe(new, "pages_in")
        # doc identity = one CRAWL EVENT of a url, keyed (url, snapshot):
        # a recrawled url whose text changed must not collide with its old
        # row (a bare xxhash64(url) id would accumulate two different
        # fingerprint/shingle rows under one id, corrupting verify joins and
        # cluster labels). A recrawl with identical text links to the old
        # representative through the exact-dup path like any duplicate.
        # The snapshot in the key is each row's ACTUAL source snapshot (one
        # process() call may drain several pending snapshots; stamping all
        # of them with the upper bound would re-merge two crawl events of
        # the same url into one id — the corruption this keying prevents).
        new = new.withColumn(
            "doc_id", F.xxhash64("url", F.col("src_snapshot").cast("string"))
        ).withColumn("fingerprint", F.md5(F.col(text_col).cast("binary")))
        track_persist(new)

        # -- exact-dup split against known + intra-batch fingerprints
        if self.work.exists(DOCS):
            known = (
                self.work.read(self.spark, DOCS)
                .groupBy("fingerprint")
                .agg(F.min("doc_id").alias("rep_id"))
            )
        else:
            known = None
        # narrow-column dedup bookkeeping: texts never shuffle — the rep
        # resolution joins move (fingerprint, doc_id) only, and unique new
        # texts are carved from the cached `new` scan by broadcast semi-join
        nids = new.select("fingerprint", "doc_id")
        batch_reps = nids.groupBy("fingerprint").agg(F.min("doc_id").alias("batch_rep"))
        w = nids.join(batch_reps, "fingerprint")
        if known is not None:
            w = w.join(known, "fingerprint", "left")
        else:
            w = w.withColumn("rep_id", F.lit(None).cast("long"))
        w = w.withColumn("rep", F.coalesce("rep_id", "batch_rep"))
        uniq_ids = w.where(F.col("doc_id") == F.col("rep")).select("doc_id")
        # size-gated broadcast semi-join: broadcasts the batch-sized id set,
        # degrades to a shuffle join above cfg.broadcast_id_limit
        # footer-derived size bounds: |uniq_ids| <= batch rows, and the
        # verify/substring id sets are bounded by the full features corpus
        # (store + batch) — skips the blocking gating counts when they
        # already clear the broadcast limit (see webdedup.joins)
        n_batch = self.source.row_count(table, after=last, upto=cur)
        n_corpus = n_batch + (
            self.work.row_count(DOCS) if self.work.exists(DOCS) else 0
        )
        uniq_new = semi_join_ids(
            new, uniq_ids, "doc_id", cfg.broadcast_id_limit, known_max=n_batch
        ).select("doc_id", text_col)
        exact_edges = w.where(F.col("doc_id") != F.col("rep")).select(
            F.col("rep").alias("a"),
            F.col("doc_id").alias("b"),
            F.lit(1.0).alias("jaccard"),
            F.lit("exact").alias("kind"),
        )

        # -- featurize new unique docs (substr_fps fused in: one Arrow pass)
        feat_new = featurize(
            uniq_new, cfg, text_col=text_col, with_substring_fps=True
        ).select(
            "doc_id", text_col, "shingles", "bands", "simhash", "n_shingles",
            "substr_fps",
        )
        feat_new = mx.observe(
            feat_new,
            "featurize",
            F.count(F.lit(1)).alias("pages_shingled"),
            F.sum("n_shingles").alias("signatures_emitted"),
        )
        track_persist(feat_new)

        # -- candidates: at least one side new
        # Stored substr_fps are TRUSTED only when the store's manifest meta
        # records the exact fps config (k, window, pass enabled) in effect
        # now (ADVICE r3 medium): featurize always writes the column — empty
        # arrays when the pass is off, values frozen at write-time k/window —
        # so column presence alone would silently miss substring duplicates
        # against previously stored docs after a config change. On any
        # mismatch (or a pre-meta store) the per-pass UDF recomputes
        # fingerprints for the whole corpus under the current config.
        fps_cfg = {
            "substr_k": cfg.substring_k,
            "substr_window": cfg.substring_window,
            "enabled": bool(cfg.use_substring_pass),
        }
        feat_all = feat_new
        store_has_col = True
        fps_trusted = True
        if self.work.exists(FEATURES):
            stored = self.work.read(self.spark, FEATURES)
            store_has_col = "substr_fps" in stored.columns
            stored_cfg = self.work.meta(FEATURES).get("substr_fps_cfg")
            fps_trusted = store_has_col and stored_cfg == fps_cfg
            cols = ["doc_id", text_col, "shingles", "bands", "simhash",
                    "n_shingles"]
            if store_has_col:
                cols.append("substr_fps")
            feat_all = stored.select(*cols).unionByName(
                feat_new.select(*cols)
            )
        # one eager checkpoint leaf for the band join, verify and substring
        # subtrees to share through exchange reuse (pipeline.py docstring)
        feat_all = track_checkpoint(feat_all)

        cand = self._new_touching_pairs(feat_new, feat_all, cfg)
        cand = mx.observe(cand, "candidates", F.count(F.lit(1)).alias("candidate_pairs"))
        track_persist(cand)  # verify reads cand twice; observe it once
        near = verify.verified_pairs(
            cand, feat_all, cfg.jaccard_threshold, cfg.broadcast_id_limit,
            known_max=n_corpus,
        ).withColumn("kind", F.lit("near"))
        if cfg.use_substring_pass:
            new_ids = feat_new.select("doc_id")
            if fps_trusted:
                sub = substring_pairs(
                    feat_all.select("doc_id", text_col, "substr_fps"), cfg,
                    text_col=text_col, known_max=n_corpus,
                    fps_col="substr_fps",
                )
            else:
                sub = substring_pairs(
                    feat_all.select("doc_id", text_col), cfg,
                    text_col=text_col, known_max=n_corpus,
                )
            sub = (
                sub.join(new_ids.withColumnRenamed("doc_id", "a"), "a", "left_semi")
                .unionByName(
                    sub.join(new_ids.withColumnRenamed("doc_id", "b"), "b", "left_semi")
                )
                .dropDuplicates(["a", "b"])
                .withColumn("kind", F.lit("substring"))
            )
            near = near.unionByName(sub).dropDuplicates(["a", "b"])
        edges_new = near.unionByName(exact_edges)
        edges_new = mx.observe(
            edges_new, "verified", F.count(F.lit(1)).alias("verified_dups")
        )

        # -- append to stores (forces execution → observations harvestable)
        snap_ids = {}
        snap_ids[DOCS] = self.work.append(
            DOCS,
            new.select("doc_id", "url", "fingerprint", "src_snapshot"),
        )
        feat_store = feat_new.withColumn("src_snapshot", F.lit(cur))
        if not store_has_col:
            # keep a pre-fused-featurize store's parquet schema uniform
            feat_store = feat_store.drop("substr_fps")
            fps_meta = None
        elif not self.work.exists(FEATURES):
            # first append records the config the stored fps obey
            fps_meta = {"substr_fps_cfg": fps_cfg}
        elif self.work.meta(FEATURES).get("substr_fps_cfg") == fps_cfg:
            fps_meta = None  # unchanged — keep the recorded config
        else:
            # config changed mid-store: old rows' fps obey the old config,
            # this batch's the new one — poison the meta so no future run
            # ever trusts the mixed column
            fps_meta = {"substr_fps_cfg": {"mixed": True}}
        snap_ids[FEATURES] = self.work.append(
            FEATURES, feat_store, meta_update=fps_meta
        )
        snap_ids[EDGES] = self.work.append(
            EDGES, edges_new.withColumn("src_snapshot", F.lit(cur))
        )

        # -- resolve clusters over the full graph
        all_docs = self.work.read(self.spark, DOCS).select(
            F.col("doc_id").alias("id")
        ).distinct()
        all_edges = self.work.read(self.spark, EDGES).select("a", "b")
        labels = connected_components(all_docs, all_edges)
        clusters_path = os.path.join(self.work_root, "clusters")
        labels.withColumnRenamed("id", "doc_id").write.mode("overwrite").parquet(
            clusters_path
        )

        # -- lineage + metrics, then commit state (ordering = crash safety)
        mx.extra["partition_lineage"] = partition_lineage(
            self.work.read(self.spark, FEATURES)
        )
        mx.extra["source_snapshot"] = cur
        metrics = mx.save(os.path.join(self.work_root, f"metrics-snap{cur:06d}.json"))

        st["processed_snapshot"] = cur
        st["work_snaps"][str(cur)] = snap_ids
        self._commit_state(st)

        return metrics

    def _new_touching_pairs(
        self, feat_new: DataFrame, feat_all: DataFrame, cfg: DedupConfig
    ) -> DataFrame:
        """LSH + SimHash candidate pairs with >= 1 new-doc side.

        Join new band rows against all band rows (both orientations folded
        into a < b), with the same hot-bucket tombstone census as the
        batch path.
        """
        rows_all = lsh.explode_bands(feat_all)
        ok_all = lsh.surviving_buckets(rows_all, cfg).select(
            "band", "band_hash", "doc_id"
        )
        new_ids = feat_new.select("doc_id")
        rows_new = ok_all.join(new_ids, "doc_id", "left_semi")
        l, r = rows_new.alias("l"), ok_all.alias("r")
        pairs = (
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.band_hash") == F.col("r.band_hash"))
                & (F.col("l.doc_id") != F.col("r.doc_id")),
            )
            .select(
                F.least("l.doc_id", "r.doc_id").alias("a"),
                F.greatest("l.doc_id", "r.doc_id").alias("b"),
            )
            .dropDuplicates(["a", "b"])
        )
        if cfg.use_simhash:
            sims = lsh.simhash_candidate_pairs(feat_all, cfg)
            sims_new = sims.join(
                new_ids.withColumnRenamed("doc_id", "a"), "a", "left_semi"
            ).unionByName(
                sims.join(new_ids.withColumnRenamed("doc_id", "b"), "b", "left_semi")
            )
            pairs = pairs.unionByName(sims_new).dropDuplicates(["a", "b"])
        return pairs

    def clusters(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.work_root, "clusters"))

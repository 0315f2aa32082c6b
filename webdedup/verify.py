"""Exact-verify stage: Jaccard over shingle sets for candidate pairs.

The Spark counterpart of the reference's exact refinement round
(NearestNeighbors::kneighbors fast=False, nearestNeighbors.cpp:122-190) with
Jaccard in place of Euclidean/cosine (the dedup metric; cosine/euclidean
variants live in webdedup.api).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import DoubleType

from webdedup import kernels as K
from webdedup.joins import semi_join_ids


@arrow_udf(DoubleType())
def jaccard_udf(a: pa.Array, b: pa.Array) -> pa.Array:
    """Exact Jaccard over packed ``<u4`` shingle blobs (sorted unique; a
    null blob is the empty set): kernels.packed_pair_scores, one
    ``jaccard_sorted`` per pair."""
    return pa.array(K.packed_pair_scores(a, b, "<u4"))


def attach_shingles(
    pairs: DataFrame, feat: DataFrame,
    max_broadcast_ids: int,
    known_max: int | None = None,
) -> DataFrame:
    """Join (a, b) pairs to both sides' shingle arrays, narrowing feat to
    the pair ids first (bounded semi-join, webdedup.joins: broadcast when
    ``known_max`` is at or under ``max_broadcast_ids``, shuffled when it
    is above or None). The id set explodes ``pairs``: no distinct is
    pushed through a Generate, so it reuses the deduped pairs' exchange
    instead of re-running the joins."""
    pair_ids = pairs.select(F.explode(F.array("a", "b")).alias("doc_id")).distinct()
    sh = semi_join_ids(
        feat.select(F.col("doc_id"), F.col("shingles"), F.col("n_shingles")),
        pair_ids,
        "doc_id",
        max_broadcast_ids,
        known_max=known_max,
    )
    return (
        pairs.join(
            sh.select(
                F.col("doc_id").alias("a"),
                F.col("shingles").alias("sh_a"),
                F.col("n_shingles").alias("n_a"),
            ),
            "a",
        ).join(
            sh.select(
                F.col("doc_id").alias("b"),
                F.col("shingles").alias("sh_b"),
                F.col("n_shingles").alias("n_b"),
            ),
            "b",
        )
    )


def exact_jaccard_gate(pairs_with_shingles: DataFrame, threshold: float) -> DataFrame:
    """The exact-verify tail shared by the dedup pipeline and bipartite
    decontamination: require non-empty shingle sets on both sides, apply
    the cheap JVM size-ratio prefilter (J(A,B) <= min(|A|,|B|)/max(|A|,|B|),
    so pairs whose sizes already rule out the threshold never reach the
    Python kernel — the analogue of the reference's precomputed dot
    products, sparseMatrix.h:60-123), then the exact Jaccard kernel and
    the threshold cut. The kernel is marked nondeterministic so the cut
    stays above it: pushed below, the cut would call it a second time per
    pair. Input needs columns sh_a/sh_b/n_a/n_b; output keeps all input
    columns plus ``jaccard``.
    """
    size_bound = F.least("n_a", "n_b") / F.greatest("n_a", "n_b")
    return (
        pairs_with_shingles.where((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .where(size_bound >= F.lit(threshold))
        .withColumn("jaccard", jaccard_udf.asNondeterministic()("sh_a", "sh_b"))
        .where(F.col("jaccard") >= F.lit(threshold))
    )


def verified_pairs(
    pairs: DataFrame, feat: DataFrame, threshold: float,
    max_broadcast_ids: int,
    known_max: int | None = None,
) -> DataFrame:
    """(a, b, jaccard) for candidate pairs passing the exact-Jaccard gate.
    ``known_max`` bounds the pair ids as in :func:`attach_shingles`;
    ``None`` means no bound, and the shingles semi-join shuffles."""
    w = attach_shingles(pairs, feat, max_broadcast_ids, known_max=known_max)
    return exact_jaccard_gate(w, threshold).select("a", "b", "jaccard")


# printable-ASCII projection shared verbatim with the DuckDB oracle:
# DuckDB's levenshtein() counts BYTES while Spark's counts CODEPOINTS, so
# the value-checked face compares ASCII projections (byte == codepoint
# there); the engine API below still accepts full Unicode.
ASCII_PROJECT_RE = r"[^\x09\x0A\x0D\x20-\x7E]"


def levenshtein_verify(
    docs: DataFrame,
    pairs: DataFrame,
    prefix_len: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
    ascii_only: bool = False,
) -> DataFrame:
    """Edit-distance verification for candidate pairs: (a, b, edit_dist,
    edit_ppm) where ``edit_ppm`` is the distance normalized by the longer
    compared prefix (0 = identical, 1e6 = nothing shared).

    Near-dup candidates from shingle/banding stages are *set*-similar;
    edit distance adds an ORDER-sensitive second opinion that separates
    true revisions (small dist) from bag-of-words coincidences. Cost is
    O(prefix_len^2) per pair — ``prefix_len`` caps it, and the operator
    runs on the (tiny) candidate set, never the corpus.

    100-TB shape: two narrow hash joins to fetch the prefixes (built-in
    ``left()`` keeps only ``prefix_len`` chars per side before the join
    output), then a codegen'd JVM ``levenshtein`` — no Python, no extra
    shuffle beyond the candidate join itself.

    ``ascii_only=True`` projects to printable ASCII first — the mode the
    driver oracle checks (see ``ASCII_PROJECT_RE``).
    """
    t = F.col(text_col)
    if ascii_only:
        t = F.regexp_replace(t, ASCII_PROJECT_RE, "")
    prefixes = docs.select(
        F.col(id_col).alias("_pid"), F.left(t, F.lit(prefix_len)).alias("_ptxt")
    )
    dist = F.levenshtein(F.col("_ta"), F.col("_tb"))
    longer = F.greatest(F.length("_ta"), F.length("_tb"), F.lit(1))
    return (
        pairs.select("a", "b")
        .join(prefixes.withColumnsRenamed({"_pid": "a", "_ptxt": "_ta"}), "a")
        .join(prefixes.withColumnsRenamed({"_pid": "b", "_ptxt": "_tb"}), "b")
        .select(
            "a",
            "b",
            dist.cast("long").alias("edit_dist"),
            F.floor(F.lit(1_000_000.0) * dist / longer)
            .cast("long")
            .alias("edit_ppm"),
        )
    )

"""LSH banding, bucket counting, hot-bucket kill, candidate pairs.

Spark re-expression of the reference's inverse index build + collision query
(InverseIndex::fit, inverseIndex.cpp:430-499; InverseIndex::kneighbors
collision counting, inverseIndex.cpp:530-561). The bucket table is never
materialized as a map — it IS the shuffle: posexplode(bands) → groupBy/join
on (band, band_hash).
"""

from __future__ import annotations

import operator
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from webdedup.config import DedupConfig


def explode_bands(feat: DataFrame) -> DataFrame:
    """(doc_id, bands) → (doc_id, band, band_hash) — the LSH bucket rows."""
    return feat.select(
        "doc_id", F.posexplode("bands").alias("band", "band_hash")
    )


def drop_hot(rows: DataFrame, keys: list[str], max_bin_size: int) -> DataFrame:
    """``rows`` without every bucket (rows sharing all ``keys``) that has
    ``max_bin_size`` or more members.

    Reference parity: a bucket reaching max_bin_size is dropped ENTIRELY
    (tombstone semantics, inverseIndexStorageUnorderedMap.cpp:70-81) —
    filter on the full count, never a limit/truncate. Size-1 buckets need
    no explicit prune: they produce no self-join matches (the reference's
    prune(), :162-187, falls out free).

    The census is ONE two-phase hash aggregate. Hot buckets (boilerplate
    shingles shared by ~30% of the web) cannot skew a COUNT: Spark's
    map-side partial aggregation emits at most one partial row per mapper
    per key, so the reducer owning a hot key merges |mappers| counters, not
    |members| rows — the partial agg IS the salt. An explicit (key, salt)
    pre-aggregation would add a full exchange + AQE stage for a combine the
    map side already performs; even under partial-agg hash-table overflow
    the spill path still emits partial counts, never raw rows. The hot list
    is tiny by construction ⇒ broadcast anti-join, no second shuffle of
    ``rows``.
    """
    hot = (
        rows.groupBy(*keys)
        .agg(F.count("*").alias("bucket_size"))
        .where(F.col("bucket_size") >= F.lit(max_bin_size))
        .select(*keys)
    )
    return rows.join(F.broadcast(hot), keys, "left_anti")


def key_pairs(
    rows: DataFrame, keys: list[str], touching: DataFrame | None = None
) -> DataFrame:
    """One (a, b) row per bucket collision: two rows of ``rows`` with
    different ``doc_id`` and equal ``keys``, a < b.

    Every other column ``c`` of ``rows`` is carried as ``c_a`` / ``c_b``,
    the value on doc a's / doc b's row. A pair colliding in several
    buckets appears once per bucket; callers dedupe.

    ``touching`` (a frame with a ``doc_id`` column) keeps only pairs with
    at least one side in it: its rows join all rows, and each side's
    values are ordered into a < b afterwards. A pair with both sides in
    ``touching`` then also appears once per orientation. Without it, the
    join condition ``l.doc_id < r.doc_id`` halves the output instead.
    """
    payload = [c for c in rows.columns if c != "doc_id" and c not in keys]
    left = rows
    if touching is not None:
        left = rows.join(touching.select("doc_id"), "doc_id", "left_semi")
    l, r = left.alias("l"), rows.alias("r")
    lt = F.col("l.doc_id") < F.col("r.doc_id")

    def ordered(c):
        """(doc a's, doc b's) value of column ``c``."""
        lv, rv = F.col(f"l.{c}"), F.col(f"r.{c}")
        if touching is None:
            return lv, rv
        return F.when(lt, lv).otherwise(rv), F.when(lt, rv).otherwise(lv)

    a, b = ordered("doc_id")
    cols = [a.alias("a"), b.alias("b")]
    for c in payload:
        va, vb = ordered(c)
        cols += [va.alias(f"{c}_a"), vb.alias(f"{c}_b")]
    differ = lt if touching is None else F.col("l.doc_id") != F.col("r.doc_id")
    on = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys] + [differ]
    return l.join(r, reduce(operator.and_, on)).select(*cols)


def candidate_pairs(
    feat: DataFrame, cfg: DedupConfig, dedupe: bool = True,
    touching: DataFrame | None = None,
) -> DataFrame:
    """Distinct (a, b) candidate doc-id pairs from MinHash LSH bands.

    ``dedupe=False`` skips the trailing multi-band-collision collapse for
    callers that union several candidate sources and dropDuplicates ONCE
    over the union (the pipeline) — one less exchange, identical final
    pair set. ``touching`` keeps only pairs with a side in that doc-id
    frame (see :func:`key_pairs`); the hot-bucket census still counts
    every row of ``feat``, so the tombstones match the unrestricted run.

    The equi-self-join on (band, band_hash) is the reference's collision
    lookup (inverseIndex.cpp:530-561) done set-at-a-time; a < b ordering
    halves the join output and dropDuplicates collapses multi-band
    collisions before the (expensive) verify stage.

    Partitioning by signature band happens through the join's OWN shuffle
    on (band, band_hash) — deliberately NOT an explicit ``repartition()``
    first: a user-origin exchange is ineligible for AQE's skew-join rule,
    so a near-cap hot bucket (the power-law web reality the tombstone's
    threshold intentionally lets through) would land on ONE task. Measured
    on a 40k-row hot bucket: with repartition() the join stage runs at the
    configured width with one task reading the whole bucket; without it AQE
    splits the skewed partition ~4x (66 tasks vs 16). The
    ENSURE_REQUIREMENTS shuffle clusters by exactly the same keys, so
    co-location is unchanged (tests/test_skew_gate.py).
    """
    keys = ["band", "band_hash"]
    rows = drop_hot(explode_bands(feat), keys, cfg.max_bin_size)
    pairs = key_pairs(rows, keys, touching)
    return pairs.dropDuplicates(["a", "b"]) if dedupe else pairs


def _simhash_tables(t: int):
    """Block layout + key tables for hamming <= t over 64 bits.

    Manku/Jain/Das Sarma-style: split the fingerprint into nb = t+3 blocks;
    any pair within hamming t has >= nb-t = 3 clean blocks, so keying every
    C(nb, 3) block-triple guarantees a shared key. Triple keys are ~32 bits
    wide, so random-collision volume is ~n²·C(nb,3)/2^32 — the naive
    (t+1)-block scheme's 16-bit keys produce ~n²/2^16 junk pairs, which
    stops scaling past ~10^5 docs.
    """
    from itertools import combinations

    nb = t + 3
    widths = [(64 // nb) + (1 if i < 64 % nb else 0) for i in range(nb)]
    starts = [sum(widths[:i]) for i in range(nb)]
    combos = list(combinations(range(nb), 3))
    return widths, starts, combos


def _simhash_key_col(t: int):
    """The C(nb, 3) block-triple keys of column ``simhash`` as ONE SQL
    expression → array<struct<tbl: int, key: bigint>>. The JVM parses the
    string in a single py4j call; the same tree built from ``F.*`` Column
    calls costs ~800 round-trips (~340 ms warm) per pipeline run."""
    widths, starts, combos = _simhash_tables(t)

    def block(i):
        return f"(shiftright(simhash, {starts[i]}) & {(1 << widths[i]) - 1})"

    keys = ", ".join(
        f"named_struct('tbl', {ci}, 'key', shiftleft({block(a)}, "
        f"{widths[b] + widths[c]}) + shiftleft({block(b)}, {widths[c]}) + {block(c)})"
        for ci, (a, b, c) in enumerate(combos)
    )
    return F.expr(f"array({keys})")


def simhash_candidate_pairs(
    feat: DataFrame, cfg: DedupConfig, dedupe: bool = True,
    touching: DataFrame | None = None,
) -> DataFrame:
    """Distinct (a, b) pairs with SimHash hamming distance <= threshold.

    Candidates from block-triple key tables (see _simhash_tables), exact
    bit_count(xor) filter JVM-side (no Python in the hot path).
    ``dedupe`` and ``touching`` as in :func:`candidate_pairs`.
    """
    t = cfg.simhash_hamming_threshold
    keys = _simhash_key_col(t)
    rows = feat.select("doc_id", "simhash").withColumn(
        "_k", F.explode(keys)
    ).select("doc_id", "simhash", F.col("_k.tbl").alias("tbl"), F.col("_k.key").alias("key"))
    # hot-key tombstone (degenerate fingerprints, e.g. near-empty docs)
    rows = drop_hot(rows, ["tbl", "key"], cfg.max_bin_size)
    out = (
        key_pairs(rows, ["tbl", "key"], touching)
        .where(F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))) <= F.lit(t))
        .select("a", "b")
    )
    return out.dropDuplicates(["a", "b"]) if dedupe else out

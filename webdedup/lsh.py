"""LSH banding, bucket counting, hot-bucket kill, candidate pairs.

Spark re-expression of the reference's inverse index build + collision query
(InverseIndex::fit, inverseIndex.cpp:430-499; InverseIndex::kneighbors
collision counting, inverseIndex.cpp:530-561). The bucket table is never
materialized as a map — it IS the shuffle: posexplode(bands) → groupBy/join
on (band, band_hash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from webdedup.config import DedupConfig


def explode_bands(feat: DataFrame) -> DataFrame:
    """(doc_id, bands) → (doc_id, band, band_hash) — the LSH bucket rows."""
    return feat.select(
        "doc_id", F.posexplode("bands").alias("band", "band_hash")
    )


def bucket_sizes(bucket_rows: DataFrame) -> DataFrame:
    """Per-(band, band_hash) member count as ONE two-phase hash aggregate.

    Hot buckets (boilerplate shingles shared by ~30% of the web) cannot
    skew a COUNT: Spark's map-side partial aggregation emits at most one
    partial row per mapper per key, so the reducer owning a hot key merges
    |mappers| counters, not |members| rows — the partial agg IS the salt.
    (An explicit (band, hash, salt) pre-aggregation — this function's r1-r5
    shape, then named ``bucket_sizes_salted`` with a ``cfg.salt_buckets``
    fan-out knob — added a full extra exchange + AQE stage for a combine
    the map side already performs; even under partial-agg hash-table
    overflow the spill path still emits partial counts, never raw rows.
    Removed in r6: one less shuffle per census at identical output, and
    the explicit salt knob went with it.)
    """
    return (
        bucket_rows.groupBy("band", "band_hash")
        .agg(F.count("*").alias("bucket_size"))
    )


def surviving_buckets(bucket_rows: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Bucket rows with hot buckets killed.

    Reference parity: a bucket reaching max_bin_size is dropped ENTIRELY
    (tombstone semantics, inverseIndexStorageUnorderedMap.cpp:70-81) — filter
    on the full count, never a limit/truncate. The hot list is tiny by
    construction ⇒ broadcast anti-join (no second shuffle of the exploded
    band table). Size-1 buckets need no explicit prune: they produce no
    self-join matches (the reference's prune(), :162-187, falls out free).
    """
    hot = (
        bucket_sizes(bucket_rows)
        .where(F.col("bucket_size") >= F.lit(cfg.max_bin_size))
        .select("band", "band_hash")
    )
    return bucket_rows.join(F.broadcast(hot), ["band", "band_hash"], "left_anti")


def candidate_pairs(
    feat: DataFrame, cfg: DedupConfig, dedupe: bool = True
) -> DataFrame:
    """Distinct (a, b) candidate doc-id pairs from MinHash LSH bands.

    ``dedupe=False`` skips the trailing multi-band-collision collapse for
    callers that union several candidate sources and dropDuplicates ONCE
    over the union (the pipeline) — one less exchange, identical final
    pair set.

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
    co-location is unchanged (tests/test_pipeline.py skew gate).
    """
    rows = explode_bands(feat)
    ok = surviving_buckets(rows, cfg).select("band", "band_hash", "doc_id")
    left = ok.alias("l")
    right = ok.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
    )
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
    feat: DataFrame, cfg: DedupConfig, dedupe: bool = True
) -> DataFrame:
    """Distinct (a, b) pairs with SimHash hamming distance <= threshold.

    Candidates from block-triple key tables (see _simhash_tables), exact
    bit_count(xor) filter JVM-side (no Python in the hot path).
    ``dedupe=False`` as in :func:`candidate_pairs`.
    """
    t = cfg.simhash_hamming_threshold
    keys = _simhash_key_col(t)
    rows = feat.select("doc_id", "simhash").withColumn(
        "_k", F.explode(keys)
    ).select("doc_id", "simhash", F.col("_k.tbl").alias("tbl"), F.col("_k.key").alias("key"))
    # hot-key tombstone (degenerate fingerprints, e.g. near-empty docs)
    hot = (
        rows.groupBy("tbl", "key")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= F.lit(cfg.max_bin_size))
        .select("tbl", "key")
    )
    rows = rows.join(F.broadcast(hot), ["tbl", "key"], "left_anti")
    l, r = rows.alias("l"), rows.alias("r")
    out = (
        l.join(
            r,
            (F.col("l.tbl") == F.col("r.tbl"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .where(
            F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))) <= F.lit(t)
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
    )
    return out.dropDuplicates(["a", "b"]) if dedupe else out

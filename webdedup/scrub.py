"""Data-hygiene operators for training-data pipelines: benchmark
decontamination (GPT-3-appendix-C style n-gram overlap) and PII redaction.

Both are pure-JVM (higher-order functions + regex) — no Python crosses the
hot path, and the only shuffle in `decontaminate` carries ~1 row per
contaminated doc (map-side partial agg collapses the exploded grams of a
doc inside its own task before the exchange).

Reference context: the reference engine has no decontamination surface;
these are the training-data extras mandated by the build brief (SURVEY.md
§2.7 / COVERAGE.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from webdedup.joins import track_persist


def _sliding_gram_hashes(n: int):
    """64-bit hashes of the sliding word n-grams of the ``_toks`` column.

    xxhash64 of the joined gram string — same engine-side key choice as
    textstats.span_dedup (collision odds ~1e-12 at 1e7 distinct grams;
    free to the correctness contract because the DuckDB oracle censuses
    the gram STRINGS). The token array is materialized as its own
    projection by the caller — an inline split() referenced from a
    transform() lambda re-evaluates per element (codegen CSE does not
    reach lambda bodies; measured 5.8x in span_dedup). The when() guard
    matters: Spark's sequence(1, 0) yields the DESCENDING [1, 0], not an
    empty list, so short docs must short-circuit to array().
    """
    toks = F.col("_toks")
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i, n), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag training docs sharing any word ``n``-gram with an eval set.

    GPT-3-style decontamination: an n-gram seen anywhere in ``benchmark``
    taints every training doc containing it. Returns one row per doc:
    (doc_id, n_grams, n_hits, is_contaminated) where ``n_hits`` counts
    gram OCCURRENCES (duplicated grams in a doc count each time) and docs
    shorter than ``n`` tokens have n_grams = 0.

    100-TB shape: the benchmark side is an eval suite (thousands of docs,
    ~1e5-1e6 distinct grams) — it is hashed, deduplicated, and BROADCAST,
    so the corpus grams never shuffle for the membership test; the
    left-semi join runs map-side inside the scan task. The follow-up
    groupBy(doc_id) sees all grams of a doc in the task that exploded
    them, so partial aggregation collapses to <= 1 row per contaminated
    doc before the exchange; the final join-back is narrow (3 longs/doc).
    """
    # d feeds two consumers (the explode->semi-join hit count and the
    # n_grams projection); persist so the corpus split + gram-hash pass
    # runs once, not twice
    d = track_persist(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("_toks"),
        ).select("doc_id", _sliding_gram_hashes(n).alias("_ghs"))
    )

    bench = (
        benchmark.select(
            F.split(F.col(text_col), " ").alias("_toks")
        )
        .select(F.explode(_sliding_gram_hashes(n)).alias("gh"))
        .distinct()
    )

    hits = (
        d.select("doc_id", F.explode("_ghs").alias("gh"))
        .join(F.broadcast(bench), "gh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )

    return (
        d.select("doc_id", F.size("_ghs").cast("long").alias("n_grams"))
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("is_contaminated"),
        )
    )


def decontaminate_registry(
    docs: DataFrame,
    suites: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multi-benchmark decontamination in ONE pass: per-suite hit columns.

    ``suites`` is the eval-suite registry a real training-data run keeps:
    ``[{"name": str, "benchmark": DataFrame, "n": int,
    "min_hits": int = 1}, ...]`` — per-suite n-gram sizes and thresholds.
    Returns one row per doc: (doc_id, then per suite ``{name}_hits``
    (long, gram OCCURRENCES hitting that suite) and
    ``{name}_contaminated`` (n_hits >= min_hits)).

    100-TB shape (VERDICT r4 ask #8): the corpus tokenizes ONCE and its
    gram hashes are computed once per DISTINCT n (suites sharing an n
    share the work); every suite's gram table is unioned into a single
    tagged (gram_n, gh, suite) frame and BROADCAST once, so adding a
    suite adds broadcast bytes, not corpus passes — one job for the whole
    registry instead of one per suite. The per-suite counts come from one
    conditional aggregation on the same (doc_id) shuffle decontaminate
    already pays, and map-side partial agg still collapses each doc's
    grams inside its scan task.
    """
    if not suites:
        raise ValueError("suites registry is empty")
    names = [s["name"] for s in suites]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate suite names: {names}")
    ns = sorted({int(s["n"]) for s in suites})

    # corpus side: tokenize once, one gram-hash column per distinct n
    d = track_persist(
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.split(F.col(text_col), " ").alias("_toks"),
        ).select(
            "doc_id",
            *[_sliding_gram_hashes(n).alias(f"_g{n}") for n in ns],
        )
    )
    exploded = None
    for n in ns:
        part = d.select(
            "doc_id", F.lit(n).alias("gram_n"), F.explode(f"_g{n}").alias("gh")
        )
        exploded = part if exploded is None else exploded.unionByName(part)

    # registry side: one tagged union of every suite's distinct grams
    bench_union = None
    for s in suites:
        b = (
            s["benchmark"]
            .select(F.split(F.col(text_col), " ").alias("_toks"))
            .select(F.explode(_sliding_gram_hashes(int(s["n"]))).alias("gh"))
            .distinct()
            .select(
                F.lit(s["name"]).alias("suite"),
                F.lit(int(s["n"])).alias("gram_n"),
                "gh",
            )
        )
        bench_union = b if bench_union is None else bench_union.unionByName(b)

    hit_cols = [
        F.sum(F.when(F.col("suite") == s["name"], 1).otherwise(0))
        .cast("long")
        .alias(f"{s['name']}_hits")
        for s in suites
    ]
    hits = (
        exploded.join(F.broadcast(bench_union), ["gram_n", "gh"], "inner")
        .groupBy("doc_id")
        .agg(*hit_cols)
    )
    out_cols = []
    for s in suites:
        c = F.coalesce(F.col(f"{s['name']}_hits"), F.lit(0)).cast("long")
        out_cols.append(c.alias(f"{s['name']}_hits"))
        out_cols.append(
            (c >= int(s.get("min_hits", 1))).alias(f"{s['name']}_contaminated")
        )
    return d.select("doc_id").join(hits, "doc_id", "left").select("doc_id", *out_cols)


# Common Java-regex/RE2 subset so the engine (Spark, java.util.regex) and
# the oracle (DuckDB, RE2) match byte-for-byte on the same patterns.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# Full NANP area-code form only: the bare NNN-NNNN shape also matches
# ordinary numeric ranges / ISBN fragments / date-ish tokens ('100-2000'),
# over-redacting non-PII (ADVICE r4). RE2 has no lookbehind, so the
# tightening is the 10-digit form rather than context anchors — keeps the
# pattern inside the common java.util.regex/RE2 subset the oracle needs.
PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"

_PII_ORDER = (
    ("email", EMAIL_RE, "<EMAIL>"),
    ("ip", IPV4_RE, "<IP>"),
    ("phone", PHONE_RE, "<PHONE>"),
)


def pii_redact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Count and redact emails / IPv4s / phone-like tokens.

    Returns (doc_id, n_emails, n_ips, n_phones, clean_text). Redaction
    order is fixed (email -> ip -> phone) so an IP-shaped substring inside
    an email domain is consumed by the email pass first; counts are taken
    BEFORE any replacement, each against the original text. The counts are
    therefore PER-PATTERN RAW MATCHES, not redaction counts: a digit run
    already consumed by an earlier pass still counts for later patterns
    (n_emails + n_ips + n_phones can exceed the tokens replaced in
    clean_text) — the count columns answer "how much PII-shaped content
    did this page carry", the clean_text answers "what survives".

    100-TB shape: row-local regexes inside whole-stage codegen — zero
    shuffles, zero Python; the patterns are restricted to the common
    java.util.regex / RE2 subset so the DuckDB oracle runs the exact same
    expressions.
    """
    t = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0)))
        .cast("long")
        .alias(f"n_{name}s")
        for name, pat, _ in _PII_ORDER
    ]
    clean = t
    for _, pat, token in _PII_ORDER:
        clean = F.regexp_replace(clean, pat, token)
    return docs.select(
        F.col(id_col).alias("doc_id"), *counts, clean.alias("clean_text")
    )


def near_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    cfg=None,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Paraphrase-level decontamination: (doc_id, bench_id, jaccard_ppm)
    for training docs whose shingle-set Jaccard with a benchmark doc
    reaches ``threshold``.

    :func:`decontaminate` catches VERBATIM n-gram overlap; lightly edited
    eval material (dropped sentence, reflowed whitespace, re-hosted copy)
    slips through it. This operator runs the dedup pipeline's own
    MinHash-LSH machinery BIPARTITE: corpus band rows join the (small,
    broadcast) benchmark band table, and candidates get the exact
    shingle-Jaccard verify — so "near-dup of an eval doc" uses exactly
    the same similarity the dedup pipeline uses for "near-dup of another
    training doc".

    100-TB shape: the corpus side featurizes once (text crosses Arrow
    once) and self-joins NEVER — candidates come from a broadcast-hash
    join against the eval suite's exploded bands (eval suites are
    thousands of docs; their band and shingle tables are a few MB).
    Corpus hot buckets are tombstoned first (lsh.drop_hot), so
    a boilerplate band hash cannot fan the broadcast join out. The
    verify stage touches candidate rows only.
    """
    from webdedup.config import DedupConfig
    from webdedup.lsh import drop_hot, explode_bands
    from webdedup.signatures import featurize
    from webdedup.verify import exact_jaccard_gate

    cfg = cfg or DedupConfig()
    corp = track_persist(
        featurize(
            docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")),
            cfg,
        ).select("doc_id", "shingles", "n_shingles", "bands")
    )
    bfeat = track_persist(
        featurize(
            benchmark.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            ),
            cfg,
        ).select("doc_id", "shingles", "n_shingles", "bands")
    )
    bband = explode_bands(bfeat).withColumnRenamed("doc_id", "bench_id")
    cand = (
        drop_hot(explode_bands(corp), ["band", "band_hash"], cfg.max_bin_size)
        .join(F.broadcast(bband), ["band", "band_hash"])
        .select("doc_id", "bench_id")
        .dropDuplicates(["doc_id", "bench_id"])
    )
    w = cand.join(
        corp.select(
            "doc_id",
            F.col("shingles").alias("sh_a"),
            F.col("n_shingles").alias("n_a"),
        ),
        "doc_id",
    ).join(
        F.broadcast(
            bfeat.select(
                F.col("doc_id").alias("bench_id"),
                F.col("shingles").alias("sh_b"),
                F.col("n_shingles").alias("n_b"),
            )
        ),
        "bench_id",
    )
    return exact_jaccard_gate(w, threshold).select(
        "doc_id",
        "bench_id",
        F.floor(F.lit(1_000_000.0) * F.col("jaccard"))
        .cast("long")
        .alias("jaccard_ppm"),
    )

"""Text-analysis operators over a documents table — all JVM-side DataFrame ops.

Every function here avoids Python UDFs entirely (whole-stage codegen
friendly): tokenization, n-gram construction, set ops, and window top-k are
built from pyspark.sql.functions higher-order functions. These are the
SQL-expressible faces of the dedup engine (exact-dup collapse, n-gram
Jaccard, top-k per query = reference Q4, graph symmetrization = reference
O3) plus the training-data text-quality extras.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from webdedup.joins import track_persist
from webdedup.lsh import drop_hot, key_pairs

PPM = 1_000_000

LANG_MARKERS = {
    "en": ["the", "and", "for"],
    "de": ["der", "und", "nicht"],
    "fr": ["le", "et", "pour"],
    "es": ["el", "y", "para"],
}


def _tokens(text_col: str = "text"):
    return F.split(F.col(text_col), " ")


def _ngrams(tok_col, n: int):
    """Distinct word n-grams as strings; short docs fall back to tokens.

    1-based element_at over sequence(0, L-n) mirrors the DuckDB oracle's
    range(1, L-n+1) positions exactly.
    """
    L = F.size(tok_col)
    gram = F.transform(
        F.sequence(F.lit(0), L - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tok_col, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return F.array_distinct(F.when(L >= n, gram).otherwise(tok_col))


def doc_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, n_chars)."""
    return docs.select(
        "doc_id",
        F.size(_tokens()).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


def exact_dup_clusters(docs: DataFrame) -> DataFrame:
    """md5-fingerprint groups with >1 member — the exact-dup collapse key."""
    return (
        docs.groupBy(F.md5(F.col("text").cast("binary")).alias("fingerprint"))
        .agg(F.count("*").alias("n_members"), F.min("doc_id").alias("rep_id"))
        .where(F.col("n_members") > 1)
    )


def exact_dup_pairs(docs: DataFrame) -> DataFrame:
    """(a, b) doc-id pairs with byte-identical text."""
    fp = docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fingerprint")
    )
    return key_pairs(fp, ["fingerprint"])


def ngram_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, gs) distinct n-gram string arrays per doc.

    The token array is materialized as its own projection BEFORE the
    higher-order gram builder: an inline split(text) referenced from inside
    the transform() lambda is re-evaluated per element (codegen CSE does not
    reach into lambda bodies) — O(tokens²) per doc. Same fix as span_dedup;
    measured here: the exploded-gram pass at sf0.1 dropped 6.6 s → 0.9 s.
    """
    t = docs.select("doc_id", _tokens().alias("_toks"))
    return t.select("doc_id", _ngrams(F.col("_toks"), n).alias("gs"))


def ngram_jaccard_pairs(
    docs: DataFrame, n: int = 3, min_ppm: int = 100_000,
    max_gram_freq: int = 2000,
) -> DataFrame:
    """(a, b, jaccard_ppm) — exact word-n-gram Jaccard over all doc pairs.

    The brute-force counterpart of the LSH path (what the reference's
    run_test.py recall harness uses sklearn exact NN for). Quadratic in
    colliding grams — meant for oracle checks and small refits, not the
    10^12 path (that's webdedup.pipeline).

    ``max_gram_freq`` tombstones grams shared by >= that many docs (same
    broadcast-anti-join kill as the LSH hot buckets, lsh.drop_hot): a
    boilerplate gram shared by f docs otherwise emits f²/2 join rows, which
    is the first thing to die at scale. Dropping a hot gram shrinks the
    intersection AND both set sizes, so near-dup Jaccard values move by
    O(1/n_grams) — acceptable for the Q4/O3 faces built on this; set it
    above the corpus size (or 0) to disable for exact-oracle use.
    """
    g = ngram_sets(docs, n)
    # Shuffle 8-byte hashed gram ids, never the gram strings (guide:
    # "shuffle keys, not payloads"): the census, the anti-join, and both
    # sides of the self-join only ever DECIDE on gram identity — xxhash64
    # identity is the repo-wide fingerprint convention (collision odds
    # ~1e-8 even at 1e6 distinct grams; the near_dup_pairs face already
    # rides 32-bit crc32 gram ids through its green oracle).
    rows = g.select("doc_id", F.explode("gs").alias("_g")).select(
        "doc_id", F.xxhash64("_g").alias("gram")
    )
    if max_gram_freq and max_gram_freq > 0:
        # persist: the exploded gram rows feed the hot-count agg, the sizes
        # agg, and BOTH sides of the self-join — four gram-construction
        # passes without it
        rows = drop_hot(track_persist(rows), ["gram"], max_gram_freq)
        # sizes must count the SURVIVING grams so |A|,|B| stay consistent
        # with the intersection counts below
        sizes = rows.groupBy("doc_id").agg(F.count("*").alias("n"))
    else:
        sizes = g.select("doc_id", F.size("gs").alias("n"))
    inter = (
        key_pairs(rows, ["gram"]).groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb"))
    jac = F.lit(1_000_000.0) * F.col("n_inter") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    )
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .where(jac >= F.lit(min_ppm))
        .select("a", "b", F.floor(jac).cast("long").alias("jaccard_ppm"))
    )


def top_similar_per_doc(docs: DataFrame, n: int = 3, k: int = 3, min_ppm: int = 10_000) -> DataFrame:
    """Top-k most-similar docs per doc with rank() tie semantics.

    Mirrors the reference's excess-factor top-k cut with tie extension
    (inverseIndex.cpp:586-617): rank(), not row_number, so boundary ties
    survive — exactly Q4.
    """
    pairs = ngram_jaccard_pairs(docs, n, min_ppm)
    both = pairs.select(
        F.col("a").alias("doc_id"), F.col("b").alias("other_id"), "jaccard_ppm"
    ).unionByName(
        pairs.select(
            F.col("b").alias("doc_id"), F.col("a").alias("other_id"), "jaccard_ppm"
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("jaccard_ppm"), F.asc("other_id")
    )
    return (
        both.withColumn("rnk", F.rank().over(w).cast("long"))
        .where(F.col("rnk") <= k)
        .select("doc_id", "other_id", "jaccard_ppm", "rnk")
    )


def knn_graph_sym(docs: DataFrame, n: int = 3, min_ppm: int = 100_000) -> DataFrame:
    """Symmetrized similarity graph — reference O3 (buildGraph symmetric=True).

    Directed edge weights averaged over both directions (here equal by
    construction, matching parsePythonToCpp.h:206-221 semantics).
    """
    pairs = ngram_jaccard_pairs(docs, n, min_ppm)
    directed = pairs.select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "jaccard_ppm"
    ).unionByName(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"), "jaccard_ppm")
    )
    return (
        directed.groupBy("src", "dst")
        .agg(F.floor(F.avg("jaccard_ppm")).cast("long").alias("weight_ppm"))
    )


def lang_scores(docs: DataFrame) -> DataFrame:
    """Marker-word language-ID heuristic with deterministic tie-break."""
    toks = F.array_distinct(_tokens())
    cols = [
        F.size(
            F.array_intersect(toks, F.array(*[F.lit(m) for m in LANG_MARKERS[lg]]))
        ).cast("long").alias(f"{lg}_hits")
        for lg in ("en", "de", "fr", "es")
    ]
    out = docs.select("doc_id", *cols)
    e, d, f_, s = [F.col(f"{lg}_hits") for lg in ("en", "de", "fr", "es")]
    pred = (
        F.when((e >= d) & (e >= f_) & (e >= s), "en")
        .when((d >= f_) & (d >= s), "de")
        .when(f_ >= s, "fr")
        .otherwise("es")
    )
    return out.withColumn("lang_pred", pred)


def quality_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, n_distinct, ttr_ppm) — type-token ratio quality proxy."""
    t = _tokens(text_col)
    return docs.select(
        "doc_id",
        F.size(t).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("long").alias("n_distinct"),
        F.floor(
            F.lit(1_000_000.0) * F.size(F.array_distinct(t)) / F.size(t)
        ).cast("long").alias("ttr_ppm"),
    )


def token_topk(docs: DataFrame, k: int = 20) -> DataFrame:
    """Top-k corpus tokens by frequency (deterministic (cnt desc, token) order).

    `orderBy(...).limit(k)` compiles to TakeOrderedAndProject — each partition
    keeps a local top-k heap, the driver merges k·P rows — so the full corpus
    vocabulary (billions of distinct tokens at production scale) never sorts
    in a single task. Ranks are then numbered over only the k surviving rows.
    """
    counts = (
        docs.select(F.explode(_tokens()).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(k)
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    return (
        counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .select("token", "cnt", "rnk")
    )


def lang_distribution(docs: DataFrame) -> DataFrame:
    return docs.groupBy("lang").agg(F.count("*").alias("n_docs"))


def span_dedup(
    docs: DataFrame,
    span: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Boilerplate-span removal — the token-block analog of C4/MassiveText
    line-level dedup (this corpus has no line structure, so the span unit is
    ``span`` consecutive tokens, block-aligned): any block whose exact token
    sequence appears at a block boundary in >= ``min_docs`` distinct docs is
    cut from every doc. Returns (doc_id, n_spans, n_removed, clean_text).

    Scale shape: the repeated-block census shuffles 64 bits per distinct
    block (xxhash64 of the block string — collision odds ~1e-12 at 1e7
    blocks; the engine's key choice is free because the DuckDB oracle
    censuses block STRINGS), never the text; removed positions flow back
    as a left-semi join on the block key + a per-doc collect of positions,
    and the text itself is only shuffled once, by doc_id, for the final
    rebuild (JVM filter-with-index lambda, no Python). Measured 200k-page
    walls on the bench corpus: 292 s with the inline-split lambda and
    crc32-pair key → 122 s after both fixes → 83 s with the hashed-block
    table persisted across its two consumers (2,415 pages/s).
    """
    # Materialize the token array as its own projection BEFORE the
    # higher-order block builder: an inline split(text) referenced from
    # inside the transform() lambda is re-evaluated per element (codegen
    # CSE does not reach into lambda bodies) — O(tokens²) per doc,
    # measured 5.8× slower at 20k pages.
    t = docs.select("doc_id", F.split(F.col(text_col), " ").alias("_toks"))
    nb = F.ceil(F.size("_toks") / F.lit(float(span))).cast("int")
    blocks = F.transform(
        F.sequence(F.lit(0), nb - 1),
        lambda i: F.array_join(F.slice(F.col("_toks"), i * span + 1, span), " "),
    )
    d = t.select("doc_id", blocks.alias("blocks"))
    # Persist the narrow hashed-block table (doc_id, pos, bid, ne — the
    # block STRING is dropped before caching): both the census and the
    # removed-position semi-join consume it, and without the cache the
    # 40M-row explode+hash pass runs twice (measured 134.5 s → 82.8 s at
    # 200k pages). ~21 bytes/block; released via the run's persist scope.
    ex = track_persist(
        d.select("doc_id", F.posexplode("blocks").alias("pos", "block")).select(
            "doc_id",
            "pos",
            F.xxhash64(F.col("block")).alias("bid"),
            (F.col("block") != "").alias("ne"),
        )
    )
    if min_docs == 2:
        # "appears in >= 2 distinct docs" ⟺ min(doc_id) != max(doc_id):
        # one hash aggregate with map-side partial min/max — the general
        # path's distinct() pre-shuffle moves every (bid, doc_id) pair
        # (~one row per block) across the wire before it can count, a full
        # extra exchange of the pipeline's biggest table.
        rep = (
            ex.where("ne")
            .groupBy("bid")
            .agg(F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx"))
            .where(F.col("_mn") != F.col("_mx"))
            .select("bid")
        )
    else:
        rep = (
            ex.where("ne")
            .select("bid", "doc_id")
            .distinct()
            .groupBy("bid")
            .agg(F.count("*").alias("nd"))
            .where(F.col("nd") >= min_docs)
            .select("bid")
        )
    removed = (
        ex.join(rep, ["bid"], "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_list("pos").alias("rm"))
    )
    rm = F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    return (
        d.join(removed, "doc_id", "left")
        .select(
            "doc_id",
            F.size("blocks").cast("long").alias("n_spans"),
            F.size(rm).cast("long").alias("n_removed"),
            F.array_join(
                F.filter(
                    F.col("blocks"),
                    lambda b, i: ~F.array_contains(rm, i),
                ),
                " ",
            ).alias("clean_text"),
        )
    )


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition quality signals, entirely per-row JVM
    expressions — ZERO shuffles at any corpus size:

    * ``dup_gram_ppm`` — fraction (ppm) of word 3-grams that are repeats
      of an earlier gram in the same doc (1 - distinct/total; docs under
      3 tokens fall back to tokens, like the n-gram operators).
    * ``top_bigram_ppm`` — share (ppm) of the doc's bigram slots taken by
      its single most frequent bigram (0 for docs under 2 tokens). The
      mode is computed without explode/groupBy: sort the bigram array and
      fold it with a (prev, run, best) struct accumulator.
    """
    tc = F.col("_toks")
    t = docs.select("doc_id", F.split("text", " ").alias("_toks"))
    n = F.size("_toks")
    grams3 = F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(0), n - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(tc, i + 1),
                F.element_at(tc, i + 2),
                F.element_at(tc, i + 3),
            ),
        ),
    ).otherwise(tc)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(tc, i + 1), F.element_at(tc, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # run-length fold over the sorted bigrams; every bigram contains a
    # space so the "" initial prev can never match a real element
    state = F.aggregate(
        F.sort_array(bigrams),
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc.best,
                F.when(x == acc.prev, acc.run + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    return t.select(
        "doc_id",
        F.floor(
            F.lit(1_000_000.0)
            * (F.size(grams3) - F.size(F.array_distinct(grams3)))
            / F.size(grams3)
        ).cast("long").alias("dup_gram_ppm"),
        F.when(n >= 2, F.floor(F.lit(1_000_000.0) * state.best / (n - 1)))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("top_bigram_ppm"),
    )


def token_topk_per_lang(docs: DataFrame, k: int = 10, salt: int = 16) -> DataFrame:
    """Top-k corpus tokens per language, (cnt DESC, token ASC) deterministic.

    A single window partitioned by lang would sort each language's ENTIRE
    vocabulary in one task chain (billions of distinct tokens per lang at
    production scale). Instead, the distributed TakeOrdered pattern
    expressed manually: stage 1 ranks within (lang, hash-salt bucket) —
    bounded partitions — keeping k per bucket, which provably contains the
    true per-lang top-k (a global top-k token is top-k within its own
    bucket); stage 2 re-ranks the ≤ k·salt survivors per lang, a trivially
    small window.
    """
    counts = (
        docs.select("lang", F.explode(_tokens()).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    bucket = F.pmod(F.xxhash64("token"), F.lit(salt))
    w1 = Window.partitionBy(F.col("lang"), bucket).orderBy(
        F.desc("cnt"), F.asc("token")
    )
    survivors = (
        counts.withColumn("_r", F.row_number().over(w1))
        .where(F.col("_r") <= k)
        .drop("_r")
    )
    w2 = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    return (
        survivors.withColumn("rnk", F.row_number().over(w2).cast("long"))
        .where(F.col("rnk") <= k)
        .select("lang", "token", "cnt", "rnk")
    )


def canonical_url(col: str = "url"):
    """Column expression canonicalizing a page URL for recrawl identity —
    pure JVM string/regexp/higher-order functions, usable anywhere a
    column is (e.g. as the dedup key ahead of incremental's
    (url, snapshot) identity):

    * scheme and host lowercased; default ports (:80 http, :443 https)
      stripped; fragment dropped
    * tracking query params removed (utm_*, fbclid, gclid); '?' dropped
      when the query empties
    * trailing slash trimmed from non-root paths

    URLs that do not look like scheme://host... pass through unchanged.
    """
    u = F.col(col)
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    host = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]+)", 1)
    )
    host = (
        F.when(scheme == "http", F.regexp_replace(host, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    rest = F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]+([^#]*)", 1)
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    path = F.when(F.length(path) > 1, F.regexp_replace(path, r"/$", "")).otherwise(
        path
    )
    query = F.regexp_extract(rest, r"^[^?]*\?(.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: ~(
            p.startswith("utm_") | p.startswith("fbclid=") | p.startswith("gclid=")
        )
        & (p != ""),
    )
    clean_query = F.array_join(kept, "&")
    rebuilt = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(clean_query != "", F.concat(F.lit("?"), clean_query)).otherwise(
            F.lit("")
        ),
    )
    return F.when(scheme != "", rebuilt).otherwise(u)


# GPT-2-flavor pretokenizer, restricted to the lookahead-free subset that
# java.util.regex (Spark codegen) and RE2 (the DuckDB oracle) match
# token-for-token: contraction suffixes, space-prefixed letter runs,
# space-prefixed digit runs, space-prefixed punctuation runs, whitespace
# runs. \p{L}/\p{N} are Unicode categories in both engines. Whitespace is
# the EXPLICIT class [ \t\n\x0B\f\r] (Java's \s) rather than the \s
# shorthand: RE2's \s excludes vertical tab \x0B, so bare \s would make
# the engine and the oracle disagree on any document containing \x0B.
_WS = r" \t\n\x0B\f\r"
BPE_PRETOKEN_RE = (
    r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^"
    + _WS
    + r"\p{L}\p{N}]+|["
    + _WS
    + "]+"
)
# maximal non-whitespace runs (Java-\S semantics, spelled explicitly for
# the same RE2-parity reason)
WS_TOKEN_RE = "[^" + _WS + "]+"


def token_counts(docs: DataFrame) -> DataFrame:
    """Per-doc training-budget accounting: whitespace tokens, BPE-ish
    pretokens, chars, bytes — (doc_id, n_ws_tokens, n_bpe_tokens,
    n_chars, n_bytes).

    ``n_bpe_tokens`` counts ``BPE_PRETOKEN_RE`` matches — the pretokenizer
    pass of a GPT-2-style BPE, which upper-bounds and closely tracks the
    real BPE token count (merges only ever fuse within a pretoken).
    Whitespace tokens are maximal ``\\S+`` runs (robust to repeated /
    leading / trailing whitespace, unlike a bare split-on-space).

    100-TB shape: four codegen regex/length expressions per row, zero
    shuffles, no Python — the scan's narrow projection (doc_id, text) is
    the whole plan.
    """
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(WS_TOKEN_RE), 0))
        .cast("long")
        .alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PRETOKEN_RE), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
        F.octet_length("text").cast("long").alias("n_bytes"),
    )


def source_stats(
    docs: DataFrame, spam_threshold_ppm: int = 250_000, text_col: str = "text"
) -> DataFrame:
    """Per-source corpus accounting + spam-source flag: (source, n_docs,
    n_chars, n_unique, dup_rate_ppm, is_spam_source).

    Web pipelines gate ingestion per DOMAIN, not per document: a source
    whose pages are mostly copies of each other (template farms, mirrors,
    scrapers) is dropped wholesale before any per-doc work. ``n_unique``
    counts distinct text fingerprints (xxhash64 — the repo-wide
    fingerprint-equals-identity convention, see pipeline.exact_dedup);
    ``dup_rate_ppm = (n_docs - n_unique) / n_docs`` and sources at or
    above ``spam_threshold_ppm`` are flagged.

    100-TB shape: Spark plans count(distinct fp) as a two-phase
    aggregate — a partial agg over (source, fp) in the scan task, a
    narrow (source, fp) exchange, then a per-source merge — so only
    16-byte pairs and partial counters cross the wire, never text, and
    the scan projects just (text, source). The driver oracle
    counts DISTINCT text directly (hash-free SQL), which agrees with the
    fingerprint count absent 64-bit collisions.
    """
    n_docs = F.count("*").alias("n_docs")
    # NULL texts carry no fingerprint (Spark's xxhash64(NULL) would return
    # the seed, silently making every NULL-text doc "the same document");
    # the when() guard keeps them out of n_unique exactly like SQL's
    # count(DISTINCT text) ignores NULLs
    fp = F.when(F.col(text_col).isNotNull(), F.xxhash64(text_col))
    agg = docs.groupBy("source").agg(
        n_docs,
        F.sum(F.length(text_col)).cast("long").alias("n_chars"),
        F.count_distinct(fp).alias("n_unique"),
    )
    dup_rate = F.floor(
        F.lit(1_000_000.0) * (F.col("n_docs") - F.col("n_unique")) / F.col("n_docs")
    ).cast("long")
    return agg.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_chars",
        F.col("n_unique").cast("long").alias("n_unique"),
        dup_rate.alias("dup_rate_ppm"),
        (dup_rate >= spam_threshold_ppm).alias("is_spam_source"),
    )


# ---- real BPE token counts (merge application, not just pretokens) ----

#: committed merges fixture: classic-BPE trained on the deterministic
#: synthetic corpus (see fixtures.train_bpe_merges). Production swaps in a
#: real tokenizer's merges.txt (GPT-2 format: one "left right" pair per
#: line, rank = line order) through the same loader.
DEFAULT_BPE_MERGES = os.path.join(os.path.dirname(__file__), "data", "bpe_merges_synth.txt")


def load_bpe_merges(path: str | None = None) -> list:
    """GPT-2-format merges file → [(left, right), ...] in rank order.
    Lines starting with '#' are headers; symbols are space-separated.

    Scope guard (ADVICE r5): the merge kernel (kernels.bpe_ranks /
    bpe_count_word) encodes symbols as raw UTF-8 bytes and starts from raw
    pretoken bytes. A table written in GPT-2's bytes_to_unicode-mapped
    alphabet ('Ġ' for space, remapped chars for bytes >= 0x80) would load
    without error but silently never match — so non-ASCII symbols are
    REJECTED here instead of producing wrong counts. Byte-mapped tables
    need the bytes_to_unicode inverse applied before loading.
    """
    out = []
    with open(path or DEFAULT_BPE_MERGES, encoding="utf-8") as f:
        for i, line in enumerate(f):
            line = line.rstrip("\n")
            if not line or line.startswith("#"):
                continue
            l, r = line.split(" ")
            if not (l.isascii() and r.isascii()):
                raise ValueError(
                    f"merges line {i + 1}: non-ASCII symbol {(l, r)!r} — this "
                    "loader takes raw-byte (ASCII) merge tables; a GPT-2 "
                    "bytes_to_unicode-mapped merges.txt must be inverse-mapped "
                    "to raw bytes first (the kernel matches raw UTF-8 bytes, "
                    "so mapped symbols would silently never merge)"
                )
            out.append((l, r))
    return out


def token_counts_bpe(
    docs: DataFrame,
    merges: list | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_bpe_real): REAL byte-level BPE token counts — the merge
    loop applied, not the pretoken upper bound of :func:`token_counts`.

    Split of labor (100-TB shape): the PRETOKENIZER runs JVM-side
    (``regexp_extract_all`` with the same BPE_PRETOKEN_RE as
    ``n_bpe_tokens`` — merges never cross pretoken boundaries, GPT-2's
    own contract), so the Arrow-batched pandas UDF only runs the merge
    loop per distinct pretoken with a memo cache (Zipfian repetition
    makes the cache hit rate high). Zero shuffles; scan → project.
    ``merges`` defaults to the committed synthetic fixture.
    """
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    from webdedup import kernels as K

    ranks = K.bpe_ranks(merges if merges is not None else load_bpe_merges())

    @pandas_udf(LongType())
    def _count(pretoks: pd.Series) -> pd.Series:
        cache: dict = {}
        return pd.Series(
            K.bpe_count_pretokens(pretoks.tolist(), ranks, cache), dtype="int64"
        )

    return docs.select(
        F.col(id_col).alias("doc_id"),
        _count(
            F.regexp_extract_all(text_col, F.lit(BPE_PRETOKEN_RE), F.lit(0))
        ).alias("n_bpe_real"),
    )

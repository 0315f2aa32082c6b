"""End-to-end pipeline tests on synthetic pages with planted duplicates.

Ground truth for recall is the brute-force all-pairs exact Jaccard oracle
(the same role run_test.py:73-77 plays in the reference: recall of the
approximate path against the exact one).
"""

import itertools
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from webdedup import kernels as K
from webdedup.config import DedupConfig
from webdedup.fixtures import extract_text, generate_pages, pages_dataframe
from webdedup.pipeline import collect_counters, dedup

CFG = DedupConfig(
    number_of_hash_functions=128,
    rows_per_band=4,
    shingle_size=3,
    jaccard_threshold=0.8,
    max_bin_size=2000,
)


@pytest.fixture(scope="module")
def pages(spark):
    pages, truth = pages_dataframe(spark, n=400, seed=42)
    pages.persist()
    return pages, truth


@pytest.fixture(scope="module")
def result(spark, pages):
    pages_df, _ = pages
    res = dedup(pages_df, CFG)
    res.clusters.persist()
    res.pairs.persist()
    return res


def brute_force_dup_pairs(rows, threshold, n_shingle):
    """All (url_a, url_b) with exact Jaccard >= threshold — the oracle."""
    sh = {r["url"]: K.shingle_text(r["text"], n_shingle) for r in rows}
    urls = sorted(sh)
    out = set()
    for ua, ub in itertools.combinations(urls, 2):
        if K.jaccard_sorted(sh[ua], sh[ub]) >= threshold:
            out.add((min(ua, ub), max(ua, ub)))
    return out


def test_fixture_invariant_text_extraction():
    ps = generate_pages(50, seed=42)
    for r in ps.rows:
        assert extract_text(r["html"]) == r["text"]


def test_recall_vs_bruteforce_oracle(spark, pages, result):
    pages_df, _ = pages
    rows = [r.asDict() for r in pages_df.select("url", "text").collect()]
    truth_pairs = brute_force_dup_pairs(rows, CFG.jaccard_threshold, CFG.shingle_size)
    assert len(truth_pairs) > 30, "fixture must plant enough high-J pairs"

    # cluster assignments: every truth pair must land in the same cluster
    cl = {r["url"]: r["cluster_id"] for r in result.clusters.collect()}
    hit = sum(1 for a, b in truth_pairs if cl[a] == cl[b])
    recall = hit / len(truth_pairs)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99 ({hit}/{len(truth_pairs)})"


def test_verified_pairs_precision(spark, pages, result):
    """Every verified near pair must truly meet the Jaccard threshold."""
    pages_df, _ = pages
    sh = {
        r["url"]: K.shingle_text(r["text"], CFG.shingle_size)
        for r in pages_df.select("url", "text").collect()
    }
    id2url = {
        r["doc_id"]: r["url"]
        for r in pages_df.select(
            "url", F.xxhash64("url").alias("doc_id")
        ).collect()
    }
    checked = 0
    for r in result.pairs.where("kind = 'near'").collect():
        ja = K.jaccard_sorted(sh[id2url[r["a"]]], sh[id2url[r["b"]]])
        assert ja >= CFG.jaccard_threshold - 1e-9
        assert ja == pytest.approx(r["jaccard"])
        checked += 1
    assert checked > 0


def test_exact_duplicates_share_cluster(spark, pages, result):
    pages_df, truth = pages
    exact = truth.where("kind = 'exact'").collect()
    assert exact
    cl = {r["url"]: r["cluster_id"] for r in result.clusters.collect()}
    for r in exact:
        assert cl[r["url_a"]] == cl[r["url_b"]]


def test_substring_duplicates_share_cluster(spark, pages, result):
    pages_df, truth = pages
    subs = truth.where("kind = 'substring'").collect()
    assert subs
    cl = {r["url"]: r["cluster_id"] for r in result.clusters.collect()}
    hit = sum(1 for r in subs if cl[r["url_a"]] == cl[r["url_b"]])
    assert hit / len(subs) >= 0.99


def test_counters(result):
    c = collect_counters(result)
    assert c["pages"] == 400
    assert c["unique_texts"] < c["pages"]
    assert c["verified_pairs"] > 0
    assert c["clusters"] < c["pages"]


def test_determinism(spark, pages):
    pages_df, _ = pages
    a = {(r["url"], r["cluster_id"]) for r in dedup(pages_df, CFG).clusters.collect()}
    b = {(r["url"], r["cluster_id"]) for r in dedup(pages_df, CFG).clusters.collect()}
    assert a == b


def test_cluster_ids_are_member_min(result):
    """cluster_id must equal the min doc_id of the component (stable labels)."""
    rows = result.clusters.groupBy("cluster_id").agg(F.min("doc_id").alias("m")).collect()
    for r in rows:
        assert r["cluster_id"] == r["m"]


def test_edge_plan_reads_featurize_leaf_not_lineage(result):
    """Every branch downstream of featurize plans against ONE checkpoint
    leaf: the analyzed plan of the edge set must not contain the featurize
    pandas UDF at all (a lazily persisted feat frame repeated its whole
    lineage, UDF included, once per branch)."""
    plan = result.pairs._jdf.queryExecution().analyzed().toString()
    assert plan.count("featurize(") == 0
    assert "LogicalRDD" in plan


def test_edge_plan_runs_each_candidate_subtree_once(result):
    """The materialized edge cache's final plan evaluates the exact-Jaccard
    UDF once per pair and runs each candidate self-join once: the pair-id
    sets read the deduped pairs' exchange instead of a mid-DAG cache or a
    second copy of the band joins. The edge plan reads no cache at all:
    ``docs`` and ``feat`` are checkpoint leaves, and a cached input is read
    only by the action that fills the docs leaf."""
    from capture_plans import edge_cache_plan, plan_shape

    result.pairs.count()
    shape = plan_shape(edge_cache_plan(result.pairs))
    assert shape["jaccard_udf_evals"] == 1, shape
    assert shape["lsh_band_joins"] == 1, shape
    assert shape["simhash_band_joins"] == 1, shape
    assert shape["caches"] == 0, shape


def test_dedup_job_budget(pages, run_jobs):
    """dedup() and a collect of its clusters run a fixed number of Spark
    jobs: the docs leaf's one action also counts the corpus, connected
    components reads the edge set once, and the labels join the doc keys
    once. A new job barrier anywhere in the run shows here."""
    pages_df, _ = pages
    pages_df.count()  # fill the module's cached input outside the group

    def run():
        res = dedup(pages_df, CFG)
        res.clusters.collect()
        return res

    res, n_jobs = run_jobs("test_dedup_job_budget", run)
    res.release()
    assert n_jobs == 31, n_jobs


def test_broadcast_id_limit_shuffled_semi_joins_match_default(
    spark, pages, result, run_jobs
):
    """With a bound above broadcast_id_limit every id-set semi-join is a
    plain shuffled join: no count job and no cache per id set, so the run
    takes 33 jobs to the default path's 31, and the edge plan's one cache
    is the edge set itself. The edges and clusters must not change."""
    from dataclasses import replace

    pages_df, _ = pages

    def run():
        res = dedup(pages_df, replace(CFG, broadcast_id_limit=1))
        res.clusters.collect()
        return res

    res, n_jobs = run_jobs("test_broadcast_id_limit_shuffled", run)
    try:
        assert n_jobs == 33, n_jobs
        plan = res.pairs._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("InMemoryRelation") == 1, plan
        cols = ["a", "b", "jaccard", "kind"]
        assert sorted(res.pairs.select(*cols).collect()) == sorted(
            result.pairs.select(*cols).collect()
        )
        assert sorted(res.clusters.collect()) == sorted(result.clusters.collect())
    finally:
        res.release()


def test_simhash_key_expr_matches_column_tree(spark):
    """The block-triple keys built as one SQL expression emit exactly the
    (doc_id, tbl, key) rows of the same keys built as an F.* Column tree,
    over the full signed-64 simhash range."""
    from webdedup import lsh

    rng = np.random.default_rng(5)
    i64 = np.iinfo(np.int64)
    sims = [int(x) for x in rng.integers(i64.min, i64.max, 300, dtype=np.int64)]
    sims += [0, -1, int(i64.min), int(i64.max)]
    df = spark.createDataFrame(list(enumerate(sims)), "doc_id long, simhash long")

    for t in (CFG.simhash_hamming_threshold, 0, 7):
        widths, starts, combos = lsh._simhash_tables(t)

        def block(i):
            mask = (1 << widths[i]) - 1
            return F.shiftright(F.col("simhash"), starts[i]).bitwiseAND(F.lit(mask))

        tree = F.array(
            *[
                F.struct(
                    F.lit(ci).alias("tbl"),
                    (
                        F.shiftleft(block(a), widths[b] + widths[c])
                        + F.shiftleft(block(b), widths[c])
                        + block(c)
                    ).alias("key"),
                )
                for ci, (a, b, c) in enumerate(combos)
            ]
        )

        def rows(keys):
            return df.select("doc_id", F.explode(keys).alias("k")).select(
                "doc_id", "k.tbl", "k.key"
            )

        got, want = rows(lsh._simhash_key_col(t)), rows(tree)
        assert got.dtypes == want.dtypes == [
            ("doc_id", "bigint"), ("tbl", "int"), ("key", "bigint")
        ]
        assert got.count() == want.count() == len(sims) * len(combos)
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0


def test_near_cap_bucket_pair_budget(spark):
    """A band bucket just under max_bin_size must emit exactly B(B-1)/2
    in-bucket candidate pairs (quadratic but bounded by the cap: worst case
    ~max_bin_size^2/2 per bucket, split at runtime by AQE skew-join), while
    a bucket AT the cap is tombstoned and emits none."""
    from webdedup import lsh

    cfg = DedupConfig(max_bin_size=40)
    under = 39   # = cap - 1: survives, emits 39*38/2 pairs
    over = 40    # = cap: killed entirely
    rows = (
        [(i, 0, 1111) for i in range(under)]
        + [(1000 + i, 0, 2222) for i in range(over)]
    )
    feat_rows = spark.createDataFrame(rows, "doc_id long, band int, band_hash long")
    # feed the bucket rows directly through the tombstone + self-join
    keys = ["band", "band_hash"]
    ok = lsh.drop_hot(feat_rows, keys, cfg.max_bin_size)
    assert ok.where("band_hash = 2222").count() == 0
    pairs = lsh.key_pairs(ok, keys).dropDuplicates(["a", "b"])
    assert pairs.count() == under * (under - 1) // 2


def test_touching_pairs_match_full_then_filter(spark, pages):
    """``touching`` restricts MinHash and SimHash candidates to exactly the
    unrestricted pairs with a side in the touching set. A planted bucket
    of max_bin_size docs, only a quarter of them touching, stays
    tombstoned: the census counts every row, not only the touching ones."""
    from webdedup import lsh
    from webdedup.signatures import featurize

    pages_df, _ = pages
    cfg = DedupConfig(max_bin_size=40)
    docs = pages_df.select(F.xxhash64("url").alias("doc_id"), "text")
    real = featurize(docs, cfg).select("doc_id", "bands", "simhash")
    # one band vector and one fingerprint shared by max_bin_size docs: every
    # band bucket and SimHash key of theirs sits exactly at the cap
    base = -1_000_000
    planted = spark.range(cfg.max_bin_size).select(
        (F.lit(base) - F.col("id")).alias("doc_id"),
        F.array_repeat(F.lit(777).cast("long"), cfg.num_bands).alias("bands"),
        F.lit(0x5A5A5A5A).cast("long").alias("simhash"),
    )
    feat = real.unionByName(planted).localCheckpoint()
    new = feat.where(F.col("doc_id") % 4 == 0).select("doc_id")
    new_ids = {r.doc_id for r in new.collect()}
    planted_ids = {base - i for i in range(cfg.max_bin_size)}
    assert 0 < len(new_ids & planted_ids) < cfg.max_bin_size

    for gen in (lsh.candidate_pairs, lsh.simhash_candidate_pairs):
        full = {(r.a, r.b) for r in gen(feat, cfg).collect()}
        want = {(a, b) for a, b in full if a in new_ids or b in new_ids}
        rows = gen(feat, cfg, touching=new).collect()
        got = {(r.a, r.b) for r in rows}
        assert want, gen.__name__
        assert len(rows) == len(got), gen.__name__  # deduped, each a < b
        assert all(a < b for a, b in got), gen.__name__
        assert got == want, gen.__name__
        assert not any(a in planted_ids or b in planted_ids for a, b in got)


def test_substring_fused_fps_path_matches_udf_path(spark, pages, run_jobs):
    """The fps_col+texts_df fast path (fused featurize fingerprints, texts
    re-carved from a separate frame) must return exactly the pairs the
    standalone per-pass-UDF path returns. The UDF path, called with no
    ``known_max``, broadcasts its texts semi-join without a count job."""
    from webdedup.signatures import featurize
    from webdedup.substring import substring_pairs

    pages_df, _ = pages
    cfg = DedupConfig()
    docs = pages_df.select(F.xxhash64("url").alias("doc_id"), "text")

    def run():
        out = substring_pairs(docs, cfg)
        return out, {(r["a"], r["b"]) for r in out.collect()}

    (udf_path, via_udf), n_jobs = run_jobs("test_substring_udf_path", run)
    # the fingerprint checkpoint's observed row count bounds the pair ids,
    # so the texts semi-join broadcasts with no count job of its own
    assert n_jobs == 10, n_jobs
    executed = udf_path._jdf.queryExecution().executedPlan().toString()
    semi = r"BroadcastHashJoin \[doc_id#\d+L\], \[doc_id#\d+L\], LeftSemi"
    assert re.search(semi, executed), executed
    feat = featurize(docs, cfg, with_substring_fps=True).select(
        "doc_id", "substr_fps"
    )
    via_fused = {
        (r["a"], r["b"])
        for r in substring_pairs(
            feat, cfg, fps_col="substr_fps", texts_df=docs
        ).collect()
    }
    assert via_fused == via_udf and via_udf


def test_select_canonical_ordering_and_coverage(spark):
    """Keeper = highest ttr_ppm, then longest, then smallest doc_id; every
    doc appears exactly once with a canonical from its own cluster."""
    from webdedup.pipeline import select_canonical

    clusters = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 40), (5, 50), (6, 50)],
        "doc_id long, cluster_id long",
    )
    quality = spark.createDataFrame(
        [
            # cluster 10: doc 2 wins on ttr
            (1, 100, 50, 500_000),
            (2, 100, 90, 900_000),
            (3, 200, 100, 500_000),
            # singleton cluster 40
            (4, 10, 10, 1_000_000),
            # cluster 50: ttr tie -> doc 6 wins on n_tokens
            (5, 100, 80, 800_000),
            (6, 150, 120, 800_000),
        ],
        "doc_id long, n_tokens long, n_distinct long, ttr_ppm long",
    )
    rows = {
        r.doc_id: r
        for r in select_canonical(clusters, quality).collect()
    }
    assert set(rows) == {1, 2, 3, 4, 5, 6}
    assert all(rows[d].canonical_id == 2 for d in (1, 2, 3))
    assert rows[4].canonical_id == 4
    assert all(rows[d].canonical_id == 6 for d in (5, 6))
    assert [rows[d].is_canonical for d in (1, 2, 3, 4, 5, 6)] == [0, 1, 0, 1, 0, 1]


def test_select_canonical_id_tiebreak(spark):
    """Full tie on (ttr, n_tokens) -> smallest doc_id is the keeper."""
    from webdedup.pipeline import select_canonical

    clusters = spark.createDataFrame(
        [(7, 7), (9, 7), (8, 7)], "doc_id long, cluster_id long"
    )
    quality = spark.createDataFrame(
        [(7, 100, 50, 500_000), (8, 100, 50, 500_000), (9, 100, 50, 500_000)],
        "doc_id long, n_tokens long, n_distinct long, ttr_ppm long",
    )
    out = select_canonical(clusters, quality).collect()
    assert all(r.canonical_id == 7 for r in out)
    assert sorted(r.doc_id for r in out if r.is_canonical) == [7]


def test_span_dedup_block_semantics(spark):
    """Aligned repeated 5-token blocks are cut everywhere; the same words at
    a non-aligned offset survive; short tail blocks are kept verbatim."""
    from webdedup.textstats import span_dedup

    boiler = "all rights reserved contact us"       # one aligned block
    docs = spark.createDataFrame(
        [
            (1, boiler + " alpha beta gamma delta eps tail1 tail2"),
            (2, boiler + " one two three four five"),
            # same 5 words but shifted one token off the block grid
            (3, "shift " + boiler + " x y z w"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in span_dedup(docs, span=5, min_docs=2).collect()}
    # docs 1 and 2 lose exactly the aligned boilerplate block
    assert out[1].n_removed == 1 and out[1].clean_text == \
        "alpha beta gamma delta eps tail1 tail2"
    assert out[2].n_removed == 1 and out[2].clean_text == "one two three four five"
    # doc 3's copy is off-grid: its blocks differ, nothing removed
    assert out[3].n_removed == 0 and out[3].clean_text == \
        "shift " + boiler + " x y z w"
    # tail blocks shorter than span survive as-is (doc 1 had 8 trailing
    # tokens -> blocks of 5 + 3)
    assert out[1].n_spans == 3 and out[2].n_spans == 2


def test_clean_corpus_composition(spark):
    """Exact-dup pair collapses to one keeper, the low-quality doc is
    dropped by the ttr gate, and boilerplate shared by two survivors is
    cut from both."""
    from webdedup.pipeline import clean_corpus

    boiler = "all rights reserved contact us"
    t_dup = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [
        (1, t_dup),
        (2, t_dup),                      # exact dup of 1 -> same cluster
        (3, " ".join(["spam"] * 20)),    # ttr 50k ppm -> quality-dropped
        (4, boiler + " kilo lima mike november oscar papa quebec romeo"),
        (5, boiler + " sierra tango uniform victor whiskey xray yankee zulu"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in clean_corpus(docs, CFG).collect()}
    assert set(out) == {1, 4, 5}                      # 2 deduped, 3 dropped
    assert out[1].cluster_id == 1 and out[1].n_removed == 0
    assert out[1].clean_text == t_dup
    for d in (4, 5):
        assert out[d].n_removed == 1                  # shared aligned block
        assert not out[d].clean_text.startswith(boiler)
    assert out[4].clean_text == "kilo lima mike november oscar papa quebec romeo"


def test_span_dedup_reconstruction_invariant(spark):
    """With an unreachable min_docs the rebuild must return every text
    byte-identically — split/block/join must be a perfect inverse even for
    empty strings, repeated/leading/trailing spaces (empty tokens), unicode,
    and token counts straddling block boundaries."""
    from webdedup.textstats import span_dedup

    texts = [
        "",
        " ",
        "a",
        "a  b",
        "  leading and trailing  ",
        "exactly five tokens right here",
        "six tokens spill into block two now",
        "ünïcode tökens — mixed, with punctuation!",
        " ".join(f"tok{i}" for i in range(23)),
        " ".join(f"tok{i % 7}" for i in range(1000)),
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = {r.doc_id: r for r in span_dedup(docs, min_docs=10**9).collect()}
    for i, txt in enumerate(texts):
        assert out[i].n_removed == 0
        assert out[i].clean_text == txt, f"doc {i!r} not reconstructed"


def test_repetition_scores_values_and_plan(spark):
    from webdedup.textstats import repetition_scores

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),     # 2 identical 3-grams, 3 identical bigrams
            (2, "a b a b a b"),             # grams 4/2 distinct; "a b" holds 3/5 slots
            (3, "x"),                       # short-doc fallbacks
            (4, "all tokens here are distinct words"),
        ],
        "doc_id long, text string",
    )
    out = repetition_scores(docs)
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].dup_gram_ppm == 500_000 and rows[1].top_bigram_ppm == 1_000_000
    assert rows[2].dup_gram_ppm == 500_000 and rows[2].top_bigram_ppm == 600_000
    assert rows[3].dup_gram_ppm == 0 and rows[3].top_bigram_ppm == 0
    assert rows[4].dup_gram_ppm == 0 and rows[4].top_bigram_ppm == 200_000
    # the operator's contract: per-row JVM expressions only, NO shuffle
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_token_topk_per_lang_matches_naive_window(spark):
    """The salted two-stage TakeOrdered must equal a single per-lang window
    rank on a corpus where winners spread across salt buckets."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from webdedup.textstats import token_topk_per_lang, _tokens

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(60)]
    rows = [
        (i, " ".join(rng.choices(vocab, k=rng.randint(5, 40))),
         rng.choice(["en", "de"]))
        for i in range(120)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r.lang, r.rnk): (r.token, r.cnt)
        for r in token_topk_per_lang(docs, k=7, salt=4).collect()
    }
    counts = (
        docs.select("lang", F.explode(_tokens()).alias("token"))
        .groupBy("lang", "token").agg(F.count("*").cast("long").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    want = {
        (r.lang, r.rnk): (r.token, r.cnt)
        for r in counts.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 7).collect()
    }
    assert got == want and len(got) == 14


def test_canonical_url_variants_collapse(spark):
    """Spelling variants of the same resource must map to one canonical
    form; distinct resources and non-URL strings must not collapse."""
    from webdedup.textstats import canonical_url

    urls = [
        "HTTP://Example.COM:80/a/b/",
        "http://example.com/a/b",
        "http://example.com/a/b#frag",
        "http://example.com/a/b?utm_source=x&utm_campaign=y",
        "http://example.com/a/b?gclid=123",
        # keeps a real param, strips the tracker
        "http://example.com/a/b?id=7&fbclid=abc",
        "https://example.com:443/",
        "https://example.com/",
        # distinct resources
        "http://example.com/a/c",
        "http://other.com/a/b",
        # not a URL: pass through untouched
        "not a url at all",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = [r.c for r in df.select(canonical_url().alias("c")).collect()]
    base = "http://example.com/a/b"
    assert out[0] == base and out[1] == base and out[2] == base
    assert out[3] == base and out[4] == base
    assert out[5] == base + "?id=7"
    assert out[6] == "https://example.com/" and out[7] == "https://example.com/"
    assert out[8] == "http://example.com/a/c"
    assert out[9] == "http://other.com/a/b"
    assert out[10] == "not a url at all"

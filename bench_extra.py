#!/usr/bin/env python
"""Round-6 optimization measurement harness (bench.py itself is FROZEN).

Sub-commands:
  --queries [names...]   time each headline query with the bench's own
                         .count() protocol (3 reps, per-query seconds) and
                         dump .explain("formatted") to plans/r06/.
  --stage-lsh            isolate featurize vs candidate-join cost inside
                         q_lsh_candidate_pairs.

Uses the same session factory + env contract as bench.py
($SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS) so numbers are comparable.
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def _spark():
    from webdedup.session import get_spark

    spark = get_spark(
        app_name=f"webdedup-extra-{CPUS}",
        cores=CPUS,
        shuffle_partitions=max(CPUS, 16),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _capture_plan(df, name: str, suffix: str) -> None:
    os.makedirs(PLAN_DIR, exist_ok=True)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(os.path.join(PLAN_DIR, f"{name}_{suffix}.txt"), "w") as f:
        f.write(plan)


def run_queries(names=None, reps: int = 3, suffix: str | None = None):
    import __spark_entry__ as E
    from webdedup.joins import release_persisted
    from webdedup.pipeline import dedup

    spark = _spark()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # same warmup as bench.py
    dedup(docs.limit(2000), E.CFG, id_col="doc_id").clusters.count()
    spark.catalog.clearCache()
    release_persisted()

    def _dedup():
        res = dedup(
            spark.read.parquet(f"{SF_DIR}/documents.parquet"), E.CFG, id_col="doc_id"
        )
        return res.clusters.count()

    suite = {
        "q_dedup_e2e": _dedup,
        "q_lsh_candidates": lambda: E.q_lsh_candidate_pairs(spark, SF_DIR).count(),
        "q_ngram_jaccard": lambda: E.q_ngram_jaccard_pairs(spark, SF_DIR).count(),
        "q_cosine_ann_ivf": lambda: E.q_cosine_ann_ivf(spark, SF_DIR).count(),
        "q_simhash": lambda: E.q_simhash_fingerprints(spark, SF_DIR).count(),
        "q_token_topk": lambda: E.q_token_topk(spark, SF_DIR).count(),
    }
    if names:
        suite = {k: v for k, v in suite.items() if k in names}

    # capture plans once (before timing, so plan capture cost is untimed)
    if suffix:
        plan_funcs = {
            "q_dedup_e2e": lambda: dedup(
                spark.read.parquet(f"{SF_DIR}/documents.parquet"),
                E.CFG, id_col="doc_id",
            ).clusters,
            "q_lsh_candidates": lambda: E.q_lsh_candidate_pairs(spark, SF_DIR),
            "q_ngram_jaccard": lambda: E.q_ngram_jaccard_pairs(spark, SF_DIR),
            "q_cosine_ann_ivf": lambda: E.q_cosine_ann_ivf(spark, SF_DIR),
            "q_simhash": lambda: E.q_simhash_fingerprints(spark, SF_DIR),
            "q_token_topk": lambda: E.q_token_topk(spark, SF_DIR),
        }
        for name in suite:
            try:
                _capture_plan(plan_funcs[name](), name, suffix)
            except Exception as e:  # noqa: BLE001
                print(f"plan capture {name} failed: {e}", file=sys.stderr)
            spark.catalog.clearCache()
            release_persisted()

    all_reps = []
    for _ in range(reps):
        timings = {}
        for name, fn in suite.items():
            spark.sparkContext.setJobDescription(name)
            t0 = time.perf_counter()
            fn()
            timings[name] = round(time.perf_counter() - t0, 3)
            spark.sparkContext.setJobDescription(None)
        all_reps.append(timings)
        spark.catalog.clearCache()
        release_persisted()

    def med(vals):
        v = sorted(vals)
        return v[len(v) // 2]

    medians = {n: med([r[n] for r in all_reps]) for n in suite}
    print(json.dumps({"medians": medians, "reps": all_reps, "cpus": CPUS}))
    spark.stop()


def stage_lsh():
    import __spark_entry__ as E
    from pyspark.sql import functions as F
    from webdedup import lsh
    from webdedup.joins import release_persisted, track_persist
    from webdedup.signatures import featurize

    spark = _spark()
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    docs.count()
    for rep in range(2):
        t0 = time.perf_counter()
        feat = featurize(
            docs.withColumnRenamed("doc_id", "_id").withColumn(
                "doc_id", F.col("_id")
            ),
            E.CFG,
        )
        feat.write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        print(f"[rep {rep}] featurize(noop)={t1-t0:.2f}s", flush=True)
        n = lsh.candidate_pairs(feat, E.CFG).count()
        t2 = time.perf_counter()
        print(f"[rep {rep}] full query count={t2-t1:.2f}s pairs={n}", flush=True)
        spark.catalog.clearCache()
        release_persisted()
    spark.stop()


def knn_corpus(path: str, reps: int = 2):
    """kneighbors fast=False at an arbitrary corpus (the 1M scale row the
    frozen bench.py skips — VERDICT r5 #4), same config + warmed-median
    protocol as run_corpus_bench's 200k kneighbors op."""
    import json as _json

    from pyspark.sql import functions as F
    from webdedup.api import MinHashNeighbors
    from webdedup.joins import release_persisted

    spark = _spark()
    pages = spark.read.parquet(path)
    n = pages.count()
    feats = pages.select(
        F.xxhash64("url").alias("id"),
        F.array_distinct(F.transform(F.split("text", " "), F.crc32)).alias(
            "features"
        ),
    )

    def _knn():
        nn = MinHashNeighbors(
            n_neighbors=3, number_of_hash_functions=32, max_bin_size=50,
            fast=False, metric="jaccard",
        ).fit(feats)
        return nn.kneighbors().count()

    _knn()  # untimed full-scale warmup (bench protocol)
    spark.catalog.clearCache()
    release_persisted()
    walls = []
    rows = None
    for _ in range(reps):
        t0 = time.perf_counter()
        rows = _knn()
        walls.append(round(time.perf_counter() - t0, 2))
        spark.catalog.clearCache()
        release_persisted()
    med = sorted(walls)[len(walls) // 2]
    print(_json.dumps({
        "metric": "kneighbors_corpus", "path": path, "n_docs": n,
        "cpus": CPUS, "reps": reps, "kneighbors_sec": med,
        "kneighbors_docs_per_sec": round(n / med, 1),
        "rep_timings": walls, "edge_rows": rows,
    }))
    spark.stop()


def synth_merges(n: int = 50_000, seed: int = 7) -> list:
    """GPT-2-format synthetic merge table at real-vocab scale (~50k ranks,
    the VERDICT r5 #3 datapoint): alphabet seeds + random composition of
    already-created symbols — ASCII, space-free, kernel-valid. Not
    rank-monotone-trained (only the DuckDB oracle needs that; the oracle
    covers the committed 512-merge fixture, this table is perf-only)."""
    import random

    rng = random.Random(seed)
    pool = [chr(c) for c in range(ord("a"), ord("z") + 1)]
    merges, seen = [], set()
    while len(merges) < n:
        l = rng.choice(pool)
        r = rng.choice(pool)
        if len(l) + len(r) > 12 or (l, r) in seen:
            continue
        seen.add((l, r))
        merges.append((l, r))
        pool.append(l + r)
    return merges


def bpe_corpus(path: str, n_merges: int = 50_000, reps: int = 2):
    """token_counts_bpe over the bench corpus with a ~real-vocab-size merge
    table; noop sink (guide §1.4), warmed medians, cache-hit-rate probe."""
    import json as _json

    from pyspark.sql import functions as F
    from webdedup.textstats import token_counts_bpe
    from webdedup import kernels as K

    merges = synth_merges(n_merges)
    spark = _spark()
    docs = spark.read.parquet(path).select(
        F.xxhash64("url").alias("doc_id"), "text"
    )
    n = docs.count()

    def run():
        token_counts_bpe(docs, merges=merges).write.format("noop").mode(
            "overwrite"
        ).save()

    run()  # untimed warmup
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        run()
        walls.append(round(time.perf_counter() - t0, 2))
    med = sorted(walls)[len(walls) // 2]
    # driver-side cache-hit probe on a 2k-doc sample (same kernel + cache)
    ranks = K.bpe_ranks(merges)
    sample = [r[0] for r in docs.select("text").limit(2000).collect()]
    import re as _re

    from webdedup.textstats import BPE_PRETOKEN_RE

    jre = BPE_PRETOKEN_RE.replace(r"\p{L}", "[a-zA-Z]").replace(
        r"\p{N}", "[0-9]"
    )
    cache: dict = {}
    total = 0
    for t in sample:
        toks = _re.findall(jre, t)
        total += len(toks)
        K.bpe_count_pretokens([toks], ranks, cache)
    print(_json.dumps({
        "metric": "token_counts_bpe_real_vocab", "path": path, "n_docs": n,
        "n_merges": n_merges, "cpus": CPUS, "reps": reps,
        "sec": med, "pages_per_sec": round(n / med, 1),
        "rep_timings": walls,
        "cache_probe": {
            "sample_docs": 2000, "pretokens": total,
            "distinct_pretokens": len(cache),
            "hit_rate": round(1 - len(cache) / max(total, 1), 4),
        },
    }))
    spark.stop()


if __name__ == "__main__":
    if "--bpe-corpus" in sys.argv:
        bpe_corpus(sys.argv[sys.argv.index("--bpe-corpus") + 1])
    elif "--knn-corpus" in sys.argv:
        knn_corpus(sys.argv[sys.argv.index("--knn-corpus") + 1])
    elif "--stage-lsh" in sys.argv:
        stage_lsh()
    else:
        args = [a for a in sys.argv[1:] if not a.startswith("--")]
        suffix = None
        if "--plans" in sys.argv:
            suffix = sys.argv[sys.argv.index("--plans") + 1]
        run_queries(names=args or None, suffix=suffix)

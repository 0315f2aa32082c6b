#!/usr/bin/env python
"""Capture the plans of dedup()'s edge frame (``DedupResult.pairs``) or of
the benchmark's ``MinHashNeighbors.kneighbors()`` self-query.

Usage: cd <checkout to capture> && PYTHONPATH=. python -P <this tree>/capture_plans.py \
           <round> <pages parquet dir> <suffix> [dedup|dedup-shuffled|kneighbors]

Run it from the root of the checkout whose plans it captures (this tree
for 'after', a checkout of the previous commit for 'before'): Spark's
Python workers start in this process's working directory and import
``webdedup`` from there, so PYTHONPATH alone cannot point them at another
tree. -P keeps this script's directory off sys.path. The
script runs one tiny job first and exits with a message when a worker's
``webdedup`` is not this process's.

  <round>              plan directory name, e.g. r08 -> plans/r08/
  <pages parquet dir>  a seeded benchmark input (an absolute path), e.g.
                       .perfbench/inputs/n2000-s1/pages (dedup and
                       dedup-shuffled, after one ``perfbench/run.py
                       --workload dedup_2k --seed 1`` run) or
                       .perfbench/inputs/n5000-s1/pages (kneighbors, after
                       ``--workload kneighbors_5k --seed 1``)
  <suffix>             'before' (run from a checkout of the previous
                       commit) or 'after' (run from this tree)
  dedup|dedup-shuffled|kneighbors
                       target, default dedup

The files land in plans/<round>/ next to this script, whichever tree ran.
dedup: dedup_edges_analyzed_<suffix>.txt (the analyzed plan) and
dedup_edges_final_<suffix>.txt (the final adaptive plan of the edge cache,
read after the edge frame is materialized; nested cache fills included).
dedup-shuffled: the dedup capture with ``broadcast_id_limit=0``, so every
id-set semi-join is shuffled, written as
dedup_shuffled_edges_final_<suffix>.txt.
kneighbors: kneighbors_final_<suffix>.txt, the final adaptive plan of the
collected edge frame of the ``kneighbors_5k`` call (k=3, 32 hashes,
max_bin_size=50, fast=False, jaccard) over the pages' token-id sets.
Input file locations are shown as ``file:<pages>``, and a broadcast join's
build side as ``Build<side>``: AQE picks it from run-time sizes, so the
same tree and input can print ``BuildLeft`` in one capture and
``BuildRight`` in the next. The script prints the
plan-shape counts tests/test_pipeline.py asserts (dedup), or the cache and
checkpoint scans and query stages of the final plan (kneighbors).
"""

import os
import re
import sys

from pyspark.sql import functions as F

from webdedup.api import MinHashNeighbors
from webdedup.config import DedupConfig
from webdedup.joins import release_persisted
from webdedup.pipeline import dedup
from webdedup.session import get_spark


def edge_cache_plan(pairs) -> str:
    """Final physical plan string of the cache behind a materialized
    ``DedupResult.pairs``."""
    return (
        pairs._jdf.queryExecution().withCachedData().cacheBuilder()
        .cachedPlan().toString()
    )


def stable_plan(plan: str) -> str:
    """``plan`` with what differs from run to run on the same tree and
    input masked: input file locations and broadcast joins' build sides."""
    plan = re.sub(r"file:[^\],\s]*", "file:<pages>", plan)
    return re.sub(r"\bBuild(Left|Right)\b", "Build<side>", plan)


def _drop_subtrees(plan: str, marker: str) -> str:
    """``plan`` without every node line containing ``marker`` and its
    children."""
    out, skip = [], None
    for line in plan.splitlines():
        if skip is not None:
            col, prefix = skip
            if len(line) > col and line[:col] == prefix and line[col] == " ":
                continue
            skip = None
        i = line.find(marker)
        if i >= 0:
            skip = (i - 3, line[: i - 3])
            continue
        out.append(line)
    return "\n".join(out)


def final_sections(plan: str) -> str:
    """``plan`` without its ``== Initial Plan ==`` subtrees: an adaptive
    plan prints each node twice, once as run and once as first planned."""
    return _drop_subtrees(plan, "== Initial Plan ==")


def plan_shape(plan: str) -> dict:
    """Counts over the final sections of an edge-cache plan string:
    exact-Jaccard UDF evaluations, LSH (band, band_hash) and SimHash
    (tbl, key) self-join nodes, adaptive query stages, and scans of every
    cache the edge plan reads, nested ones (such as a cached input under a
    cached frame) included. A nested cache's plan is printed under every
    scan of it, so its nodes count once per scan."""
    final = stable_plan(final_sections(plan))

    def inner_joins(k1, k2):
        side = rf"\[{k1}#\d+L?, {k2}#\d+L?\]"
        return len(re.findall(rf"Join {side}, {side}, Inner", final))

    return {
        "jaccard_udf_evals": len(
            re.findall(r"ArrowEvalPython \[jaccard_udf\(", final)
        ),
        "lsh_band_joins": inner_joins("band", "band_hash"),
        "simhash_band_joins": inner_joins("tbl", "key"),
        "query_stages": len(re.findall(r"QueryStage \d+", final)),
        "caches": final.count("InMemoryRelation ["),
    }


def check_worker_tree(spark) -> None:
    """Exit unless Spark's Python workers import this process's ``webdedup``.
    A UDF body is shipped by value, but every module-level name it uses is
    looked up in the workers' ``webdedup``, so a mismatch would capture the
    plan of a run that mixed two trees."""

    def tree(_):
        return os.path.dirname(os.path.realpath(__import__("webdedup").__file__))

    here = tree(None)
    there = spark.sparkContext.parallelize([0], 1).map(tree).first()
    if there != here:
        spark.stop()
        sys.exit(
            f"Python workers import webdedup from {there}, this process from "
            f"{here}: run this script from the root of the checkout to capture "
            "(cd <checkout> && PYTHONPATH=. python -P <path>/capture_plans.py ...)"
        )


def capture_dedup(spark, pages_path: str, cfg: DedupConfig | None = None) -> dict:
    """Plans of a materialized ``DedupResult.pairs``, by file stem."""
    pages = spark.read.parquet(pages_path).select("url", "warc_ts", "text", "lang")
    res = dedup(pages, cfg or DedupConfig())
    analyzed = res.pairs._jdf.queryExecution().analyzed().toString()
    res.pairs.count()
    final = edge_cache_plan(res.pairs)
    shape = plan_shape(final)
    print(
        f"final plan {len(final.splitlines())} lines "
        f"({len(final_sections(final).splitlines())} in final sections), "
        + ", ".join(f"{k} {v}" for k, v in shape.items()),
        flush=True,
    )
    res.release()
    return {"dedup_edges_analyzed": analyzed, "dedup_edges_final": final}


def capture_dedup_shuffled(spark, pages_path: str) -> dict:
    """Final plan of the edge cache with every id-set semi-join shuffled."""
    plans = capture_dedup(spark, pages_path, DedupConfig(broadcast_id_limit=0))
    return {"dedup_shuffled_edges_final": plans["dedup_edges_final"]}


def capture_kneighbors(spark, pages_path: str) -> dict:
    """Final plan of the collected ``kneighbors_5k`` edge frame."""
    feats = spark.read.parquet(pages_path).select(
        F.col("pid").alias("id"),
        F.array_distinct(F.transform(F.split("text", " "), F.crc32)).alias("features"),
    )
    nn = MinHashNeighbors(
        n_neighbors=3, number_of_hash_functions=32, max_bin_size=50,
        fast=False, metric="jaccard",
    ).fit(feats)
    edges = nn.kneighbors()
    edges.collect()
    final = edges._jdf.queryExecution().executedPlan().toString()
    body = final_sections(final)
    stages = len(re.findall(r"QueryStage \d+", body))
    print(
        f"final plan {len(final.splitlines())} lines "
        f"({len(body.splitlines())} in final sections), "
        f"cache scans {body.count('InMemoryRelation [')}, "
        f"checkpoint scans {body.count('Scan ExistingRDD')}, "
        f"query_stages {stages}",
        flush=True,
    )
    return {"kneighbors_final": final}


if __name__ == "__main__":
    ROUND, PAGES, SUFFIX = sys.argv[1:4]
    target = sys.argv[4] if len(sys.argv) > 4 else "dedup"
    capture = {
        "dedup": capture_dedup,
        "dedup-shuffled": capture_dedup_shuffled,
        "kneighbors": capture_kneighbors,
    }[target]
    plan_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "plans", ROUND
    )
    spark = get_spark(f"plans-{SUFFIX}", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    check_worker_tree(spark)
    print(f"{SUFFIX}: ", end="")
    plans = capture(spark, PAGES)
    os.makedirs(plan_dir, exist_ok=True)
    for stem, plan in plans.items():
        with open(os.path.join(plan_dir, f"{stem}_{SUFFIX}.txt"), "w") as f:
            f.write(stable_plan(plan))
    release_persisted()
    spark.stop()

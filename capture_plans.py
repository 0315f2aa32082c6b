#!/usr/bin/env python
"""Capture the plans of dedup()'s edge frame (``DedupResult.pairs``).

Usage: python capture_plans.py <round> <pages parquet dir> <suffix>

  <round>              plan directory name, e.g. r08 -> plans/r08/
  <pages parquet dir>  e.g. the benchmark's seeded 2,000-page input,
                       .perfbench/inputs/n2000-s1/pages after one
                       ``perfbench/run.py --workload dedup_2k --seed 1`` run
  <suffix>             'before' (run as ``python -P`` with PYTHONPATH pointing
                       at a checkout of the previous commit; -P keeps this
                       script's directory off sys.path) or 'after' (this
                       tree)

Two files land in plans/<round>/ next to this script, whichever tree ran:
dedup_edges_analyzed_<suffix>.txt (the analyzed plan) and
dedup_edges_final_<suffix>.txt (the final adaptive plan of the edge cache,
read after the edge frame is materialized; nested cache fills included),
with input file locations shown as ``file:<pages>``.
The script prints the plan-shape counts tests/test_pipeline.py asserts.
"""

import os
import re
import sys

from webdedup.config import DedupConfig
from webdedup.pipeline import dedup
from webdedup.session import get_spark


def edge_cache_plan(pairs) -> str:
    """Final physical plan string of the cache behind a materialized
    ``DedupResult.pairs``."""
    return (
        pairs._jdf.queryExecution().withCachedData().cacheBuilder()
        .cachedPlan().toString()
    )


def _drop_subtrees(plan: str, marker: str, keep_head: bool) -> str:
    """``plan`` without the children of every node line containing
    ``marker`` (and without that line too unless ``keep_head``)."""
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
            if not keep_head:
                continue
        out.append(line)
    return "\n".join(out)


def final_sections(plan: str) -> str:
    """``plan`` without its ``== Initial Plan ==`` subtrees: an adaptive
    plan prints each node twice, once as run and once as first planned."""
    return _drop_subtrees(plan, "== Initial Plan ==", keep_head=False)


def plan_shape(plan: str) -> dict:
    """Counts over the final sections of an edge-cache plan string:
    exact-Jaccard UDF evaluations, LSH (band, band_hash) and SimHash
    (tbl, key) self-join nodes, adaptive query stages, and the caches the
    edge plan reads directly other than the docs cache (the only one whose
    output carries ``fingerprint``; caches nested inside it, such as a
    cached input, are not counted). A nested cache's plan is printed under
    every scan of it, so its nodes count once per scan."""
    final = final_sections(plan)

    def inner_joins(k1, k2):
        side = rf"\[{k1}#\d+L?, {k2}#\d+L?\]"
        return len(re.findall(rf"Join {side}, {side}, Inner", final))

    read = _drop_subtrees(final, "InMemoryRelation [", keep_head=True)
    caches = re.findall(r"InMemoryRelation \[([^\]]*)\]", read)
    return {
        "jaccard_udf_evals": len(
            re.findall(r"ArrowEvalPython \[jaccard_udf\(", final)
        ),
        "lsh_band_joins": inner_joins("band", "band_hash"),
        "simhash_band_joins": inner_joins("tbl", "key"),
        "query_stages": len(re.findall(r"QueryStage \d+", final)),
        "other_caches": sum("fingerprint#" not in c for c in caches),
    }


if __name__ == "__main__":
    ROUND, PAGES, SUFFIX = sys.argv[1], sys.argv[2], sys.argv[3]
    plan_dir = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "plans", ROUND
    )
    spark = get_spark(f"plans-{SUFFIX}", cores=4, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(PAGES).select("url", "warc_ts", "text", "lang")
    res = dedup(pages, DedupConfig())
    analyzed = res.pairs._jdf.queryExecution().analyzed().toString()
    res.pairs.count()
    final = edge_cache_plan(res.pairs)
    os.makedirs(plan_dir, exist_ok=True)
    for kind, plan in (("analyzed", analyzed), ("final", final)):
        with open(os.path.join(plan_dir, f"dedup_edges_{kind}_{SUFFIX}.txt"), "w") as f:
            f.write(re.sub(r"file:[^\],\s]*", "file:<pages>", plan))
    shape = plan_shape(final)
    print(
        f"{SUFFIX}: final plan {len(final.splitlines())} lines "
        f"({len(final_sections(final).splitlines())} in final sections), "
        + ", ".join(f"{k} {v}" for k, v in shape.items()),
        flush=True,
    )
    res.release()
    spark.stop()

#!/usr/bin/env python
"""Capture the analyzed plan of dedup()'s edge frame (``DedupResult.pairs``).

Usage: python capture_plans_r07.py <pages parquet dir> <suffix>

  <pages parquet dir>  e.g. the benchmark's seeded 2,000-page input,
                       .perfbench/inputs/n2000-s1/pages after one
                       ``perfbench/run.py --workload dedup_2k --seed 1`` run
  <suffix>             'before' (run as ``python -P`` with PYTHONPATH pointing
                       at a checkout of the previous commit; -P keeps this
                       script's directory off sys.path) or 'after' (this
                       tree)

The plan lands in plans/r07/dedup_edges_analyzed_<suffix>.txt next to this
script, whichever tree ran. The script prints how many times the featurize
pandas UDF occurs in the plan.
"""

import os
import sys

PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r07")
PAGES, SUFFIX = sys.argv[1], sys.argv[2]

from webdedup.config import DedupConfig  # noqa: E402
from webdedup.pipeline import dedup  # noqa: E402
from webdedup.session import get_spark  # noqa: E402

spark = get_spark(f"plans-{SUFFIX}", cores=4, shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")
pages = spark.read.parquet(PAGES).select("url", "warc_ts", "text", "lang")
res = dedup(pages, DedupConfig())
plan = res.pairs._jdf.queryExecution().analyzed().toString()
os.makedirs(PLAN_DIR, exist_ok=True)
with open(os.path.join(PLAN_DIR, f"dedup_edges_analyzed_{SUFFIX}.txt"), "w") as f:
    f.write(plan)
print(
    f"{SUFFIX}: {len(plan.splitlines())} lines, "
    f"{plan.count('featurize(')} featurize UDF calls",
    flush=True,
)
res.release()
spark.stop()

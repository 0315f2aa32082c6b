"""spark-submit entry point.

Batch (spark-submit takes a script path, not ``-m`` — use the thin
driver in jobs/)::

    zip -r webdedup.zip webdedup
    spark-submit --py-files webdedup.zip jobs/run_dedup.py \\
        --input  /data/pages.parquet \\
        --output /data/dedup_out \\
        --hashes 128 --rows-per-band 4 --jaccard 0.8

(verified end-to-end: the zip alone supplies the package when submitted
from a clean working directory; counters identical to the local
``python -m webdedup.cli`` run)

Incremental (catalog root with manifest.json snapshots)::

    python -m webdedup.cli --catalog /data/warehouse --table pages \\
        --work /data/dedup_work

Single-operator modes (read parquet -> transform -> write parquet)::

    python -m webdedup.cli --op token-counts --input docs.parquet --output out
    python -m webdedup.cli --op pii          --input docs.parquet --output out
    python -m webdedup.cli --op decontaminate --input docs.parquet \\
        --benchmark eval.parquet --ngram 8 --output out
    python -m webdedup.cli --op near-decontaminate --input docs.parquet \\
        --benchmark eval.parquet --jaccard 0.8 --output out
    python -m webdedup.cli --op sample --input docs.parquet \\
        --rates en=500000,de=250000 --rate-ppm 100000 --output out
    python -m webdedup.cli --op source-stats --input docs.parquet --output out
    python -m webdedup.cli --op clean        --input docs.parquet --output out

WET input (Common-Crawl extracted-text WARC) for any mode::

    python -m webdedup.cli --input crawl/wet/ --input-format wet --output out

Packaging for a cluster: ``zip -r webdedup.zip webdedup`` then pass
``--py-files webdedup.zip``; all code is pure Python + numpy (shipped on
executors via the UDF pickles), no native builds.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from webdedup.config import DedupConfig


def build_config(args) -> DedupConfig:
    return DedupConfig(
        number_of_hash_functions=args.hashes,
        rows_per_band=args.rows_per_band,
        shingle_size=args.shingle_size,
        jaccard_threshold=args.jaccard,
        max_bin_size=args.max_bin_size,
        use_simhash=not args.no_simhash,
        use_substring_pass=not args.no_substring,
        shuffle_partitions=args.partitions,
    )


def _read_input(spark, args):
    """--input as a pages frame; WET files land in the pages shape with
    doc_id = xxhash64(url) (the featurize convention)."""
    if args.input_format == "wet":
        from pyspark.sql import functions as F

        from webdedup.sources import read_wet

        return read_wet(spark, args.input).withColumn(
            "doc_id", F.xxhash64("url")
        )
    return spark.read.parquet(args.input)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="webdedup")
    ap.add_argument("--input", help="pages parquet path (batch mode)")
    ap.add_argument(
        "--input-format", default="parquet", choices=["parquet", "wet"],
        help="wet = Common-Crawl extracted-text WARC files (record-split "
        "at scan time; doc_id derived as xxhash64(url))",
    )
    ap.add_argument("--catalog", help="source catalog root (incremental mode)")
    ap.add_argument("--table", default="pages")
    ap.add_argument("--work", help="work/checkpoint dir (incremental mode)")
    ap.add_argument("--output", help="clusters output parquet (batch mode)")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--id-col", default=None)
    ap.add_argument("--hashes", type=int, default=128)
    ap.add_argument("--rows-per-band", type=int, default=4)
    ap.add_argument("--shingle-size", type=int, default=3)
    ap.add_argument("--jaccard", type=float, default=0.8)
    ap.add_argument("--max-bin-size", type=int, default=2000)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--no-simhash", action="store_true")
    ap.add_argument("--no-substring", action="store_true")
    ap.add_argument("--cores", default=None, help="local[N] cores (default: existing session / all)")
    ap.add_argument(
        "--op",
        default="dedup",
        choices=["dedup", "clean", "pii", "decontaminate", "near-decontaminate",
                 "token-counts", "token-counts-bpe", "quality", "span-dedup",
                 "sample", "source-stats"],
        help="operator to run over --input (all except dedup/clean need a "
        "doc_id column, or name yours with --id-col)",
    )
    ap.add_argument("--benchmark", help="eval-set parquet (decontaminate ops)")
    ap.add_argument("--ngram", type=int, default=8, help="n-gram size (decontaminate op)")
    ap.add_argument("--bpe-merges", default=None,
                    help="GPT-2-format merges.txt (token-counts-bpe op; "
                    "default: the committed synthetic fixture)")
    ap.add_argument("--rate-ppm", type=int, default=None,
                    help="default keep rate in ppm (sample op)")
    ap.add_argument("--rates", default=None,
                    help="per-stratum rates, e.g. 'en=500000,de=250000' (sample op)")
    ap.add_argument("--strata-col", default="lang", help="stratum column (sample op)")
    args = ap.parse_args(argv)

    from webdedup.session import get_spark

    cfg = build_config(args)
    spark = get_spark("webdedup-cli", cores=args.cores, shuffle_partitions=cfg.shuffle_partitions)
    spark.sparkContext.setLogLevel("WARN")
    t0 = time.perf_counter()

    if args.catalog and args.op != "dedup":
        ap.error(f"--op {args.op} is batch-only; --catalog runs incremental dedup")
    if args.op not in ("dedup", "clean") and not args.catalog:
        # single-output column ops: read -> transform -> write + row count
        if not (args.input and args.output):
            ap.error("--input and --output required")
        from webdedup import scrub, textstats

        docs = _read_input(spark, args)
        if args.id_col and args.id_col != "doc_id":
            docs = docs.withColumnRenamed(args.id_col, "doc_id")
        if args.text_col != "text":
            docs = docs.withColumnRenamed(args.text_col, "text")
        if args.op == "pii":
            res_df = scrub.pii_redact(docs)
        elif args.op == "decontaminate":
            if not args.benchmark:
                ap.error("--benchmark required with --op decontaminate")
            bench = spark.read.parquet(args.benchmark)
            if args.text_col != "text":
                bench = bench.withColumnRenamed(args.text_col, "text")
            res_df = scrub.decontaminate(docs, bench, n=args.ngram)
        elif args.op == "near-decontaminate":
            if not args.benchmark:
                ap.error("--benchmark required with --op near-decontaminate")
            bench = spark.read.parquet(args.benchmark)
            if args.text_col != "text":
                bench = bench.withColumnRenamed(args.text_col, "text")
            # unlike decontaminate, this op reads the benchmark's ID too
            if args.id_col and args.id_col != "doc_id":
                bench = bench.withColumnRenamed(args.id_col, "doc_id")
            res_df = scrub.near_decontaminate(
                docs, bench, cfg, threshold=args.jaccard
            )
        elif args.op == "sample":
            from webdedup.sampling import deterministic_sample, stratified_sample

            if args.rates:
                try:
                    rates = {
                        k: int(v)
                        for k, v in (
                            kv.split("=", 1) for kv in args.rates.split(",")
                        )
                    }
                except ValueError:
                    ap.error(
                        "--rates must be comma-separated stratum=ppm pairs, "
                        f"e.g. 'en=500000,de=250000'; got {args.rates!r}"
                    )
                res_df = stratified_sample(
                    docs, rates, strata_col=args.strata_col,
                    default_ppm=args.rate_ppm or 0,
                )
            elif args.rate_ppm is not None:
                res_df = deterministic_sample(docs, args.rate_ppm)
            else:
                ap.error("--rate-ppm or --rates required with --op sample")
        elif args.op == "source-stats":
            res_df = textstats.source_stats(docs)
        elif args.op == "token-counts":
            res_df = textstats.token_counts(docs)
        elif args.op == "token-counts-bpe":
            merges = textstats.load_bpe_merges(args.bpe_merges)
            res_df = textstats.token_counts_bpe(docs, merges)
        elif args.op == "quality":
            res_df = textstats.quality_scores(docs)
        else:  # span-dedup
            res_df = textstats.span_dedup(docs)
        res_df.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()  # footer-cheap
        out = {
            "mode": args.op,
            "rows": n,
            "sec": round(time.perf_counter() - t0, 3),
        }
    elif args.catalog:
        if not args.work:
            ap.error("--work required with --catalog")
        from webdedup.catalog import Catalog
        from webdedup.incremental import IncrementalDedup

        inc = IncrementalDedup(spark, Catalog(args.catalog), args.work, cfg)
        metrics = inc.process(args.table, text_col=args.text_col)
        out = {
            "mode": "incremental",
            "metrics": metrics,
            "up_to_date": metrics is None,
            "sec": round(time.perf_counter() - t0, 3),
        }
    else:
        if not (args.input and args.output):
            ap.error("--input and --output required in batch mode")
        from webdedup.metrics import partition_lineage
        from webdedup.pipeline import clean_corpus, collect_counters, dedup

        pages = _read_input(spark, args)
        if args.op == "clean":
            # clean_corpus's downstream stages (select_canonical,
            # quality gate) expect the doc_id name — map like the
            # single-operator branch does
            if args.id_col and args.id_col != "doc_id":
                pages = pages.withColumnRenamed(args.id_col, "doc_id")
            cleaned = clean_corpus(pages, cfg, text_col=args.text_col)
            cleaned.write.mode("overwrite").parquet(args.output)
            out = {
                "mode": "clean",
                "rows": spark.read.parquet(args.output).count(),
                "sec": round(time.perf_counter() - t0, 3),
            }
            print(json.dumps(out))
            return 0
        res = dedup(pages, cfg, text_col=args.text_col, id_col=args.id_col)
        res.clusters.write.mode("overwrite").parquet(args.output)
        res.pairs.write.mode("overwrite").parquet(args.output + "_pairs")
        out = {
            "mode": "batch",
            "counters": collect_counters(res),
            "partition_lineage": partition_lineage(res.clusters),
            "sec": round(time.perf_counter() - t0, 3),
        }
        # outputs + counters are fully materialized — drop the run's caches
        res.release()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

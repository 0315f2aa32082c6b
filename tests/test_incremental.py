"""Catalog snapshots + checkpoint-resume incremental dedup tests."""

import dataclasses
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from webdedup import lsh
from webdedup.catalog import Catalog
from webdedup.config import DedupConfig
from webdedup.fixtures import pages_dataframe
from webdedup.incremental import IncrementalDedup
from webdedup.pipeline import dedup

CFG = DedupConfig(
    number_of_hash_functions=128, rows_per_band=4, shingle_size=3,
    jaccard_threshold=0.8, use_substring_pass=False,  # keep incremental runs fast
)


@pytest.fixture()
def tmp_root(tmp_path):
    return str(tmp_path)


def test_catalog_snapshots_and_incremental_read(spark, tmp_root):
    cat = Catalog(os.path.join(tmp_root, "wh"))
    df1 = spark.range(0, 10).withColumnRenamed("id", "x")
    df2 = spark.range(10, 25).withColumnRenamed("id", "x")
    s1 = cat.append("t", df1)
    s2 = cat.append("t", df2)
    assert (s1, s2) == (1, 2)
    assert cat.read(spark, "t").count() == 25
    assert cat.read(spark, "t", snapshot=1).count() == 10
    inc = cat.read_incremental(spark, "t", after=1)
    assert inc.count() == 15
    assert cat.read_incremental(spark, "t", after=2) is None


def _split_pages(spark, n=300):
    pages, _ = pages_dataframe(spark, n=n, seed=42)
    pages = pages.select("url", "warc_ts", "text", "lang")  # html binary not needed
    p1 = pages.where(F.crc32("url") % 2 == 0)
    p2 = pages.where(F.crc32("url") % 2 == 1)
    return pages, p1, p2


@pytest.mark.parametrize("use_substring_pass", [False, True])
def test_incremental_matches_batch(spark, tmp_root, use_substring_pass):
    """With the substring pass on, incremental's touching restriction of
    the substring pairs is compared with batch too."""
    cfg = dataclasses.replace(CFG, use_substring_pass=use_substring_pass)
    pages, p1, p2 = _split_pages(spark)
    cat = Catalog(os.path.join(tmp_root, "src"))
    cat.append("pages", p1)

    inc = IncrementalDedup(spark, cat, os.path.join(tmp_root, "work"), cfg)
    m1 = inc.process("pages")
    assert m1 is not None and m1["source_snapshot"] == 1

    cat.append("pages", p2)
    m2 = inc.process("pages")
    assert m2["source_snapshot"] == 2

    # same clustering as one-shot batch over the full corpus — compared by
    # url (incremental doc ids are keyed (url, snapshot), batch by url)
    urls = inc.work.read(spark, "docs").select("doc_id", "url")
    inc_cl = inc.clusters().join(urls, "doc_id")
    batch = dedup(pages, cfg)

    def groups(rows):
        by = {}
        for u, cid in rows:
            by.setdefault(cid, set()).add(u)
        return {frozenset(v) for v in by.values() if len(v) > 1}

    gi = groups([(r["url"], r["cluster_id"]) for r in inc_cl.collect()])
    gb = groups([(r["url"], r["cluster_id"]) for r in batch.clusters.select("url", "cluster_id").collect()])
    assert gi == gb


def test_process_is_idempotent(spark, tmp_root):
    _, p1, _ = _split_pages(spark)
    cat = Catalog(os.path.join(tmp_root, "src"))
    cat.append("pages", p1)
    inc = IncrementalDedup(spark, cat, os.path.join(tmp_root, "work"), CFG)
    assert inc.process("pages") is not None
    assert inc.process("pages") is None  # up to date → no-op
    c1 = sorted(
        (r["doc_id"], r["cluster_id"]) for r in inc.clusters().collect()
    )
    assert inc.process("pages") is None
    c2 = sorted(
        (r["doc_id"], r["cluster_id"]) for r in inc.clusters().collect()
    )
    assert c1 == c2


def test_crash_resume_rolls_back_partial_writes(spark, tmp_root):
    pages, p1, p2 = _split_pages(spark)
    cat = Catalog(os.path.join(tmp_root, "src"))
    cat.append("pages", p1)
    work = os.path.join(tmp_root, "work")
    inc = IncrementalDedup(spark, cat, work, CFG)
    inc.process("pages")

    # simulate a crash during snapshot 2: partial work-store appends landed
    # but state.json was never advanced
    cat.append("pages", p2)
    partial = p2.limit(20).withColumn(
        "doc_id", F.xxhash64("url", F.lit("2"))
    ).withColumn(
        "fingerprint", F.md5(F.col("text").cast("binary"))
    ).select("doc_id", "url", "fingerprint").withColumn("src_snapshot", F.lit(2))
    inc.work.append("docs", partial)  # debris

    m2 = inc.process("pages")  # must roll back debris, then process cleanly
    assert m2["source_snapshot"] == 2

    # every page labeled exactly once (debris would double-count docs)
    assert inc.clusters().count() == pages.count()
    assert inc.clusters().select("doc_id").distinct().count() == pages.count()


def test_metrics_files_written(spark, tmp_root):
    _, p1, _ = _split_pages(spark)
    cat = Catalog(os.path.join(tmp_root, "src"))
    cat.append("pages", p1)
    work = os.path.join(tmp_root, "work")
    inc = IncrementalDedup(spark, cat, work, CFG)
    m = inc.process("pages")
    path = os.path.join(work, "metrics-snap000001.json")
    assert os.path.exists(path)
    saved = json.load(open(path))
    assert saved["featurize"]["pages_shingled"] > 0
    assert saved["featurize"]["signatures_emitted"] > 0
    # the observed candidate count is exact: one batch into an empty store
    # touches every pair, so it equals the batch candidate union
    feat = inc.work.read(spark, "features")
    want = (
        lsh.candidate_pairs(feat, CFG)
        .union(lsh.simhash_candidate_pairs(feat, CFG))
        .distinct()
        .count()
    )
    assert want > 0
    assert saved["candidates"]["candidate_pairs"] == want
    assert isinstance(saved["partition_lineage"], list)


def test_catalog_append_survives_unmanifested_debris(spark, tmp_root):
    """ADVICE r1 (high): a crash between df.write and the manifest commit
    leaves an un-manifested snap dir; the next append at the same id must
    replace it, not wedge on errorifexists — forever."""
    cat = Catalog(os.path.join(tmp_root, "wh"))
    cat.append("t", spark.range(0, 10).withColumnRenamed("id", "x"))
    # simulate the crash: snapshot 2's directory exists but was never
    # committed to the manifest
    debris = os.path.join(tmp_root, "wh", "t", "snap-000002")
    spark.range(100, 105).withColumnRenamed("id", "x").write.parquet(debris)
    assert cat.current_snapshot("t") == 1
    sid = cat.append("t", spark.range(10, 30).withColumnRenamed("id", "x"))
    assert sid == 2
    assert cat.read(spark, "t").count() == 30  # debris rows replaced, not merged
    # and a half-written temp dir is likewise cleaned on the next attempt
    tmp_debris = os.path.join(tmp_root, "wh", "t", "snap-000003.inprogress")
    os.makedirs(tmp_debris)
    sid = cat.append("t", spark.range(30, 35).withColumnRenamed("id", "x"))
    assert sid == 3
    assert cat.read(spark, "t").count() == 35


def test_recrawled_url_with_changed_text_gets_new_identity(spark, tmp_root):
    """ADVICE r1 (medium): a url recrawled with DIFFERENT text must not
    collide with its old doc row (ids are keyed (url, snapshot)); a recrawl
    with IDENTICAL text links to the old doc through the exact-dup path."""
    pages, _ = pages_dataframe(spark, n=60, seed=7)
    pages = pages.select("url", "warc_ts", "text", "lang")
    cat = Catalog(os.path.join(tmp_root, "src"))
    cat.append("pages", pages)
    inc = IncrementalDedup(spark, cat, os.path.join(tmp_root, "work"), CFG)
    inc.process("pages")

    # snapshot 2 recrawls every url: half with identical text, half replaced
    # by brand-new unrelated text
    changed = pages.withColumn(
        "text",
        F.when(
            F.crc32("url") % 2 == 0,
            F.concat(F.lit("completely new content revision "), F.col("url")),
        ).otherwise(F.col("text")),
    )
    cat.append("pages", changed)
    inc.process("pages")

    docs = inc.work.read(spark, "docs")
    # every (url, snapshot) crawl event is its own doc — no id collisions
    assert docs.count() == 120
    assert docs.select("doc_id").distinct().count() == 120
    labels = inc.clusters().join(docs.select("doc_id", "url", "src_snapshot"), "doc_id")
    by_url = (
        labels.groupBy("url")
        .agg(F.countDistinct("cluster_id").alias("n_clusters"))
        .collect()
    )
    unchanged_urls = {r["url"] for r in pages.where(F.crc32("url") % 2 == 1).collect()}
    for r in by_url:
        if r["url"] in unchanged_urls:
            # identical recrawl → exact-dup edge → one cluster for both crawls
            assert r["n_clusters"] == 1, r["url"]


def test_multi_snapshot_drain_keeps_per_snapshot_identity(spark, tmp_root):
    """ADVICE r2 (medium): ONE process() call draining TWO pending source
    snapshots must key each row by its ACTUAL snapshot — a url recrawled
    with different text across the two snapshots is two crawl events with
    two distinct doc_ids, not one id with two conflicting fingerprints."""
    pages, _ = pages_dataframe(spark, n=40, seed=13)
    pages = pages.select("url", "warc_ts", "text", "lang")
    changed = pages.withColumn(
        "text", F.concat(F.lit("revised content "), F.col("url"))
    )
    cat = Catalog(os.path.join(tmp_root, "src"))
    cat.append("pages", pages)
    cat.append("pages", changed)  # both pending before the first process()

    inc = IncrementalDedup(spark, cat, os.path.join(tmp_root, "work"), CFG)
    m = inc.process("pages")  # drains snapshots 1 and 2 together
    assert m["source_snapshot"] == 2

    docs = inc.work.read(spark, "docs")
    assert docs.count() == 80
    assert docs.select("doc_id").distinct().count() == 80  # no id collisions
    # per-row lineage reflects the true snapshot, not the drain upper bound
    per_snap = {
        r["src_snapshot"]: r["n"]
        for r in docs.groupBy("src_snapshot").agg(F.count("*").alias("n")).collect()
    }
    assert per_snap == {1: 40, 2: 40}


def test_catalog_row_count_from_footers(spark, tmp_root):
    """row_count reads parquet footers (no Spark job) and respects the
    (after, upto] snapshot-range semantics of read_incremental."""
    cat = Catalog(os.path.join(tmp_root, "rc_src"))
    df = spark.range(100).selectExpr("id as doc_id", "cast(id as string) as text")
    s1 = cat.append("t", df.limit(40))
    s2 = cat.append("t", df.where("doc_id >= 40").limit(35))
    s3 = cat.append("t", df.where("doc_id >= 75"))
    assert cat.row_count("t") == 100
    assert cat.row_count("t", after=s1) == 60
    assert cat.row_count("t", after=s1, upto=s2) == 35
    assert cat.row_count("t", after=s2, upto=s3) == 25
    assert cat.row_count("t", after=s3) == 0


def test_snapshot_col_ignores_snap_segment_in_catalog_root(spark, tmp_root):
    """A catalog root that itself contains a 'snap-<digits>/' path segment
    must not hijack the per-row snapshot id (the regexp anchors to the LAST
    such segment — the per-snapshot data dir)."""
    root = os.path.join(tmp_root, "snap-000099", "wh")
    cat = Catalog(root)
    cat.append("t", spark.range(0, 5).withColumnRenamed("id", "x"))
    cat.append("t", spark.range(5, 9).withColumnRenamed("id", "x"))
    df = cat.read_incremental(spark, "t", after=None, snapshot_col="snap")
    got = {r["snap"] for r in df.select("snap").distinct().collect()}
    assert got == {1, 2}, got

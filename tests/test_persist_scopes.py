"""Per-run persist scoping + dedup()'s derived-input auto-guard +
substr_fps config-trust gate (ADVICE r3 / VERDICT r3 ask #4)."""

import os

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from webdedup.catalog import Catalog
from webdedup.config import DedupConfig
from webdedup.fixtures import pages_dataframe
from webdedup.incremental import IncrementalDedup
from webdedup.joins import release_persisted, scoped_persists, track_persist
from webdedup.pipeline import collect_counters, dedup

CFG = DedupConfig(
    number_of_hash_functions=128, rows_per_band=4, shingle_size=3,
    jaccard_threshold=0.8,
)


def test_scope_release_leaves_other_scopes_cached(spark):
    outer = track_persist(spark.range(100).select(F.col("id").alias("a")))
    with scoped_persists() as scope:
        inner = track_persist(spark.range(50).select(F.col("id").alias("b")))
    assert inner.storageLevel != StorageLevel.NONE
    scope.release()
    # releasing the run scope must not evict the other run's cache
    assert inner.storageLevel == StorageLevel.NONE
    assert outer.storageLevel != StorageLevel.NONE
    release_persisted()
    assert outer.storageLevel == StorageLevel.NONE


def test_release_persisted_drains_unreleased_run_scopes(spark):
    """Single-tenant bulk release (bench reps) frees caches of runs whose
    DedupResult was dropped without calling release()."""
    with scoped_persists():
        leaked = track_persist(spark.range(10))
    assert leaked.storageLevel != StorageLevel.NONE
    release_persisted()
    assert leaked.storageLevel == StorageLevel.NONE


def test_dedup_result_release_drops_only_its_caches(spark):
    # distinct inputs: identical plans would share one CacheManager entry,
    # and unpersisting either clears both (inherent Spark plan-keyed
    # caching, not a scope property)
    pages1, _ = pages_dataframe(spark, n=60, seed=7)
    pages2, _ = pages_dataframe(spark, n=60, seed=8)
    r1 = dedup(pages1.select("url", "text"), CFG)
    r2 = dedup(pages2.select("url", "text"), CFG)
    n1 = r1.clusters.count()
    n2 = r2.clusters.count()
    assert n1 == n2
    cached_r2 = [df for df in r2.scope._frames]
    assert r1.release() > 0
    # r2's caches survive r1's release
    assert any(df.storageLevel != StorageLevel.NONE for df in cached_r2)
    r2.release()
    assert all(df.storageLevel == StorageLevel.NONE for df in cached_r2)


def test_derived_input_computes_transformation_exactly_once(spark):
    """dedup()'s upfront gating count must not re-run an expensive upstream
    transformation: a cold derived input is persisted automatically, so a
    counting UDF in its lineage evaluates exactly n_rows times across the
    whole pipeline run."""
    from pyspark.sql.types import StringType

    acc = spark.sparkContext.accumulator(0)

    def traced(t):
        acc.add(1)
        return t

    traced_udf = F.udf(traced, StringType())
    pages, _ = pages_dataframe(spark, n=40, seed=11)
    n = pages.count()
    # derived frame: python-UDF stage + aggregate-backed join → expensive
    derived = pages.select("url", traced_udf("text").alias("text"))
    res = dedup(derived, CFG)
    res.clusters.count()
    res.pairs.count()
    assert acc.value == n, f"transformation ran {acc.value}x for {n} rows"
    res.release()


def test_plain_scan_input_is_not_cached(spark, tmp_path):
    """A plain parquet scan recomputes for free — the guard must not
    double-cache the corpus text next to the docs cache."""
    pages, _ = pages_dataframe(spark, n=30, seed=3)
    p = str(tmp_path / "pages.parquet")
    pages.select("url", "text").write.parquet(p)
    scan = spark.read.parquet(p)
    res = dedup(scan, CFG)
    res.clusters.count()
    assert scan.storageLevel == StorageLevel.NONE
    res.release()


@pytest.mark.parametrize("old_cfg", [
    # store written with the pass disabled → empty fps arrays stored
    DedupConfig(number_of_hash_functions=128, rows_per_band=4,
                use_substring_pass=False),
    # store written under different fingerprint params
    DedupConfig(number_of_hash_functions=128, rows_per_band=4,
                use_substring_pass=True, substring_k=32, substring_window=48),
])
def test_stale_substr_fps_config_falls_back_to_recompute(spark, tmp_path, old_cfg):
    """Enabling/changing the substring pass on an existing store must still
    find substring duplicates against previously stored docs (the stored
    fps column is untrusted when its recorded config differs)."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 40
    ).strip()
    embed = ("unique prefix words here " * 30).strip() + " " + base
    cur_cfg = DedupConfig(
        number_of_hash_functions=128, rows_per_band=4, use_substring_pass=True,
    )
    cat = Catalog(os.path.join(str(tmp_path), "src"))
    p1 = spark.createDataFrame([("http://a", base)], ["url", "text"])
    p2 = spark.createDataFrame([("http://b", embed)], ["url", "text"])
    cat.append("pages", p1)

    work = os.path.join(str(tmp_path), "work")
    IncrementalDedup(spark, cat, work, old_cfg).process("pages")

    cat.append("pages", p2)
    IncrementalDedup(spark, cat, work, cur_cfg).process("pages")

    eng = IncrementalDedup(spark, cat, work, cur_cfg)
    edges = eng.work.read(spark, "edges")
    subs = edges.where(F.col("kind") == "substring").count()
    assert subs >= 1, "substring dup vs previously stored doc missed"
    # the store's meta now marks the fps column untrusted for any config
    meta = eng.work.meta("features").get("substr_fps_cfg")
    assert meta == {"mixed": True} or meta is None


def test_scope_stack_is_thread_local(spark):
    """A scope opened on another thread (the Structured Streaming
    foreachBatch pattern) must not capture this thread's track_persist
    calls, and vice versa."""
    import threading

    from webdedup.joins import scoped_persists, track_persist

    captured = {}

    def worker():
        with scoped_persists() as ws:
            wdf = track_persist(spark.range(3))
            wdf.count()
            captured["worker"] = list(ws._frames)
            ws.release()

    with scoped_persists() as ms:
        t = threading.Thread(target=worker)
        t.start()
        t.join()
        mdf = track_persist(spark.range(5))
        mdf.count()
        assert ms._frames == [mdf]          # worker frame did NOT leak in
        assert len(captured["worker"]) == 1
        assert captured["worker"][0] is not mdf
        ms.release()


def test_dedup_release_loop_keeps_persisted_rdds_flat(spark):
    """pairs, clusters and the lazy counters read caches and checkpoint
    blocks the run's scope owns. Materializing all of them and then
    releasing leaves nothing pinned, so a loop of runs stays flat."""
    pages, _ = pages_dataframe(spark, n=60, seed=21)
    pages = pages.select("url", "text")
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    sizes = []
    for _ in range(3):
        res = dedup(pages, CFG)
        counters = collect_counters(res)
        n_rows = res.clusters.count()
        assert counters["pages"] == n_rows == 60
        assert counters["verified_pairs"] == res.pairs.count() > 0
        assert counters["clusters"] == (
            res.clusters.select("cluster_id").distinct().count()
        )
        assert res.release() > 0
        sizes.append(jsc.getPersistentRDDs().size())
    assert sizes == [base] * 3

"""Per-run persist scoping + dedup()'s compute-once input contract +
substr_fps config-trust gate (ADVICE r3 / VERDICT r3 ask #4)."""

import os
import sys
import threading

import numpy as np
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from webdedup.api import MinHashNeighbors
from webdedup.catalog import Catalog
from webdedup.config import DedupConfig
from webdedup.fixtures import generate_pages, pages_dataframe
from webdedup.incremental import IncrementalDedup
from webdedup.joins import release_persisted, scoped_persists, track_persist
from webdedup.pipeline import clean_corpus, collect_counters, dedup

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
    """dedup()'s corpus count must not re-run an expensive upstream
    transformation: it is observed on the action that fills the docs leaf,
    the only reader of the input, so a counting UDF in its lineage
    evaluates exactly n_rows times across the whole pipeline run, and the
    input itself is never cached (its text would sit in memory twice)."""
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
    assert derived.storageLevel == StorageLevel.NONE
    res.release()


def test_plain_scan_input_is_not_cached(spark, tmp_path):
    """A plain parquet scan recomputes for free — the guard must not
    double-cache the corpus text next to the docs leaf."""
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


def test_dedup_release_loop_keeps_persisted_rdds_flat(spark, run_jobs):
    """pairs, clusters and the lazy counters read caches and checkpoint
    blocks the run's scope owns. Materializing all of them and then
    releasing leaves nothing pinned, so a loop of runs stays flat. The
    page and unique-text counts are observed on the actions that fill the
    docs and featurize leaves, and the edge count on connected
    components' checkpoint action, so collecting the counters runs only
    the jobs of the two lazy ones."""
    pages, _ = pages_dataframe(spark, n=60, seed=21)
    pages = pages.select("url", "text")
    n_texts = pages.select("text").distinct().count()
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    sizes = []
    lazy = ("clusters", "duplicate_docs")
    for i in range(3):
        res = dedup(pages, CFG)
        counters, n_jobs = run_jobs(
            f"counters-all-{i}", lambda: collect_counters(res)
        )
        _, n_lazy = run_jobs(
            f"counters-lazy-{i}", lambda: [res.counters[k]() for k in lazy]
        )
        assert n_jobs == n_lazy > 0
        assert counters["unique_texts"] == n_texts < 60
        n_rows = res.clusters.count()
        assert counters["pages"] == n_rows == 60
        assert counters["verified_pairs"] == res.pairs.count() > 0
        assert counters["clusters"] == (
            res.clusters.select("cluster_id").distinct().count()
        )
        assert res.release() > 0
        sizes.append(jsc.getPersistentRDDs().size())
    assert sizes == [base] * 3


def test_released_dedup_result_raises(spark):
    """After release(), reading clusters or pairs off the result (or
    collecting its counters) raises an error naming release(). A frame
    taken before the release cannot be recomputed either: its lineage
    starts at the freed docs leaf."""
    pages, _ = pages_dataframe(spark, n=40, seed=31)
    res = dedup(pages.select("url", "text"), CFG)
    clusters = res.clusters
    assert clusters.count() == 40
    assert res.release() > 0
    for read in (
        lambda: res.clusters,
        lambda: res.pairs,
        lambda: collect_counters(res),
    ):
        with pytest.raises(RuntimeError, match=r"release\(\)"):
            read()
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        clusters.collect()


def test_clean_corpus_release_loop_keeps_persisted_rdds_flat(spark):
    """clean_corpus's keeper leaf and span table belong to the caller's
    scope: a loop of runs, each released once its output is counted,
    pins nothing."""
    rows = generate_pages(60, 22).rows
    docs = spark.createDataFrame(
        [(i, r["text"]) for i, r in enumerate(rows)], "doc_id long, text string"
    )
    release_persisted()
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size()
    sizes = []
    for _ in range(3):
        with scoped_persists() as scope:
            assert clean_corpus(docs, CFG).count() > 0
        assert scope.release() > 0
        sizes.append(jsc.getPersistentRDDs().size())
    assert sizes == [base] * 3


def _token_sets(spark, n_clusters=10, per=6, seed=5):
    """(id, features): clusters of rows sharing ~90 % of their ids."""
    rng = np.random.RandomState(seed)
    rows = []
    for _ in range(n_clusters):
        base = np.unique(rng.randint(0, 3000, size=40))
        for _ in range(per):
            keep = base[rng.rand(base.size) > 0.1]
            rows.append(np.union1d(keep, rng.randint(0, 3000, size=4)))
    return spark.createDataFrame(
        [(i, [int(x) for x in r]) for i, r in enumerate(rows)],
        "id long, features array<long>",
    )


def _model():
    return MinHashNeighbors(
        n_neighbors=3, number_of_hash_functions=32, max_bin_size=10_000
    )


def _broadcast_files(spark) -> int:
    """This process's broadcast files: each live ``sc.broadcast`` holds one,
    and ``Broadcast.destroy()`` deletes it."""
    return len(os.listdir(spark.sparkContext._temp_dir))


def test_model_loop_keeps_persisted_rdds_flat(spark):
    """fit's leaf and row table, kneighbors' round-1 cache, an explicit
    query's featurized rows and row table, and cluster's edge leaf and
    labels all belong to the caller's scope: a fit + query loop with one
    released scope per iteration pins no RDD and no broadcast."""
    X = _token_sets(spark)
    release_persisted()
    jsc = spark.sparkContext._jsc
    base = jsc.getPersistentRDDs().size(), _broadcast_files(spark)
    sizes = []
    for i in range(3):
        with scoped_persists() as scope:
            nn = _model().fit(X.where(F.col("id") % 3 != i))
            plan = nn._fitted._jdf.queryExecution().optimizedPlan().toString()
            assert "InMemoryRelation" not in plan
            assert nn.kneighbors().count() > 0
            assert nn.kneighbors(X.where(F.col("id") % 3 == i)).count() > 0
            assert nn.cluster(eps=0.5, min_samples=2).count() == 40
            assert _broadcast_files(spark) == base[1] + 2
        assert scope.release() > 0
        sizes.append((jsc.getPersistentRDDs().size(), _broadcast_files(spark)))
    assert sizes == [base] * 3


def test_released_fit_leaf_unfits_model(spark, tmp_path):
    """Releasing the scope that owns the model's current leaf un-fits it
    and destroys its row table's broadcast, and queries then say so
    instead of failing on missing checkpoint blocks; releasing a scope
    whose leaf a refit replaced destroys only that leaf's table."""
    X = _token_sets(spark)
    with scoped_persists() as old:
        nn = _model().fit(X)
        assert nn.kneighbors().count() > 0
        old_rows = nn._rows.get()[0]
    with scoped_persists() as cur:
        nn.fit(X.where(F.col("id") < 30))
    old.release()
    assert not old_rows._jbroadcast.isValid()
    assert nn.kneighbors().where(F.col("cand_id") >= 30).count() == 0
    cur_rows = nn._rows.get()[0]
    assert cur_rows is not old_rows and cur_rows._jbroadcast.isValid()
    cur.release()
    assert not cur_rows._jbroadcast.isValid()
    for call in (
        nn.kneighbors,
        nn.radius_neighbors,
        lambda: nn.save(str(tmp_path / "model")),
        lambda: nn.partial_fit(X),
    ):
        with pytest.raises(RuntimeError, match="fitted data was released"):
            call()
    with scoped_persists() as again:
        assert nn.fit(X).kneighbors().count() > 0
    again.release()


def test_fitted_row_table_serves_every_metric(spark):
    """One fitted leaf builds one row table whatever the metric: a Jaccard
    query and then a cosine query over the rows' values on the same leaf
    leave one broadcast file, released with the scope."""
    X = _token_sets(spark).withColumn(
        "values", F.transform("features", lambda x: (x % 3 + 1).cast("double"))
    )
    with scoped_persists() as scope:
        nn = MinHashNeighbors(
            n_neighbors=3, number_of_hash_functions=32, max_bin_size=10_000,
            metric="jaccard",
        ).fit(X)
        before = _broadcast_files(spark)
        assert nn.kneighbors().count() > 0
        nn.metric = "cosine"
        assert nn.kneighbors().count() > 0
        assert _broadcast_files(spark) == before + 1
    scope.release()
    assert _broadcast_files(spark) == before


def test_fitted_row_table_built_once_under_threads(spark):
    """Concurrent first exact queries (a streaming thread beside the main
    one) build the fitted leaf's row table once: every thread gets the
    same broadcast, and one broadcast file appears."""
    X = _token_sets(spark)
    with scoped_persists() as scope:
        nn = _model().fit(X)
        before = _broadcast_files(spark)
        got = []
        threads = [threading.Thread(target=lambda: got.append(nn._rows.get()[0])) for _ in range(8)]
        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert len(got) == 8 and all(b is got[0] for b in got)
        assert _broadcast_files(spark) == before + 1
    scope.release()
    assert _broadcast_files(spark) == before

"""Connected-components unit tests on known graphs.

Both execution paths are covered: the size-gated driver path (default at
these edge counts) and the distributed loop (forced with
collect_edge_limit=0).
"""

import pytest

from webdedup.components import connected_components


def cc(spark, n, edge_list, max_iter=25, collect_edge_limit=None):
    verts = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(edge_list or [(0, 0)], "a long, b long")
    if not edge_list:
        edges = edges.limit(0)
    out = connected_components(
        verts, edges, max_iter=max_iter, collect_edge_limit=collect_edge_limit
    )
    return {r["id"]: r["cluster_id"] for r in out.collect()}


def test_simple_components(spark):
    got = cc(spark, 6, [(0, 1), (1, 2), (3, 4)])
    assert got[0] == got[1] == got[2] == 0
    assert got[3] == got[4] == 3
    assert got[5] == 5


def test_chain_converges(spark):
    # path graph 0-1-2-...-9: worst case for hash-min (diameter = n)
    got = cc(spark, 10, [(i, i + 1) for i in range(9)])
    assert all(v == 0 for v in got.values())


def test_no_edges_all_singletons(spark):
    got = cc(spark, 5, [])
    assert got == {i: i for i in range(5)}


def test_cluster_label_is_min_member(spark):
    got = cc(spark, 8, [(5, 7), (7, 6)])
    assert got[5] == got[6] == got[7] == 5
    for i in range(5):
        assert got[i] == i


def test_long_chain_converges_logarithmically(spark):
    """Path graph of 64 vertices: pure hash-min needs ~63 rounds; with the
    pointer-jumping label edges it must finish well inside max_iter=10."""
    got = cc(spark, 64, [(i, i + 1) for i in range(63)], max_iter=10)
    assert all(v == 0 for v in got.values())


def test_distributed_path_matches_driver_path(spark):
    """The size-gated driver numpy path and the distributed loop must
    produce identical labels on a mixed graph (chains, cliques, isolated
    vertices, non-contiguous ids)."""
    import random

    rng = random.Random(7)
    n = 200
    edges = [(i, i + 1) for i in range(0, 40)]  # one long chain
    edges += [(a, b) for a in range(50, 60) for b in range(a + 1, 60)]  # clique
    edges += [(rng.randrange(70, 190), rng.randrange(70, 190)) for _ in range(60)]
    driver = cc(spark, n, edges)  # default gate → driver path
    dist = cc(spark, n, edges, collect_edge_limit=0)  # forced loop
    assert driver == dist


def test_nonconvergence_warns_and_returns_partial(spark):
    # the convergence cap only exists on the distributed loop — force it
    with pytest.warns(RuntimeWarning):
        got = cc(
            spark, 12, [(i, i + 1) for i in range(11)], max_iter=1,
            collect_edge_limit=0,
        )
    # partial labels: still a valid (over-split) clustering, every vertex labeled
    assert set(got) == set(range(12))
    assert all(got[i] <= i for i in range(12))


def test_reliable_checkpoint_matches(spark, tmp_path):
    """Opt-in reliable checkpointing (cluster-mode executor-loss safety)
    must produce identical labels to the localCheckpoint default."""
    edges = [(i, i + 1) for i in range(12)] + [(40, 41), (41, 45)]
    default = cc(spark, 50, edges, collect_edge_limit=0)
    reliable_dir = str(tmp_path / "cc_ckpt")
    verts = spark.createDataFrame([(i,) for i in range(50)], "id long")
    e = spark.createDataFrame(edges, "a long, b long")
    out = connected_components(
        verts, e, collect_edge_limit=0, checkpoint_dir=reliable_dir
    )
    reliable = {r["id"]: r["cluster_id"] for r in out.collect()}
    assert reliable == default
    import os

    assert os.path.isdir(reliable_dir)  # checkpoints actually went there


def test_reliable_checkpoint_files_freed(spark, tmp_path):
    """Superseded rounds' reliable-checkpoint rdd-* directories are
    deleted in-loop, and the final labels checkpoint's files go with the
    persist scope — a long-lived session (streaming/incremental) must not
    grow one directory per CC round until the checkpoint volume fills."""
    import os

    from webdedup.joins import scoped_persists

    reliable_dir = str(tmp_path / "cc_ckpt")
    verts = spark.createDataFrame([(i,) for i in range(50)], "id long")
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(40, 41), (41, 45)],
        "a long, b long",
    )

    def rdd_dirs():
        return [
            os.path.join(r, d)
            for r, dirs, _ in os.walk(reliable_dir)
            for d in dirs
            if d.startswith("rdd-")
        ]

    with scoped_persists() as scope:
        out = connected_components(
            verts, e, collect_edge_limit=0, checkpoint_dir=reliable_dir
        )
        labels = {r["id"]: r["cluster_id"] for r in out.collect()}
        assert labels[5] == 0
        # sym + seed + every superseded round freed in-loop: only the
        # FINAL labels checkpoint may still own files before release
        assert len(rdd_dirs()) <= 1
    scope.release()
    assert rdd_dirs() == []


def test_free_checkpoint_deletes_files_when_unpersist_fails(
    spark, tmp_path, monkeypatch
):
    """Block unpersist and file delete are independent cleanups: a failed
    unpersist (a py4j hiccup) must not leak the reliable checkpoint's
    rdd-* directory."""
    import os

    from webdedup import joins

    reliable_dir = str(tmp_path / "ckpt")
    df = joins.checkpointer(spark, reliable_dir)(spark.range(10))
    real = joins._checkpoint_rdd

    class _UnpersistRaises:
        def __init__(self, rdd):
            self._rdd = rdd

        def unpersist(self, blocking):
            raise RuntimeError("unpersist failed")

        def __getattr__(self, name):
            return getattr(self._rdd, name)

    monkeypatch.setattr(
        joins, "_checkpoint_rdd", lambda d: _UnpersistRaises(real(d))
    )

    def rdd_dirs():
        return [
            d for _, dirs, _ in os.walk(reliable_dir)
            for d in dirs if d.startswith("rdd-")
        ]

    assert len(rdd_dirs()) == 1
    joins.free_checkpoint(df)
    assert rdd_dirs() == []


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_driver_path_pins_no_rdds(spark):
    """Repeated CC calls (the bench/streaming pattern) must not accumulate
    localCheckpoint blocks — the r5 1M-bench OOM root cause."""
    base = _n_persistent_rdds(spark)
    for _ in range(3):
        cc(spark, 30, [(i, i + 1) for i in range(20)])
    assert _n_persistent_rdds(spark) == base


def test_distributed_path_releases_checkpoints_via_scope(spark):
    """The distributed loop frees every intermediate round's blocks
    in-loop and hands the final labels checkpoint to the active persist
    scope: after release, the persisted-RDD count is back to baseline."""
    from webdedup.joins import scoped_persists

    base = _n_persistent_rdds(spark)
    for _ in range(2):
        with scoped_persists() as scope:
            got = cc(spark, 30, [(i, i + 1) for i in range(20)],
                     collect_edge_limit=0)
            assert all(v == 0 for k, v in got.items() if k <= 20)
        # loop intermediates freed in-loop: at most the final labels (and
        # nothing growing per round) remains before release
        assert _n_persistent_rdds(spark) <= base + 1
        scope.release()
        assert _n_persistent_rdds(spark) == base

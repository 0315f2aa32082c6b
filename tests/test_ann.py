"""ANN recall gates: IVF scale path vs brute-force oracle.

Two data regimes:
* testdata embeddings are uniform random (no similarity gap — best-neighbor
  cosine ~0.33): IVF must still hit recall@5 >= 0.95 at the headline config
  (n_cells=64, nprobe=48), paying ~75% scan — the honest worst case.
* clustered embeddings (the real web-corpus shape — near-dup pages share
  near-identical vectors): IVF reaches ~1.0 recall at small nprobe, and
  sign-LSH finds the planted near-dup pairs — the regime both structures
  are built for.
"""

import numpy as np
import pytest

from webdedup import ann

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def random_emb(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    emb.persist().count()
    return emb


@pytest.fixture(scope="module")
def clustered_emb(spark):
    """300 vectors in 30 tight clusters of 10 (cos >= ~0.95 within cluster)."""
    rng = np.random.RandomState(42)
    rows = []
    vid = 0
    for c in range(30):
        base = rng.standard_normal(64)
        base /= np.linalg.norm(base)
        for _ in range(10):
            # sigma 0.04: E||noise||^2 = 64*0.04^2 ~ 0.10 -> within-cluster
            # cosine ~ 1/sqrt(1.1) ~ 0.95
            v = base + 0.04 * rng.standard_normal(64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _pairs(df):
    return {(r["vec_id"], r["nn_id"]) for r in df.collect()}


def test_ivf_recall_random_data(spark, random_emb):
    """Headline config gate on structureless data: recall@5 >= 0.95."""
    dim = len(random_emb.select("embedding").first()[0])
    brute = _pairs(ann.cosine_topk(random_emb, k=5))
    got = _pairs(ann.ivf_topk(random_emb, dim=dim, k=5, n_cells=64, nprobe=48))
    recall = len(brute & got) / len(brute)
    assert recall >= 0.95, f"IVF recall {recall:.4f} on random embeddings"


def test_ivf_recall_clustered_data_small_nprobe(spark, clustered_emb):
    """Clustered corpus: small nprobe (8/32 = 25% scan) already recalls the
    true neighbors — the regime the index is designed for."""
    brute = _pairs(ann.cosine_topk(clustered_emb, k=5))
    got = _pairs(ann.ivf_topk(clustered_emb, dim=64, k=5, n_cells=32, nprobe=8))
    recall = len(brute & got) / len(brute)
    assert recall >= 0.95, f"IVF clustered recall {recall:.4f}"


def test_ivf_values_match_brute(spark, random_emb):
    """Where IVF and brute agree on a pair, the cos_e4 value must be equal
    (same float64 dot/norm math; matmul vs zip_with can differ by 1 ulp at a
    floor boundary — allow off-by-one)."""
    dim = len(random_emb.select("embedding").first()[0])
    brute = {
        (r["vec_id"], r["nn_id"]): r["cos_e4"]
        for r in ann.cosine_topk(random_emb, k=5).collect()
    }
    got = {
        (r["vec_id"], r["nn_id"]): r["cos_e4"]
        for r in ann.ivf_topk(
            random_emb, dim=dim, k=5, n_cells=64, nprobe=48
        ).collect()
    }
    shared = set(brute) & set(got)
    assert shared
    for p in shared:
        assert abs(brute[p] - got[p]) <= 1, (p, brute[p], got[p])


def test_ivf_self_query_reads_checkpoint_and_matches_bipartite(spark, clustered_emb):
    """The self-query runs the cell UDF once, into an eager checkpoint
    leaf: its plan reads no cache. Its rows equal those of the bipartite
    face querying the same vectors against themselves."""
    from webdedup.joins import scoped_persists

    C = ann.train_ivf_centroids(clustered_emb, n_cells=32)
    with scoped_persists() as scope:
        self_q = ann.ivf_topk(clustered_emb, dim=64, k=5, centroids=C)
    try:
        plan = self_q._jdf.queryExecution().optimizedPlan().toString()
        assert "InMemoryRelation" not in plan
        bipartite = ann.ivf_topk(
            clustered_emb, dim=64, k=5, centroids=C, queries=clustered_emb
        )
        assert sorted(self_q.collect()) == sorted(bipartite.collect())
    finally:
        scope.release()


def test_sign_lsh_finds_planted_near_dups(spark, clustered_emb):
    """cosine_topk_lsh's role is near-dup retrieval (cos >= ~0.9), not
    generic top-k on random data: within-cluster planted pairs must be
    recalled >= 0.95."""
    brute = ann.cosine_topk(clustered_emb, k=5)
    planted = {
        (r["vec_id"], r["nn_id"])
        for r in brute.where("cos_e4 >= 9000").collect()
    }
    assert planted
    got = _pairs(ann.cosine_topk_lsh(clustered_emb, dim=64, k=5))
    recall = len(planted & got) / len(planted)
    assert recall >= 0.95, f"sign-LSH near-dup recall {recall:.4f}"


def test_semantic_dup_clusters_transitive_chain(spark):
    """A chain 0-18-36 degrees: adjacent pairs clear cos>=0.9, the endpoints
    (cos 0.809) do not — transitive closure must still merge all three;
    the orthogonal vector stays a singleton."""
    import math

    def vec(theta_deg):
        t = math.radians(theta_deg)
        return [math.cos(t), math.sin(t), 0.0, 0.0]

    rows = [(1, vec(0)), (2, vec(18)), (3, vec(36)), (4, [0.0, 0.0, 1.0, 0.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r.cluster_id
        for r in ann.semantic_dup_clusters(
            emb, dim=4, threshold_e4=9000, k=5, n_cells=2, nprobe=2
        ).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 4}


def test_incremental_semantic_matches_batch(spark, tmp_path, clustered_emb):
    """Incremental == batch at FIXED centroids (VERDICT r4 ask #9): two
    snapshots through the catalog-backed partial_fit face must produce
    the same clusters as one batch semantic_dup_clusters run using the
    SAME frozen centroids."""
    from pyspark.sql import functions as F

    dim, thr = 64, 9000
    C = ann.train_ivf_centroids(clustered_emb, n_cells=16, seed=7)
    batch = {
        (r.vec_id, r.cluster_id)
        for r in ann.semantic_dup_clusters(
            clustered_emb, dim=dim, threshold_e4=thr, k=12, n_cells=16,
            nprobe=4, centroids=C,
        ).collect()
    }

    inc = ann.IncrementalSemanticDedup(
        spark, str(tmp_path / "work"), dim=dim, threshold_e4=thr, k=12,
        n_cells=16, nprobe=4, seed=7,
    )
    # plant the same frozen centroids the batch used
    inc.work.append(
        inc.CENTROIDS,
        spark.createDataFrame(
            [(i, [float(x) for x in C[i]]) for i in range(C.shape[0])],
            "cell int, centroid array<double>",
        ),
    )
    b1 = clustered_emb.where(F.col("vec_id") % 2 == 0)
    b2 = clustered_emb.where(F.col("vec_id") % 2 == 1)
    inc.process(b1, key="snap-1")
    inc.process(b2, key="snap-2")
    got = {(r.vec_id, r.cluster_id) for r in inc.clusters().collect()}
    assert got == batch

    # keyed replay: re-processing a snapshot adds nothing
    n_edges = inc.work.read(spark, inc.SEM_EDGES).count()
    inc.process(b2, key="snap-2")
    assert inc.work.read(spark, inc.SEM_EDGES).count() == n_edges
    assert {(r.vec_id, r.cluster_id) for r in inc.clusters().collect()} == batch


def test_incremental_semantic_trains_once_and_freezes(spark, tmp_path, clustered_emb):
    """First snapshot trains + persists centroids; later snapshots load the
    FROZEN table (config stored in the same manifest commit)."""
    from pyspark.sql import functions as F

    # nprobe=12 (not the tight headline 4): centroids train on the FIRST
    # snapshot only, so the second snapshot's groups are out of the
    # training distribution and need probe headroom — this test gates the
    # freeze semantics, recall-at-tight-nprobe is gated above
    # threshold 8000, not the headline 9000: within-cluster cosines at
    # sigma 0.04 range ~0.83-1.0 (vec 197's best peer is 0.888), so 9000
    # would legitimately exclude unlucky members — this test gates the
    # freeze semantics, not the threshold calibration
    inc = ann.IncrementalSemanticDedup(
        spark, str(tmp_path / "w2"), dim=64, threshold_e4=8000, k=12,
        n_cells=16, nprobe=12, seed=7,
    )
    b1 = clustered_emb.where(F.col("vec_id") < 150)
    inc.process(b1, key="s1")
    c1 = inc._load_centroids()
    assert c1.shape == (16, 64)
    assert inc.work.meta(inc.CENTROIDS)["n_cells"] == 16
    inc.process(clustered_emb.where(F.col("vec_id") >= 150), key="s2")
    c2 = inc._load_centroids()
    # frozen: the second snapshot did NOT retrain
    assert np.array_equal(c1, c2)
    # every vector is clustered; planted 10-vector groups resolve together
    rows = inc.clusters().collect()
    assert len(rows) == 300
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r.vec_id)
    big = sorted(sorted(v) for v in by_cluster.values() if len(v) > 1)
    # the 30 planted groups are vec_ids 10c..10c+9
    planted = sorted(list(range(10 * c, 10 * c + 10)) for c in range(30))
    assert big == planted

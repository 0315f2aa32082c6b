"""Round-2 metric-parity tests: euclidean/cosine exact re-rank with feature
values, the similarity flag, WTA value weighting, DBSCAN min_samples, the
limit_neighbors_of_neighbors formula, and fused radius entry points.

Reference semantics under test (all /root/reference):
* sparseMatrix.h:231-272  euclidianDistance = xx - 2xy + yy (squared, clamped)
* sparseMatrix.h:274-316  cosineSimilarity = xy/(sqrt(xx)*sqrt(yy)), desc sort
* nearestNeighbors.cpp:86-89   limit = min(100, n_neighbors + excess_factor)
* nearestNeighbors.cpp:150-190 similarity flag selects cosine vs euclidean
* inverseIndex.cpp:304-341 computeSignatureWTA (+ kSizeSortedMap.h:20-98)
* cluster/minHashDBSCAN.py:47  sklearn DBSCAN(metric='precomputed') semantics
"""

import numpy as np
import pytest

from webdedup import kernels as K
from webdedup.api import MinHashNeighbors


def make_valued_rows(n=80, dim=4000, nnz=50, n_clusters=8, seed=11):
    """Clustered sparse rows WITH values (reference CSR data array)."""
    rng = np.random.RandomState(seed)
    rows = []
    per = n // n_clusters
    for c in range(n_clusters):
        base = np.unique(rng.randint(0, dim, size=nnz))
        base_vals = rng.randint(1, 9, size=base.size).astype(float)
        for _ in range(per):
            keep = rng.rand(base.size) > 0.08
            ids = base[keep]
            vals = base_vals[keep] + rng.randint(0, 2, size=keep.sum())
            extra = np.setdiff1d(
                rng.randint(0, dim, size=4).astype(base.dtype), ids
            )
            ids = np.concatenate([ids, extra])
            vals = np.concatenate([vals, rng.randint(1, 9, size=extra.size).astype(float)])
            order = np.argsort(ids)
            rows.append((ids[order], vals[order]))
    return rows


@pytest.fixture(scope="module")
def valued(spark):
    rows = make_valued_rows()
    df = spark.createDataFrame(
        [
            (i, [int(x) for x in ids], [float(v) for v in vals])
            for i, (ids, vals) in enumerate(rows)
        ],
        "id long, features array<long>, values array<double>",
    )
    return rows, df


def _brute(rows, i, j, metric):
    ia, va = rows[i]
    ib, vb = rows[j]
    return K.sparse_metric(ia, va, ib, vb, metric)


def _numpy_brute(rows, i, j, metric):
    """Independent dense recomputation (not via kernels.sparse_metric)."""
    dim = 1 + max(int(ids.max()) for ids, _ in rows)
    xa = np.zeros(dim)
    xb = np.zeros(dim)
    xa[rows[i][0]] = rows[i][1]
    xb[rows[j][0]] = rows[j][1]
    if metric == "euclidean":
        return max(float(xa @ xa - 2 * (xa @ xb) + xb @ xb), 0.0)
    return max(float((xa @ xb) / (np.sqrt(xa @ xa) * np.sqrt(xb @ xb))), 0.0)


def test_sparse_metric_kernel_vs_dense():
    rows = make_valued_rows(n=16, n_clusters=4, seed=3)
    for i in range(0, 16, 3):
        for j in range(1, 16, 5):
            for m in ("euclidean", "cosine"):
                assert _brute(rows, i, j, m) == pytest.approx(
                    _numpy_brute(rows, i, j, m), abs=1e-9
                )


def test_kneighbors_euclidean_values(spark, valued):
    """values column present + no explicit metric → reference default
    (squared euclidean); every returned distance matches brute force."""
    rows, df = valued
    nn = MinHashNeighbors(
        n_neighbors=4, number_of_hash_functions=64, max_bin_size=10_000
    ).fit(df)
    assert nn._resolved_metric() == "euclidean"
    got = nn.kneighbors().collect()
    assert got
    for r in got:
        # user-visible distance = sqrt(squared form), nearestNeighbors.cpp:357
        want = np.sqrt(_brute(rows, int(r["query_id"]), int(r["cand_id"]), "euclidean"))
        assert r["distance"] == pytest.approx(want, abs=1e-9)
    # ascending rank order per query
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rnk"], r["distance"]))
    for pairs in by_q.values():
        pairs.sort()
        ds = [d for _, d in pairs]
        assert ds == sorted(ds)


def test_kneighbors_similarity_flag_selects_cosine(spark, valued):
    """similarity=True → cosine scores, DESC ranking
    (nearestNeighbors.cpp:155-157)."""
    rows, df = valued
    nn = MinHashNeighbors(
        n_neighbors=4, number_of_hash_functions=64, max_bin_size=10_000,
        similarity=True,
    ).fit(df)
    assert nn._resolved_metric() == "cosine"
    got = nn.kneighbors().collect()
    assert got
    for r in got:
        want = _brute(rows, int(r["query_id"]), int(r["cand_id"]), "cosine")
        assert r["distance"] == pytest.approx(want, abs=1e-9)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rnk"], r["distance"]))
    for pairs in by_q.values():
        pairs.sort()
        ds = [d for _, d in pairs]
        assert ds == sorted(ds, reverse=True)  # descending = best first


def test_save_load_roundtrip_valued(spark, valued, tmp_path):
    """A valued (euclidean) model keeps its ``values`` through save/load:
    same metric, same neighbors, same distances."""
    _, df = valued
    nn = MinHashNeighbors(
        n_neighbors=4, number_of_hash_functions=64, max_bin_size=10_000
    ).fit(df)
    want = {(r["query_id"], r["cand_id"]): r["distance"] for r in nn.kneighbors().collect()}
    nn.save(str(tmp_path / "model"))
    nn2 = MinHashNeighbors.load(spark, str(tmp_path / "model"))
    assert nn2._fitted.columns == ["id", "bands", "features", "values"]
    assert nn2._resolved_metric() == "euclidean"
    got = {(r["query_id"], r["cand_id"]): r["distance"] for r in nn2.kneighbors().collect()}
    assert want and got == want


def test_radius_cosine_floor(spark, valued):
    rows, df = valued
    nn = MinHashNeighbors(
        number_of_hash_functions=64, max_bin_size=10_000, similarity=True
    ).fit(df)
    got = nn.radius_neighbors(radius=0.9).collect()
    assert got
    for r in got:
        assert r["distance"] >= 0.9 - 1e-12
        want = _brute(rows, int(r["query_id"]), int(r["cand_id"]), "cosine")
        assert r["distance"] == pytest.approx(want, abs=1e-9)


def test_metric_explicit_jaccard_ignores_values(spark, valued):
    rows, df = valued
    nn = MinHashNeighbors(
        n_neighbors=3, number_of_hash_functions=64, max_bin_size=10_000,
        metric="jaccard",
    ).fit(df)
    got = nn.kneighbors().limit(40).collect()
    assert got
    for r in got:
        ia, _ = rows[int(r["query_id"])]
        ib, _ = rows[int(r["cand_id"])]
        want = 1.0 - K.jaccard_sorted(ia.astype(np.int64), ib.astype(np.int64))
        assert r["distance"] == pytest.approx(want, abs=1e-9)


def test_limit_neighbors_of_neighbors_formula(spark, valued):
    """limit = min(100, k + excess), NOT k * excess
    (nearestNeighbors.cpp:86-89). At k=30, excess=5 the formulas diverge
    (35 vs 100): round 1 must keep at most k+excess candidates per query."""
    _, df = valued
    nn = MinHashNeighbors(
        n_neighbors=30, number_of_hash_functions=64, max_bin_size=10_000,
        excess_factor=5,
    ).fit(df)
    qf = nn._fitted
    approx = nn._approx_neighbors(qf, 30, cut=True)
    limit = min(100, 30 + nn.excess_factor)
    assert limit == 35
    round1 = nn._exact_rerank(approx, nn._query_rows(qf), limit)
    import pyspark.sql.functions as F

    per_q = round1.groupBy("query_id").count().agg(F.max("count")).collect()[0][0]
    # rank() ties may extend slightly past the cut; far below 100 regardless
    assert per_q <= limit + 5


def test_fused_radius_entry_points(spark, valued):
    _, df = valued
    nn = MinHashNeighbors(number_of_hash_functions=32, max_bin_size=10_000,
                          metric="jaccard")
    e = nn.fit_radius_neighbors(df, radius=0.4)
    assert e.count() > 0
    g = MinHashNeighbors(
        number_of_hash_functions=32, max_bin_size=10_000, metric="jaccard"
    ).fit_radius_neighbors_graph(df, radius=0.4, mode="connectivity")
    assert set(g.columns) == {"src", "dst", "weight"}
    assert g.count() > 0


def test_fused_kneighbors_graph_entry(spark, valued):
    """Reference exposes the graph-fused fit variant too
    (nearestNeighbors_PythonInterface.cpp:265-363 family); fused must equal
    fit-then-graph."""
    _, df = valued
    kwargs = dict(number_of_hash_functions=32, max_bin_size=10_000,
                  metric="jaccard")
    fused = MinHashNeighbors(**kwargs).fit_kneighbors_graph(
        df, n_neighbors=3, mode="distance", symmetric=True
    )
    staged = (
        MinHashNeighbors(**kwargs)
        .fit(df)
        .kneighbors_graph(None, 3, mode="distance", symmetric=True)
    )
    assert set(fused.columns) == {"src", "dst", "weight"}
    got = sorted((r.src, r.dst, round(r.weight, 9)) for r in fused.collect())
    want = sorted((r.src, r.dst, round(r.weight, 9)) for r in staged.collect())
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# WTA value weighting
# ---------------------------------------------------------------------------

def _wta_reference_transliteration(features, values, num_hashes, range_k):
    """Line-by-line port of InverseIndex::computeSignatureWTA
    (inverseIndex.cpp:304-341) + KSizeSortedMap (kSizeSortedMap.h:20-98):
    std::map keyed by hashed key, grows to mK+1, insert-only-if-below-max,
    selection scans the first mK entries in key order with strict > and a
    0-sentinel init."""
    mK = min(range_k, len(features))
    out = []
    for i in range(num_hashes):
        m = {}
        for f, v in zip(features, values):
            h = int(K.hash_ks(np.array([(int(f) + 1) & 0xFFFFFFFF], dtype=np.uint32),
                              np.uint32((42 + i) & 0xFFFFFFFF))[0])
            if len(m) <= mK:
                m[h] = v
            else:
                mx = max(m)
                if mx < h:
                    continue
                m[h] = v
                del m[max(m)]
        keys = sorted(m)[:mK]
        max_value, max_index = 0.0, 0
        for kk in keys:
            if m[kk] > max_value:
                max_value, max_index = m[kk], kk
        out.append(max_index)
    return np.array(out, dtype=np.uint64)


def test_wta_values_parity_with_reference_algorithm():
    rng = np.random.RandomState(5)
    for trial in range(20):
        n = rng.randint(3, 60)
        feats = np.unique(rng.randint(0, 2**31, size=n).astype(np.uint32))
        vals = rng.randint(1, 100, size=feats.size).astype(np.float32)
        want = _wta_reference_transliteration(feats, vals.astype(float), 8, 10)
        got = K.wta_signature(feats, vals, 8, 10)
        assert got.astype(np.uint64).tolist() == want.tolist(), trial


def test_wta_values_change_signature():
    """Non-uniform values must actually influence the signature (the dead
    values=None wiring of round 1 could not)."""
    feats = np.arange(100, 180, dtype=np.uint32)
    u = K.wta_signature(feats, None, 16, 10)
    v = K.wta_signature(
        feats, np.linspace(1, 50, feats.size).astype(np.float32), 16, 10
    )
    assert u.tolist() != v.tolist()


def test_wta_api_threads_values(spark):
    """API passes the values column through to WTA signatures: two datasets
    with identical features but different values produce different bands."""
    feats = [int(x) for x in range(500, 560)]
    df1 = spark.createDataFrame(
        [(0, feats, [float(1)] * len(feats))],
        "id long, features array<long>, values array<double>",
    )
    df2 = spark.createDataFrame(
        [(0, feats, [float(i + 1) for i in range(len(feats))])],
        "id long, features array<long>, values array<double>",
    )
    def bands(df):
        nn = MinHashNeighbors(
            number_of_hash_functions=16, hash_algorithm=1, rangeK_wta=10,
            max_bin_size=10_000,
        ).fit(df)
        return nn._fitted.select("bands").collect()[0][0]
    assert bands(df1) != bands(df2)


# ---------------------------------------------------------------------------
# DBSCAN min_samples semantics
# ---------------------------------------------------------------------------

def _dbscan_reference(dist, eps, min_samples):
    """Plain-python DBSCAN over a dense distance matrix — the semantics
    sklearn implements for metric='precomputed' (what minHashDBSCAN.py:47
    delegates to). Border points here are unambiguous by construction."""
    n = dist.shape[0]
    core = {
        i
        for i in range(n)
        if sum(1 for j in range(n) if dist[i, j] <= eps) >= min_samples
    }
    labels = {}
    cid = 0
    for s in sorted(core):
        if s in labels:
            continue
        stack = [s]
        labels[s] = cid
        while stack:
            p = stack.pop()
            for q in range(n):
                if dist[p, q] <= eps and q not in labels:
                    labels[q] = cid
                    if q in core:
                        stack.append(q)
        cid += 1
    return {i: labels.get(i, -1) for i in range(n)}


def _jaccard_dist_matrix(rows):
    n = len(rows)
    d = np.ones((n, n))
    for i in range(n):
        d[i, i] = 0.0
        for j in range(i + 1, n):
            jd = 1.0 - K.jaccard_sorted(
                rows[i].astype(np.int64), rows[j].astype(np.int64)
            )
            d[i, j] = d[j, i] = jd
    return d


def test_cluster_min_samples_matches_dbscan(spark):
    """Planted clusters + isolated noise points: cluster(eps, min_samples)
    partitions + noise set == reference DBSCAN on the exact distance
    matrix."""
    rng = np.random.RandomState(23)
    rows = []
    for c in range(5):
        base = np.unique(rng.randint(0, 3000, size=50))
        for _ in range(8):
            keep = base[rng.rand(base.size) > 0.06]
            rows.append(np.unique(keep))
    # isolated points (disjoint feature ranges) → noise at min_samples > 1
    for i in range(4):
        rows.append(
            np.unique(rng.randint(10_000 + i * 1000, 10_400 + i * 1000, size=40))
        )
    df = spark.createDataFrame(
        [(i, [int(x) for x in r]) for i, r in enumerate(rows)],
        "id long, features array<long>",
    )
    eps, min_samples = 0.35, 4
    nn = MinHashNeighbors(
        number_of_hash_functions=128, max_bin_size=10_000, metric="jaccard"
    ).fit(df)
    got = {r["id"]: r["cluster_id"] for r in nn.cluster(eps, min_samples).collect()}
    want = _dbscan_reference(_jaccard_dist_matrix(rows), eps, min_samples)

    assert {i for i, l in got.items() if l == -1} == {
        i for i, l in want.items() if l == -1
    }
    def partition(lab):
        g = {}
        for i, l in lab.items():
            if l != -1:
                g.setdefault(l, set()).add(i)
        return {frozenset(v) for v in g.values()}
    assert partition(got) == partition(want)


def test_cluster_min_samples_one_keeps_connectivity(spark):
    rng = np.random.RandomState(9)
    rows = [np.unique(rng.randint(0, 500, size=30)) for _ in range(6)]
    df = spark.createDataFrame(
        [(i, [int(x) for x in r]) for i, r in enumerate(rows)],
        "id long, features array<long>",
    )
    nn = MinHashNeighbors(
        number_of_hash_functions=32, max_bin_size=10_000, metric="jaccard"
    ).fit(df)
    got = {r["id"]: r["cluster_id"] for r in nn.cluster(eps=0.05).collect()}
    # nothing within eps → every point its own singleton label (not -1)
    assert all(got[i] == i for i in got)

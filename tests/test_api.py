"""MinHashNeighbors API tests — recall vs exact brute-force, tie semantics,
graph symmetry, classifier accuracy. Mirrors the reference's own accuracy
harness (run_test.py:38-77: recall of approximate kneighbors vs exact NN).
"""

import itertools
import pstats

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from webdedup import kernels as K
from webdedup.api import MinHashClassifier, MinHashNeighbors
from webdedup.joins import scoped_persists


def make_sparse_rows(n=120, dim=5000, nnz=60, n_clusters=12, seed=7):
    """Clustered sparse feature sets: rows in a cluster share ~90% features."""
    rng = np.random.RandomState(seed)
    rows, labels = [], []
    per = n // n_clusters
    for c in range(n_clusters):
        base = np.unique(rng.randint(0, dim, size=nnz))
        for _ in range(per):
            keep = base[rng.rand(base.size) > 0.1]
            extra = np.unique(rng.randint(0, dim, size=max(1, nnz // 10)))
            rows.append(np.unique(np.concatenate([keep, extra])))
            labels.append(c)
    return rows, labels


@pytest.fixture(scope="module")
def data(spark):
    rows, labels = make_sparse_rows()
    df = spark.createDataFrame(
        [(i, [int(x) for x in r]) for i, r in enumerate(rows)],
        "id long, features array<long>",
    )
    y = spark.createDataFrame(
        [(i, int(l)) for i, l in enumerate(labels)], "id long, label int"
    )
    return df, y, rows, labels


def brute_knn(rows, k):
    n = len(rows)
    out = {}
    for i in range(n):
        d = [
            (1.0 - K.jaccard_sorted(rows[i], rows[j]), j)
            for j in range(n)
            if j != i
        ]
        d.sort()
        out[i] = d[:k]
    return out


def test_kneighbors_recall_vs_exact(spark, data):
    df, _, rows, _ = data
    nn = MinHashNeighbors(
        n_neighbors=5, number_of_hash_functions=128, shingle=0,
        max_bin_size=10_000, excess_factor=5, fast=False,
    ).fit(df)
    got = nn.kneighbors()
    pairs = {(r["query_id"], r["cand_id"]) for r in got.collect()}
    exact = brute_knn(rows, 5)
    hits = tot = 0
    for q, ns in exact.items():
        for d, j in ns:
            tot += 1
            hits += (q, j) in pairs
    recall = hits / tot
    assert recall >= 0.95, f"kneighbors recall {recall:.3f}"


def test_kneighbors_distances_exact_when_slow_path(spark, data):
    df, _, rows, _ = data
    nn = MinHashNeighbors(
        n_neighbors=3, number_of_hash_functions=64, fast=False, max_bin_size=10_000
    ).fit(df)
    for r in nn.kneighbors().limit(50).collect():
        want = 1.0 - K.jaccard_sorted(rows[r["query_id"]], rows[r["cand_id"]])
        assert r["distance"] == pytest.approx(want, abs=1e-9)


def test_kneighbors_without_expansion_is_round_one_top_k(spark, data):
    """neighbor_of_neighbor=False: round 1's exact top k, ranked by
    rank() over (distance asc, cand_id asc) within each query."""
    df, _, rows, _ = data
    k = 3
    nn = MinHashNeighbors(
        n_neighbors=k, number_of_hash_functions=64, max_bin_size=10_000
    ).fit(df)
    by_q: dict = {}
    for r in nn.kneighbors(neighbor_of_neighbor=False).collect():
        q, c = r["query_id"], r["cand_id"]
        assert q != c and r["rnk"] <= k
        want = 1.0 - K.jaccard_sorted(rows[q], rows[c])
        assert r["distance"] == pytest.approx(want, abs=1e-9)
        by_q.setdefault(q, []).append(r)
    assert len(by_q) == len(rows)
    for rs in by_q.values():
        ranked = sorted(rs, key=lambda r: (r["distance"], r["cand_id"]))
        assert [r["rnk"] for r in ranked] == list(range(1, len(rs) + 1))


def test_fast_path_distance_transform(spark, data):
    """fast=True distances must be 1 - collisions/sig_len in [0, 1]."""
    df, _, _, _ = data
    nn = MinHashNeighbors(
        n_neighbors=3, number_of_hash_functions=64, fast=True, max_bin_size=10_000
    ).fit(df)
    rows = nn.kneighbors().limit(100).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["distance"] <= 1.0


def test_self_edges_dropped_on_self_query(spark, data):
    df, _, _, _ = data
    nn = MinHashNeighbors(n_neighbors=3, number_of_hash_functions=64, max_bin_size=10_000).fit(df)
    assert nn.kneighbors().where("query_id = cand_id").count() == 0


def test_explicit_query_keeps_self_match(spark, data):
    """Querying with X = fitted data keeps the self hit at distance 0
    (reference: cutFirstValue only when X is None)."""
    df, _, _, _ = data
    nn = MinHashNeighbors(n_neighbors=3, number_of_hash_functions=64, max_bin_size=10_000).fit(df)
    got = nn.kneighbors(df)
    selfs = got.where("query_id = cand_id")
    assert selfs.count() > 0
    assert selfs.where("distance > 1e-9").count() == 0


def test_radius_neighbors(spark, data):
    df, _, rows, _ = data
    nn = MinHashNeighbors(number_of_hash_functions=128, max_bin_size=10_000).fit(df)
    got = nn.radius_neighbors(radius=0.3)
    for r in got.limit(50).collect():
        assert r["distance"] <= 0.3 + 1e-9


def test_graph_symmetric(spark, data):
    df, _, _, _ = data
    nn = MinHashNeighbors(n_neighbors=3, number_of_hash_functions=64, max_bin_size=10_000).fit(df)
    g = nn.kneighbors_graph(mode="distance", symmetric=True)
    a = {(r["src"], r["dst"]): r["weight"] for r in g.collect()}
    for (s, d), w in a.items():
        assert (d, s) in a and a[(d, s)] == pytest.approx(w)


def test_graph_connectivity_mode(spark, data):
    df, _, _, _ = data
    nn = MinHashNeighbors(n_neighbors=3, number_of_hash_functions=64, max_bin_size=10_000).fit(df)
    g = nn.kneighbors_graph(mode="connectivity")
    assert g.where("weight != 1.0").count() == 0


def test_partial_fit_appends(spark, data):
    df, _, _, _ = data
    first = df.where("id < 60")
    second = df.where("id >= 60")
    nn = MinHashNeighbors(n_neighbors=3, number_of_hash_functions=64, max_bin_size=10_000)
    nn.fit(first).partial_fit(second)
    ids = {r["cand_id"] for r in nn.kneighbors().collect()}
    assert any(i >= 60 for i in ids)


def test_repeated_fitted_id_names_the_fitted_rows(spark, data):
    """The exact re-rank looks rows up by id: a partial_fit that repeats a
    fitted id makes the next fast=False query fail, naming the fitted
    rows and the id."""
    df, _, _, _ = data
    nn = MinHashNeighbors(n_neighbors=3, number_of_hash_functions=64, max_bin_size=10_000)
    nn.fit(df.where(F.col("id") < 60)).partial_fit(df.where(F.col("id") == 7))
    with pytest.raises(ValueError, match=r"fitted rows \(fit / partial_fit\): id 7 appears"):
        nn.kneighbors().count()


def test_classifier_accuracy(spark, data):
    df, y, _, labels = data
    clf = MinHashClassifier(
        n_neighbors=5, number_of_hash_functions=128, max_bin_size=10_000
    ).fit(df, y)
    acc = clf.score(df, y)
    assert acc >= 0.9, f"classifier accuracy {acc:.3f}"


def test_classifier_score_runs_the_knn_chain_once(spark, data, run_jobs):
    """score() counts rows and hits in one aggregate, so it runs the same
    jobs as one count of predict(X) joined with the labels (each call in
    its own scope, so each builds its own query caches)."""
    df, y, _, _ = data
    clf = MinHashClassifier(
        n_neighbors=5, number_of_hash_functions=64, max_bin_size=10_000
    ).fit(df, y)
    with scoped_persists() as scope:
        clf.predict(df).count()  # builds the fitted row table
    scope.release()
    truth = y.select(F.col("id").alias("query_id"), F.col("label").alias("truth"))
    jobs = {}
    for name, action in (
        ("count", lambda: clf.predict(df).join(truth, "query_id").count()),
        ("score", lambda: clf.score(df, y)),
    ):
        with scoped_persists() as scope:
            jobs[name] = run_jobs(f"score-test-{name}", action)[1]
        scope.release()
    assert jobs["score"] == jobs["count"], jobs


def test_kneighbors_exact_rounds_plan_and_job_budget(spark, data, run_jobs):
    """The self-query's exact rounds are one mapInArrow pass each (score
    and rank() in Python, no Arrow UDF node and no Window over the
    distance), over pairs partitioned by query_id once per round. Jobs of
    one collect with the fitted row table built: 10 (the scalar-UDF
    rounds with a rank() window each ran 14; 11 while the collision join
    was planned from Catalyst's size estimate, sort-merge on this input,
    until AQE switched it to a broadcast)."""
    import re

    from capture_plans import final_sections

    nn = MinHashNeighbors(n_neighbors=3, number_of_hash_functions=64, max_bin_size=10_000)
    nn.fit(data[0])
    with scoped_persists() as scope:
        nn.kneighbors().count()  # builds the fitted row table
    scope.release()
    with scoped_persists() as scope:
        edges = nn.kneighbors()
        _, n_jobs = run_jobs("knn-budget", edges.collect)
        plan = final_sections(edges._jdf.queryExecution().executedPlan().toString())
    scope.release()
    assert "ArrowEvalPython" not in plan
    assert not [ln for ln in plan.splitlines() if "Window [" in ln and "distance" in ln]
    # the round-1 pass is printed under each scan of its cache
    assert len(set(re.findall(r"MapInArrow \S+\(.*?\)#(\d+)", plan))) == 2
    assert n_jobs == 10, n_jobs


def test_predict_proba_sums_to_one(spark, data):
    df, y, _, _ = data
    clf = MinHashClassifier(
        n_neighbors=5, number_of_hash_functions=64, max_bin_size=10_000
    ).fit(df, y)
    s = (
        clf.predict_proba(df)
        .groupBy("query_id")
        .agg(F.sum("proba").alias("s"))
        .where("abs(s - 1.0) > 1e-9")
        .count()
    )
    assert s == 0


def test_cluster_recovers_planted_clusters(spark, data):
    df, _, rows, labels = data
    nn = MinHashNeighbors(number_of_hash_functions=128, max_bin_size=10_000).fit(df)
    cl = {r["id"]: r["cluster_id"] for r in nn.cluster(eps=0.4).collect()}
    # same planted cluster ⇒ same component for the vast majority of pairs
    same = tot = 0
    for i, j in itertools.combinations(range(len(labels)), 2):
        if labels[i] == labels[j]:
            tot += 1
            same += cl[i] == cl[j]
    assert same / tot >= 0.95


def test_dead_parameter_accepted():
    MinHashNeighbors(minimal_blocks_in_common=400)  # must not raise / affect anything


def test_wta_hash_variant(spark, data):
    """hash_algorithm=1 (WTA, reference P5): same API, different signature
    family; near rows still retrieved."""
    df, _, rows, _ = data
    nn = MinHashNeighbors(
        n_neighbors=5, number_of_hash_functions=128, hash_algorithm=1,
        rangeK_wta=10, max_bin_size=10_000,
    ).fit(df)
    got = nn.kneighbors()
    pairs = {(r["query_id"], r["cand_id"]) for r in got.collect()}
    exact = brute_knn(rows, 5)
    hits = tot = 0
    for q, ns in exact.items():
        for d, j in ns:
            tot += 1
            hits += (q, j) in pairs
    assert hits / tot >= 0.8  # WTA on uniform values ~ minhash-of-hash


def test_wta_uniform_values_is_min_hashed_key():
    import numpy as np

    from webdedup import kernels as K

    f = np.array([5, 9, 100, 2**31], dtype=np.uint32)
    sig = K.wta_signature(f, None, 6, range_k=2)
    for i in range(6):
        h = K.hash_ks(f + np.uint32(1), np.uint32(42 + i))
        assert sig[i] == h.min()


def test_lsb_filter_shrinks_index(spark, data):
    df, _, _, _ = data
    full = MinHashNeighbors(number_of_hash_functions=64, max_bin_size=10_000).fit(df)
    lsb = MinHashNeighbors(
        number_of_hash_functions=64, max_bin_size=10_000,
        store_value_with_least_sigificant_bit=2,
    ).fit(df)
    n_full, n_lsb = full._index.count(), lsb._index.count()
    assert 0 < n_lsb < n_full
    assert lsb._index.where("hash % 4 != 3").count() == 0  # low 2 bits all 1


def test_prune_and_weak_slot_removal(spark, data):
    df, _, _, _ = data
    nn = MinHashNeighbors(number_of_hash_functions=32, max_bin_size=10_000).fit(df)
    before = nn._index.count()
    nn.prune(n=1)
    pruned = nn._index.count()
    assert pruned < before
    # all remaining buckets have >= 2 members
    m = nn._index.groupBy("slot", "hash").count().agg(F.min("count")).collect()[0][0]
    assert m >= 2
    nn.remove_weak_slots(n=1)  # keep slots with >= 1 distinct value (no-op-ish)
    assert nn._index.count() == pruned


def test_index_stats(spark, data):
    df, _, _, _ = data
    nn = MinHashNeighbors(number_of_hash_functions=16, max_bin_size=10_000).fit(df)
    stats = nn.index_stats().collect()
    assert len(stats) == 16
    for r in stats:
        assert r["n_hash_values"] > 0 and r["mean_bucket_size"] >= 1.0


def test_save_load_roundtrip(spark, data, tmp_path):
    df, y, _, _ = data
    nn = MinHashNeighbors(n_neighbors=3, number_of_hash_functions=64, max_bin_size=10_000).fit(df)
    want = {(r["query_id"], r["cand_id"]): r["distance"] for r in nn.kneighbors().collect()}
    nn.save(str(tmp_path / "model"))
    nn2 = MinHashNeighbors.load(spark, str(tmp_path / "model"))
    assert nn2._fitted.columns == ["id", "bands", "features"]
    got = {(r["query_id"], r["cand_id"]): r["distance"] for r in nn2.kneighbors().collect()}
    assert got == want


def test_load_rejects_packed_layout(spark, data, tmp_path):
    """A model saved as (id, bands, fpk), its rows packed as ``<i8``
    bytes, fails at load with the missing ``features`` column named; one
    saved as (id, features, bands), the layout before that, loads."""
    df, _, _, _ = data
    path = str(tmp_path / "old")
    nn = MinHashNeighbors(number_of_hash_functions=16, max_bin_size=10_000).fit(df)
    want = sorted(nn.kneighbors().collect())
    nn.save(path)
    nn._fitted.select("id", "features", "bands").write.mode("overwrite").parquet(path + "/fitted")
    assert sorted(MinHashNeighbors.load(spark, path).kneighbors().collect()) == want
    nn._fitted.select("id", "bands", F.lit(b"\0" * 8).alias("fpk")).write.mode(
        "overwrite"
    ).parquet(path + "/fitted")
    with pytest.raises(ValueError, match="'features'.*re-fit"):
        MinHashNeighbors.load(spark, path)


def _lists(rows, list_of, typ):
    return pa.array(rows, list_of(typ))


def _packed(rows, dtype, typ):
    return pa.array(
        [None if r is None else np.asarray(r, dtype=dtype).tobytes() for r in rows], typ
    )


def _ids(r):
    return np.asarray(r, dtype=np.int64)


def _batches(qid, cid, size):
    """(query_id, cand_id) record batches of ``size`` rows."""
    return [
        pa.RecordBatch.from_arrays(
            [pa.array(qid[i : i + size], pa.int64()), pa.array(cid[i : i + size], pa.int64())],
            ["query_id", "cand_id"],
        )
        for i in range(0, len(qid), size)
    ]


@pytest.mark.parametrize(
    "typ", [(pa.list_, pa.binary()), (pa.large_list, pa.large_binary())]
)
def test_packed_metric_kernels_match_numpy_kernels(typ):
    """The exact re-rank's and the dedup verify's Arrow kernels read
    zero-copy views of Arrow rows: the re-rank's row tables are coded
    from ``list`` id and value rows, the verify reads packed ``<u4``
    shingle blobs. The re-rank's mapInArrow body gets only (query_id,
    cand_id) record batches and looks both rows up in row tables; it
    agrees exactly with kernels.jaccard_sorted / sparse_metric
    (euclidean's square root taken) on pairs in any order (one query split
    over many runs), queries whose pairs span batch boundaries, empty
    partitions and batches, empty rows on either or both sides, negative
    ids and ids beyond uint32, explicit-query ids the fitted rows lack
    (they still count in |q|), null value rows (= ones), null ``<u4``
    shingle blobs (= empty sets), sliced arrays whose offset is > 0 and
    tables coded from several chunks, their id and value rows chunked
    apart, with 32-bit offsets and with the 64-bit ones of ``large_list``
    and ``large_binary`` (``spark.sql.execution.arrow.useLargeVarTypes``).
    With a k cut it keeps each query's top k by rank()."""
    from types import SimpleNamespace

    from webdedup.api import _exact_pass
    from webdedup.verify import jaccard_udf

    def exact(metric, q, c, k=None, size=3):
        body = _exact_pass(metric, SimpleNamespace(value=q), SimpleNamespace(value=c), k)

        def run(qid, cid):
            out = list(body(iter(_batches(qid, cid, size))))
            cols = [[x for b in out for x in b.column(j).to_pylist()] for j in range(out[0].num_columns)] if out else []
            return cols[2] if k is None and cols else cols

        return run

    # row 0 of each list is sliced off (arr.offset == 1); row ids unsorted
    fit = [[0], [7], [], [3, 1, 2], [5, 2**40, 7], [9, 4, -3], [-3, 2**40, 1]]
    fvals = [[0.0], [1.0], [], None, [1.0, 2.0, 3.0], [0.5, 2.0, 4.0], None]
    fit_ids = [0, 2**40, -5, 0, 17, 3, 8][1:]
    query = [[0], [7, 99], [], [1, 2, 3], [-3, 2**41, 4, -1], [2**40]]
    qvals = [[0.0], [2.0, 1.0], [], [1.0, 1.0, 2.0], None, [3.0]]
    q_ids = [0, 5, 1, -2, 2**33, 4][1:]
    list_of, blob = typ
    f_rows, q_rows = (_lists(r, list_of, pa.int64()).slice(1) for r in (fit, query))
    f_vals, q_vals = (_lists(v, list_of, pa.float64()).slice(1) for v in (fvals, qvals))
    assert f_rows.offset == f_vals.offset == 1
    # tables are built chunk by chunk: split the fitted rows, their values
    # elsewhere; Jaccard reads tables without values, the others with them
    fchunks = pa.chunked_array([f_rows.slice(0, 3), f_rows.slice(3)])
    fc, vocab = K.code_rows(fit_ids, fchunks)
    qc, _ = K.code_rows(q_ids, pa.chunked_array([q_rows]), vocab=vocab)
    fvchunks = pa.chunked_array([f_vals.slice(0, 1), f_vals.slice(1, 4), f_vals.slice(5)])
    ft, fvocab = K.code_rows(fit_ids, fchunks, fvchunks)
    qt, _ = K.code_rows(q_ids, pa.chunked_array([q_rows]), pa.chunked_array([q_vals]), vocab)
    assert list(fvocab) == list(vocab)
    fit, fvals, query, qvals = fit[1:], fvals[1:], query[1:], qvals[1:]
    assert 99 not in vocab and 2**41 not in vocab and -1 not in vocab

    def ones_if_null(v, r):
        return np.ones(len(r)) if v is None else np.asarray(v, dtype=np.float64)

    def top(qi, ci, dist, k, desc):
        """Each query's pairs of rank() <= k over (distance [desc], cand_id)."""
        kept = []
        for q in sorted(set(qi)):
            run = sorted(
                (-d if desc else d, c) for x, c, d in zip(qi, ci, dist) if x == q
            )
            kept += [(q, c, -d if desc else d, 1 + run.index((d, c))) for d, c in run]
        kept = [r for r in kept if r[3] <= k]
        return [list(col) for col in zip(*kept)]

    for q, qv, qid, t, tc in ((fit, fvals, fit_ids, ft, fc), (query, qvals, q_ids, qt, qc)):
        # query varies fastest (every run holds one pair), then long runs
        # that span the 3-row batches
        pairs = [(i, j) for j in range(len(fit)) for i in range(len(q))]
        pairs += [(i, j) for i in range(len(q)) for j in range(len(fit))]
        qi, ci = [qid[i] for i, _ in pairs], [fit_ids[j] for _, j in pairs]
        want = [1.0 - K.jaccard_sorted(_ids(q[i]), _ids(fit[j])) for i, j in pairs]
        assert exact("jaccard", tc, fc)(qi, ci) == want
        assert exact("jaccard", t, ft)(qi, ci) == want  # values unread
        by_metric = {"jaccard": (want, tc, fc)}
        for metric in ("euclidean", "cosine"):
            want = [
                K.sparse_metric(
                    _ids(q[i]), ones_if_null(qv[i], q[i]),
                    _ids(fit[j]), ones_if_null(fvals[j], fit[j]), metric,
                )
                for i, j in pairs
            ]
            if metric == "euclidean":
                want = list(np.sqrt(want))
            assert exact(metric, t, ft)(qi, ci) == want
            by_metric[metric] = (want, t, ft)
        # the k cut reads pairs sorted by query, one query over 2 batches
        n = len(q) * len(fit)
        order = sorted(range(n), key=lambda x: qi[n + x])
        sq, sc = [qi[n + x] for x in order], [ci[n + x] for x in order]
        for metric, (want, a, b) in by_metric.items():
            sd = [want[n + x] for x in order]
            for k in (1, 2, 4):
                want_k = top(sq, sc, sd, k, metric == "cosine")
                assert exact(metric, a, b, k)(sq, sc) == want_k
    assert exact("jaccard", qc, fc)([], []) == []
    assert exact("jaccard", qc, fc, 2)([], []) == []
    body = _exact_pass("jaccard", SimpleNamespace(value=qc), SimpleNamespace(value=fc), 2)
    empty_batch = pa.RecordBatch.from_arrays(
        [pa.array([], pa.int64())] * 2, ["query_id", "cand_id"]
    )
    assert list(body(iter([empty_batch]))) == []
    nc, _ = K.code_rows([], pa.chunked_array([], list_of(pa.int64())), vocab=vocab)
    assert exact("jaccard", nc, fc)([], []) == []
    rep = _lists([[1], [2], [5]], list_of, pa.int64())
    rep_vals = pa.chunked_array([pa.nulls(3, list_of(pa.float64()))])
    with pytest.raises(ValueError, match="the query X: id 3 appears more than once"):
        K.code_rows([3, 4, 3], pa.chunked_array([rep]), rep_vals, vocab, "the query X")
    with pytest.raises(ValueError, match="the query X: id 3 appears more than once"):
        K.code_rows([3, 4, 3], pa.chunked_array([rep]), vocab=vocab, name="the query X")

    # verify: sorted-unique <u4 shingle blobs, the same row shapes plus a
    # null blob; an element-size mistake in the decoder misplaces rows
    sa = [[7], [], None, [1, 2, 3], [5, 7, 2**32 - 1], [4, 9], [2, 4, 6, 8]]
    sb = [[7], [], [1], None, [1, 5, 7], [4, 9, 11], [1, 2, 4, 8, 9]]
    ua, ub = _packed(sa, "<u4", blob).slice(1), _packed(sb, "<u4", blob).slice(1)
    assert ua.offset == 1 and ua.null_count == ub.null_count == 1

    def u4(r):
        return np.asarray(r or [], dtype="<u4")

    want = [K.jaccard_sorted(u4(sa[i]), u4(sb[i])) for i in range(1, len(sa))]
    assert jaccard_udf.func(ua, ub).to_pylist() == want

    # every row empty: the list's child and the blobs' data buffer hold
    # nothing
    empty = _lists([[], []], list_of, pa.int64())
    assert len(empty.values) == 0
    nulls = pa.chunked_array([pa.nulls(2, list_of(pa.float64()))])
    et, _ = K.code_rows([1, 2], pa.chunked_array([empty]), nulls)
    ec, _ = K.code_rows([1, 2], pa.chunked_array([empty]))
    assert exact("jaccard", ec, ec)([1, 2], [2, 1]) == [0.0, 0.0]
    assert exact("euclidean", et, et)([1, 2], [2, 1]) == [0.0, 0.0]
    empty = _packed([[], []], "<u4", blob)
    assert empty.buffers()[2].size == 0
    assert jaccard_udf.func(empty, empty).to_pylist() == [1.0, 1.0]


@pytest.mark.parametrize("desc", [False, True])
def test_rank_cut_matches_spark_rank(spark, desc):
    """kernels.rank_cut keeps exactly the pairs, with the same ranks, as
    F.rank() over (distance [desc], cand_id) per query filtered to
    rank <= k, the order the exact rounds ranked by before: ties in
    distance, repeated (distance, cand_id) pairs sharing a rank, the cut
    falling inside a tie, -0.0 equal to 0.0, and NaN ordered as Spark
    orders it (last ascending, first descending, equal to NaN)."""
    from pyspark.sql import Window

    nan = float("nan")
    rows = [
        (1, 5, 0.5), (1, 3, 0.5), (1, 4, 0.2), (1, 4, 0.2), (1, 9, nan),
        (1, 2, nan), (1, 2, nan), (1, 7, 0.9), (1, 8, -0.0), (1, 6, 0.0),
        (1, 6, -0.0), (1, 1, 0.0),
        (2, 1, 0.3), (2, 1, 0.3), (2, 1, 0.3), (2, 0, 0.7), (2, 5, 0.3),
        (3, 4, nan), (3, 4, nan), (3, 1, 1.0), (3, 0, -1.0),
        (-4, 2, 0.1),
    ]
    df = spark.createDataFrame(rows, "query_id long, cand_id long, distance double")
    w = Window.partitionBy("query_id").orderBy(
        F.desc("distance") if desc else F.asc("distance"), F.asc("cand_id")
    )
    ranked = df.withColumn("rnk", F.rank().over(w))
    qid, cid, dist = (np.array(c) for c in zip(*rows))

    def key(q, c, d, r):
        return int(q), int(c), repr(float(d)), int(r)

    for k in (1, 2, 3, 5, 100):
        want = sorted(key(*r) for r in ranked.where(F.col("rnk") <= k).collect())
        kept, rnk = K.rank_cut(qid, cid, dist, k, desc)
        got = [key(qid[i], cid[i], dist[i], r) for i, r in zip(kept, rnk)]
        assert sorted(got) == want, k
        # kept is ordered by query, then rank
        assert [(g[0], g[3]) for g in got] == sorted((g[0], g[3]) for g in got)


def _signature_batches(spark, tmp_path, action) -> int:
    """Batches the signature UDF (``sig``) ran during ``action``, read from
    the perf UDF profiler's dump."""
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        spark.profile.clear()
        action()
        spark.profile.dump(str(tmp_path), type="perf")
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        spark.profile.clear()
    return sum(
        v[1]
        for f in tmp_path.glob("*.pstats")
        for k, v in pstats.Stats(str(f)).stats.items()
        if k[2] == "sig"
    )


@pytest.mark.parametrize("query", ["kneighbors", "radius_neighbors"])
def test_explicit_query_featurized_once(spark, data, tmp_path, query):
    """fast=False reads an explicit X's rows in its row table's collect
    and its bands in the collision join; the signature UDF still runs
    once over X (one batch for a one-partition X)."""
    df = data[0]
    q = df.where("id < 30").coalesce(1)
    with scoped_persists() as scope:
        nn = MinHashNeighbors(n_neighbors=3, number_of_hash_functions=64, max_bin_size=10_000)
        nn.fit(df)
        n = _signature_batches(spark, tmp_path, lambda: getattr(nn, query)(q).count())
    scope.release()
    assert n == 1


def test_explicit_query_caches_nothing(spark, data, monkeypatch):
    """fast=False with an explicit X tracks no persisted frame in the
    caller's scope, only X's row table broadcast, and neither row table's
    collect runs a Python UDF: Catalyst prunes the signature UDF from a
    plan that reads only X's own columns."""
    df = data[0]
    plans = []
    to_arrow = type(df).toArrow

    def traced(self):
        out = to_arrow(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return out

    monkeypatch.setattr(type(df), "toArrow", traced)
    with scoped_persists() as outer:
        nn = MinHashNeighbors(n_neighbors=3, number_of_hash_functions=64, max_bin_size=10_000)
        nn.fit(df)
        with scoped_persists() as scope:
            edges = nn.kneighbors(df.where("id < 30"), neighbor_of_neighbor=False)
            assert edges.count() > 0
        assert scope._frames == [] and len(scope._callbacks) == 1
        scope.release()
    outer.release()
    assert len(plans) == 2  # the fitted rows' table, then X's
    assert not [p for p in plans if "EvalPython" in p]


@pytest.mark.parametrize("slack, join", [(0, "BroadcastHashJoin"), (-1, "SortMergeJoin")])
def test_collision_join_planned_from_fitted_count(spark, data, monkeypatch, slack, join):
    """fit observes its row count on the checkpoint action it runs, and the
    collision join is planned as a broadcast of the index side, before it
    runs, when fitted rows × signature length is within
    BROADCAST_ID_LIMIT, whatever Catalyst's size estimate (size-based
    broadcasts are off here); one row over the limit, it is planned
    sort-merge."""
    from webdedup import api

    df = data[0]
    monkeypatch.setattr(api, "BROADCAST_ID_LIMIT", 120 * 16 + slack)
    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        with scoped_persists() as scope:
            nn = MinHashNeighbors(number_of_hash_functions=16, max_bin_size=10_000).fit(df)
            assert nn._n_fitted == 120
            plan = nn._collisions(nn._fitted)._jdf.queryExecution().executedPlan().toString()
        scope.release()
    finally:
        spark.conf.set(key, threshold)
    assert "isFinalPlan=false" in plan
    inner = [ln.strip(" +-:*()0123456789") for ln in plan.splitlines() if "Join" in ln and "Inner" in ln]
    assert len(inner) == 1 and inner[0].startswith(join), plan


def test_radius_graph_symmetric(spark, data):
    """O4: radius graph symmetrization parallels O3."""
    df, _, _, _ = data
    nn = MinHashNeighbors(number_of_hash_functions=64, max_bin_size=10_000).fit(df)
    g = nn.radius_neighbors_graph(radius=0.4, mode="distance", symmetric=True)
    a = {(r["src"], r["dst"]): r["weight"] for r in g.collect()}
    assert a
    for (s, d), w in a.items():
        assert (d, s) in a and a[(d, s)] == pytest.approx(w)


def test_to_local_arrays_padding(spark, data):
    df, _, _, _ = data
    nn = MinHashNeighbors(n_neighbors=4, number_of_hash_functions=64, max_bin_size=10_000).fit(df)
    ids, dists = nn.to_local_arrays(nn.kneighbors(), k=4)
    assert all(len(r) == 4 for r in ids)
    assert all(len(r) == 4 for r in dists)


def test_mixed_values_presence_raises(spark):
    """ADVICE r2: fitting valued data then querying with a values-less X
    (or vice versa) must fail loudly — euclidean/cosine between weighted
    candidates and implicitly-binary queries is silently inconsistent."""
    import pytest as _pytest
    from webdedup.api import MinHashNeighbors

    valued = spark.createDataFrame(
        [(i, [1, 2, 3, i + 10], [1.0, 2.0, 1.0, 3.0]) for i in range(8)],
        "id long, features array<long>, values array<double>",
    )
    plain = valued.select("id", "features")
    nn = MinHashNeighbors(number_of_hash_functions=16).fit(valued)
    with _pytest.raises(ValueError, match="has_values"):
        nn.kneighbors(plain, n_neighbors=2).collect()
    nn2 = MinHashNeighbors(number_of_hash_functions=16).fit(plain)
    # jaccard (presence-only) ignores values → no error by design
    nn2.kneighbors(plain, n_neighbors=2)

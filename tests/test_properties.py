"""Property-based kernel tests (hypothesis) — no Spark session.

These pin the probabilistic contracts the pipeline's correctness rests on,
over randomized inputs rather than fixtures.
"""

from unittest import mock

import numpy as np
import pyarrow as pa
from hypothesis import given, settings, strategies as st

from webdedup import kernels as K

ids = st.lists(
    st.integers(min_value=0, max_value=2**32 - 2), min_size=0, max_size=300
)


@given(ids)
@settings(max_examples=60, deadline=None)
def test_wang32_stays_uint32_and_deterministic(xs):
    a = K.wang32(np.array(xs, dtype=np.uint32))
    b = K.wang32(np.array(xs, dtype=np.uint32))
    assert (a == b).all()
    assert a.dtype == np.uint32


@given(ids, st.integers(min_value=1, max_value=64))
@settings(max_examples=40, deadline=None)
def test_minhash_signature_is_permutation_invariant(xs, h):
    """A MinHash signature is a function of the feature SET — input order
    must not matter (the pipeline relies on this: shingle sets are sorted
    by construction but queries may not be)."""
    f = np.unique(np.array(xs, dtype=np.uint32))
    if f.size == 0:
        return
    rng = np.random.RandomState(0)
    perm = f[rng.permutation(f.size)]
    assert (K.minhash_signature(f, h) == K.minhash_signature(perm, h)).all()


@given(ids, st.integers(min_value=1, max_value=32))
@settings(max_examples=40, deadline=None)
def test_minhash_slots_are_members(xs, h):
    """Every signature slot of a non-empty row is one of the row's ids."""
    f = np.unique(np.array(xs, dtype=np.uint32))
    if f.size == 0:
        return
    sig = K.minhash_signature(f, h)
    assert np.isin(sig, f).all()


@given(ids)
@settings(max_examples=40, deadline=None)
def test_jaccard_bounds_and_identity(xs):
    a = np.unique(np.array(xs, dtype=np.uint32))
    assert K.jaccard_sorted(a, a) == 1.0
    b = a[: a.size // 2]
    j = K.jaccard_sorted(a, b)
    assert 0.0 <= j <= 1.0


@given(st.text(min_size=0, max_size=2000), st.integers(min_value=2, max_value=5))
@settings(max_examples=40, deadline=None)
def test_shingle_text_deterministic_and_sorted(t, n):
    a = K.shingle_text(t, n)
    b = K.shingle_text(t, n)
    assert np.array_equal(a, b)
    assert (np.diff(a.astype(np.int64)) > 0).all() if a.size > 1 else True


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=0, max_size=3000))
@settings(max_examples=30, deadline=None)
def test_substring_batch_always_matches_scalar(t):
    got = K.substring_fingerprints_batch([t], k=48, window=32)[0]
    want = K.substring_fingerprints(t, k=48, window=32)
    assert np.array_equal(got, want)


@given(
    st.text(alphabet="abcdef", min_size=200, max_size=400),
    st.text(alphabet="xyz", min_size=200, max_size=400),
    st.text(alphabet="pqrs", min_size=200, max_size=400),
)
@settings(max_examples=20, deadline=None)
def test_winnowing_detects_any_long_shared_run(shared, pre, post):
    """Guarantee: docs sharing a run >= window+k-1 bytes share a fingerprint."""
    a = pre + shared
    b = shared + post
    fa = K.substring_fingerprints(a, k=48, window=32)
    fb = K.substring_fingerprints(b, k=48, window=32)
    assert np.intersect1d(fa, fb).size > 0


@given(st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=1, max_size=100))
@settings(max_examples=40, deadline=None)
def test_simhash_self_distance_zero(xs):
    t = np.array(xs, dtype=np.uint32)
    fps = K.simhash64([t, t])
    assert int(K.hamming64(fps[0:1], fps[1:2])[0]) == 0


@given(st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=1, max_size=100))
@settings(max_examples=40, deadline=None)
def test_simhash_is_order_invariant(xs):
    """Bit votes are sums over tokens — token order must not matter."""
    t = np.array(xs, dtype=np.uint32)
    rng = np.random.RandomState(1)
    fps = K.simhash64([t, t[rng.permutation(t.size)]])
    assert fps[0] == fps[1]


@given(
    st.lists(st.integers(min_value=0, max_value=2**32 - 1), min_size=1, max_size=500),
    st.integers(min_value=1, max_value=40),
)
@settings(max_examples=40, deadline=None)
def test_winnow_covers_every_window(xs, w):
    """Winnowing's coverage guarantee: every sliding window of ``w``
    k-gram hashes contains at least one SELECTED hash (this is what makes
    any shared run >= window+k-1 bytes detectable)."""
    h = np.array(xs, dtype=np.uint32)
    sel = set(K.winnow(h, w).tolist())
    n = h.size
    for s in range(max(1, n - w + 1)):
        assert any(int(v) in sel for v in h[s : s + w])


@given(
    st.binary(min_size=0, max_size=400),
    st.binary(min_size=20, max_size=60),
    st.binary(min_size=0, max_size=400),
)
@settings(max_examples=40, deadline=None)
def test_rolling_hash_substring_invariance(pre, shared, post):
    """Identical k-byte windows hash identically wherever they appear."""
    k = 20
    a, b = pre + shared, shared + post
    ha, hb = K.rolling_hash(a, k), K.rolling_hash(b, k)
    # the shared block's first window appears in both docs
    ia = len(pre)
    assert ha[ia] == hb[0]
    # and every window fully inside the shared block matches
    m = len(shared) - k + 1
    assert np.array_equal(ha[ia : ia + m], hb[:m])


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
                min_size=1, max_size=60, unique=True))
@settings(max_examples=30, deadline=None)
def test_xxh64_sql_stages_match_reference(vals):
    """The DuckDB HUGEINT XXH64 oracle (stratified_sample / pack_sequences)
    is bit-exact vs an independent pure-python XXH64 over arbitrary longs —
    the hash Spark's xxhash64 computes for an 8-byte LE long, seed 42."""
    import duckdb

    import __spark_entry__ as E

    M = 1 << 64
    P1, P2 = 11400714785074694791, 14029467366897019727
    P3, P4, P5 = 1609587929392839161, 9650029242287828579, 2870177450012600261

    def rotl(x, r):
        return ((x << r) | (x >> (64 - r))) % M

    def ref(v, seed=42):
        v %= M
        h = (seed + P5 + 8) % M
        k1 = rotl((v * P2) % M, 31)
        h ^= (k1 * P1) % M
        h = (rotl(h, 27) * P1 + P4) % M
        h ^= h >> 33
        h = (h * P2) % M
        h ^= h >> 29
        h = (h * P3) % M
        return h ^ (h >> 32)

    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
    sql = (
        "WITH src AS (SELECT doc_id, CASE WHEN doc_id < 0 "
        f"THEN doc_id::HUGEINT + {M} ELSE doc_id::HUGEINT END AS x FROM t),"
        + E._xxh64_sql_stages("src")
        + " SELECT doc_id, h FROM xh"
    )
    got = dict(con.execute(sql).fetchall())
    for v in vals:
        assert int(got[v]) == ref(v), v


#: row ids of sparse rows: small and negative, around 2**32, and wide
sparse_ids = st.one_of(
    st.integers(-20, 20), st.integers(2**32 - 3, 2**32 + 3), st.integers(-(2**40), 2**40)
)


@st.composite
def sparse_rows(draw, value):
    """(id rows, value rows): unique ids a row, empty rows included, each
    value row aligned with its ids or None (read as ones)."""
    rows = draw(st.lists(st.lists(sparse_ids, unique=True, max_size=10), min_size=1, max_size=8))
    vals = [
        draw(st.none() | st.lists(value, min_size=len(r), max_size=len(r))) for r in rows
    ]
    return rows, vals


def _pair_metrics(fit, query, valued, pairs, chunk):
    """(table_pair_metric, sparse_metric, xx + yy) per metric over the
    pairs (query row i, fitted row j) of the coded tables of ``fit`` and
    ``query``, scored in chunks of ``chunk`` pairs."""

    def packed(rows, dtype):
        blobs = [None if r is None else np.asarray(r, dtype).tobytes() for r in rows]
        return pa.chunked_array([pa.array(blobs, pa.binary())])

    def table(rows, vals, ids, vocab=None):
        return K.code_rows(ids, packed(rows, "<i8"), packed(vals, "<f8") if valued else None, vocab)

    def ones_if_null(v, r):
        return np.ones(len(r)) if v is None or not valued else np.asarray(v, np.float64)

    (fr, fv), (qr, qv) = fit, query
    f_ids = [5 * i - 7 for i in reversed(range(len(fr)))]
    q_ids = [3 * i - 2 for i in reversed(range(len(qr)))]
    ft, vocab = table(fr, fv, f_ids)
    qt, _ = table(qr, qv, q_ids, vocab)
    qid = np.array([q_ids[i] for i, _ in pairs], np.int64)
    cid = np.array([f_ids[j] for _, j in pairs], np.int64)
    out = {}
    with mock.patch.object(K, "_PAIR_CHUNK", chunk):
        for metric in ("jaccard", "euclidean", "cosine"):
            scratch = K.pair_scratch(qt, ft, metric)
            got = K.table_pair_metric(qt, ft, qid, cid, metric, scratch)
            assert not scratch.any()
            a = [(np.array(qr[i]), ones_if_null(qv[i], qr[i])) for i, _ in pairs]
            b = [(np.array(fr[j]), ones_if_null(fv[j], fr[j])) for _, j in pairs]
            want = np.array([K.sparse_metric(x, u, y, w, metric) for (x, u), (y, w) in zip(a, b)])
            scale = np.array([u @ u + w @ w for (_, u), (_, w) in zip(a, b)])
            out[metric] = got, want, scale
    return out


_pairs = st.lists(st.tuples(st.integers(0, 7), st.integers(0, 7)), max_size=60)


@given(
    sparse_rows(st.integers(-4, 4).map(float)),
    sparse_rows(st.integers(-4, 4).map(float)),
    st.booleans(),
    _pairs,
    st.integers(1, 7),
)
@settings(max_examples=80, deadline=None)
def test_table_pair_metric_matches_sparse_metric(fit, query, valued, pairs, chunk):
    """The exact re-rank's one pair kernel over coded row tables equals
    kernels.sparse_metric bit for bit on integer values (every sum is
    exact, whatever its order), euclidean after the square root the
    exact pass takes: rows with and without values, empty rows, null
    value rows, negative ids and ids past 2**32, query ids the fitted
    vocabulary lacks, pairs in any order, and query runs crossing the
    kernel's pair chunks."""
    fr, qr = fit[0], query[0]
    # a query row with an id past every fitted one, beside two it shares
    query = (qr + [[2**62] + fr[0][:2]], query[1] + [None])
    pairs = [(i % len(query[0]), j % len(fr)) for i, j in pairs]
    for metric, (got, want, _) in _pair_metrics(fit, query, valued, pairs, chunk).items():
        if metric == "euclidean":
            got, want = np.sqrt(got), np.sqrt(want)
        assert got.tolist() == want.tolist(), metric


_real = st.floats(-100, 100, allow_nan=False).filter(lambda v: v == 0 or abs(v) > 1e-3)


@given(sparse_rows(_real), sparse_rows(_real), _pairs, st.integers(1, 7))
@settings(max_examples=60, deadline=None)
def test_table_pair_metric_real_values_close(fit, query, pairs, chunk):
    """With real values only the summation order differs from
    sparse_metric: the squared euclidean within 1e-12 of xx + yy, the
    cosine (already scaled by both norms) within 1e-12; Jaccard reads no
    value and stays exact."""
    fr, qr = fit[0], query[0]
    pairs = [(i % len(qr), j % len(fr)) for i, j in pairs]
    res = _pair_metrics(fit, query, True, pairs, chunk)
    got, want, _ = res["jaccard"]
    assert got.tolist() == want.tolist()
    got, want, scale = res["euclidean"]
    assert (np.abs(got - want) <= 1e-12 * scale).all()
    got, want, _ = res["cosine"]
    assert (np.abs(got - want) <= 1e-12).all()

"""Pure-numpy hashing / signature kernels — no Spark imports.

These are the vectorized re-expressions of the reference's C++ inner loops
(reference = joachimwolff/minHashNearestNeighbors at /root/reference):

* ``wang32``           — Thomas Wang 32-bit integer mix, the only hash family in
                         the reference (``computation/hash.h:129-140``).
* ``hash_ks``          — seeded variant ``wang32(key * seed)``
                         (``computation/hash.h:168-170``).
* ``minhash_signature``— per-row MinHash: ``sig[j] = argmin_f wang32((f+1)*(j+1))``
                         storing the arg-min *feature id*, scalar first-seen
                         tie-break (``computation/inverseIndex.cpp:243-273``).
* ``fold_bands``       — the reference's "shingle" signature compression /
                         LSH banding: chained ``wang32(sig[i*s+j]+1, prev+1)``
                         (``computation/inverseIndex.cpp:275-303``).
* ``simhash64``        — 64-bit SimHash fingerprint (second fingerprint family
                         per the north rule; not in the reference).
* ``token_ids`` / ``ngram_ids`` — text shingling into hashed k-gram sets.
* ``jaccard_sorted``   — exact Jaccard over id arrays. The dedup verify
                         (``<u4`` shingles) scores it per pair with
                         ``packed_pair_scores`` over ``unpack_rows`` (the one
                         packed-row decoder); the kNN exact re-rank
                         (``computation/nearestNeighbors.cpp:122-190``)
                         scores it, or ``sparse_metric``'s euclidean and
                         cosine, with ``table_pair_metric`` over a broadcast
                         ``RowTable`` built by ``code_rows`` (only the pairs'
                         row ids cross the Python boundary); ``rank_cut``
                         keeps each query's top k as Spark's ``rank()`` would.
* ``rolling_hash`` / ``winnow`` — Rabin fingerprints + winnowing for the
                         exact-substring duplicate pass (north-rule extra).

All uint32 arithmetic relies on numpy's silent modular wraparound, which
matches C++ unsigned semantics bit-for-bit.
"""

from __future__ import annotations

import zlib
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa

U32 = np.uint32
U64 = np.uint64
MAX_U32 = np.uint32(0xFFFFFFFF)  # MAX_VALUE sentinel (typeDefinitionsBasic.h:24)


def wang32(key: np.ndarray) -> np.ndarray:
    """Thomas Wang 32-bit mix; bit-parity with hash.h:129-140 (uint32 wrap)."""
    key = np.asarray(key, dtype=U32)
    key = (~key + (key << U32(15))).astype(U32)
    key = key ^ (key >> U32(12))
    key = (key + (key << U32(2))).astype(U32)
    key = key ^ (key >> U32(4))
    key = (key * U32(2057)).astype(U32)
    key = key ^ (key >> U32(16))
    return key


def hash_ks(key: np.ndarray, seed) -> np.ndarray:
    """Seeded hash ``wang32(key * seed)`` — hash.h:168-170 (uint32 product wrap)."""
    key = np.asarray(key, dtype=U32)
    seed = np.asarray(seed, dtype=U32)
    return wang32((key * seed).astype(U32))


def minhash_signature(features: np.ndarray, num_hashes: int) -> np.ndarray:
    """MinHash signature of one row (set of feature ids).

    ``sig[j] = features[argmin_i wang32((features[i]+1) * (j+1))]`` — stores the
    arg-min feature id, NOT the min hash value, exactly like the scalar
    reference path (inverseIndex.cpp:252-265; strict ``<`` ⇒ first-seen wins
    ties, which argmin also does). The reference's production SSE path
    deviates from this in documented ways — see
    ``minhash_signature_sse_exact`` for the bit-exact emulator; the engine
    intentionally uses the clean scalar semantics (SURVEY.md §7.3).
    """
    f = np.asarray(features, dtype=U32)
    if f.size == 0:
        return np.full(num_hashes, MAX_U32, dtype=U32)
    seeds = np.arange(1, num_hashes + 1, dtype=U32)
    # (nnz, H) hash matrix: wang32((f+1) * seed), all uint32 wraparound.
    h = wang32(((f[:, None] + U32(1)) * seeds[None, :]).astype(U32))
    return f[np.argmin(h, axis=0)]


def minhash_signature_sse_exact(features: np.ndarray, num_hashes: int) -> np.ndarray:
    """Bit-exact emulator of the reference's PRODUCTION signature path
    (InverseIndex::computeSignatureSSE, inverseIndex.cpp:105-167 +
    sseExtension.h:26-51), including its quirks:

    * rows with > 4 features: loop bound ``i < size-4`` drops the last 4..7
      features; hash keys and stored values are ``(f+1) % 0xFFFFFFFF`` (the
      signature stores f+1, unlike the scalar path's f);
    * per-lane argmin keeps the LAST index attaining the running minimum
      (_mm_argmin_change_epi32 equality overwrite);
    * the cross-lane reduction takes the SIGNED 32-bit minimum of the four
      lane minima (_mm_min_epi32 in _mm_get_argmin) — for hash values >=
      2^31 this inverts the order — and breaks lane ties by SIGNED maximum
      of the stored values;
    * rows with <= 4 features: scalar fallback over all features, storing f
      (not f+1), first-seen strict-< argmin.

    Exists for parity testing against the compiled reference; the engine
    itself uses the clean ``minhash_signature`` semantics.
    """
    f = np.asarray(features, dtype=U32)
    out = np.empty(num_hashes, dtype=U32)
    if f.size == 0:
        out[:] = MAX_U32
        return out
    if f.size <= 4:
        keys = ((f + U32(1)) % MAX_U32).astype(U32)
        seeds = np.arange(1, num_hashes + 1, dtype=U32)
        h = wang32((keys[:, None] * seeds[None, :]).astype(U32))
        return f[np.argmin(h, axis=0)]
    m = ((f.size - 5) // 4 + 1) * 4
    vals = ((f[:m] + U32(1)) % MAX_U32).astype(U32).reshape(-1, 4)  # rows × lanes
    nrows = vals.shape[0]
    for j in range(num_hashes):
        h = wang32((vals * U32(j + 1)).astype(U32))
        lane_min = h.min(axis=0)
        lane_arg = np.empty(4, dtype=U32)
        for l in range(4):
            idx = np.nonzero(h[:, l] == lane_min[l])[0][-1]  # last attaining min
            lane_arg[l] = vals[idx, l]
        signed = lane_min.astype(np.int32)
        win = signed.min()
        cand = lane_arg[signed == win].astype(np.int32)
        out[j] = np.uint32(np.int32(cand.max()))
    return out


def minhash_signatures(rows: list, num_hashes: int) -> np.ndarray:
    """Batch of MinHash signatures → (n_rows, num_hashes) uint32."""
    out = np.empty((len(rows), num_hashes), dtype=U32)
    seeds = np.arange(1, num_hashes + 1, dtype=U32)
    for i, row in enumerate(rows):
        f = np.asarray(row, dtype=U32)
        if f.size == 0:
            out[i] = MAX_U32
            continue
        h = wang32(((f[:, None] + U32(1)) * seeds[None, :]).astype(U32))
        out[i] = f[np.argmin(h, axis=0)]
    return out


def fold_bands(sigs: np.ndarray, rows_per_band: int) -> np.ndarray:
    """Fold signatures into band hashes by the reference's chained shingle.

    ``band[i] = chain over j in 0..r-1 of wang32((sig[i*r+j]+1) * (prev+1))``
    with ``prev`` initialised to ``sig[i*r]`` — inverseIndex.cpp:284-291.
    Input (n, H) with H divisible by rows_per_band; output (n, H//r) uint32.
    Two rows collide in band i iff (w.h.p.) their r signature slots all match —
    this IS classic LSH banding with b bands of r rows.
    """
    sigs = np.asarray(sigs, dtype=U32)
    n, h = sigs.shape
    r = int(rows_per_band)
    if h % r != 0:
        raise ValueError(f"signature length {h} not divisible by rows_per_band {r}")
    b = h // r
    blocks = sigs.reshape(n, b, r)
    acc = blocks[:, :, 0].astype(U32)
    for j in range(1, r):
        acc = wang32(((blocks[:, :, j] + U32(1)) * (acc + U32(1))).astype(U32))
    return acc


def wta_signature(
    features: np.ndarray,
    values: np.ndarray | None,
    num_hashes: int,
    range_k: int,
    seed0: int = 42,
) -> np.ndarray:
    """WTA-Hash signature of one row (reference P5, inverseIndex.cpp:305-341).

    Per hash function i (seed = seed0+i): hash every feature id, keep the
    range_k smallest hashed keys, emit the key whose associated VALUE is
    maximal (ties → smallest key, matching the reference's in-key-order scan
    of KSizeSortedMap with strict ``>``). With uniform values this
    degenerates to the min hashed key. Stores the hashed key, not the
    feature id (unlike MinHash P3).
    """
    f = np.asarray(features, dtype=U32)
    if f.size == 0:
        return np.full(num_hashes, MAX_U32, dtype=U32)
    v = (
        np.ones(f.size, dtype=np.float32)
        if values is None
        else np.asarray(values, dtype=np.float32)
    )
    k = min(int(range_k), f.size)
    out = np.empty(num_hashes, dtype=U32)
    for i in range(num_hashes):
        h = hash_ks((f + U32(1)).astype(U32), U32((seed0 + i) & 0xFFFFFFFF))
        if k < h.size:
            idx = np.argpartition(h, k - 1)[:k]
        else:
            idx = np.arange(h.size)
        order = idx[np.argsort(h[idx], kind="stable")]  # key-ascending scan
        best = order[0]
        best_val = v[best]
        for j in order[1:]:
            if v[j] > best_val:
                best_val = v[j]
                best = j
        out[i] = h[best]
    return out


def sparse_metric(
    ia: np.ndarray,
    va: np.ndarray,
    ib: np.ndarray,
    vb: np.ndarray,
    metric: str,
) -> float:
    """Exact metric between two sparse rows (unique ids in any order +
    values aligned with them).

    Mirrors the reference's exact refinement kernels over (feature id, value)
    CSR rows (sparseMatrix.h:231-316), including its clamping quirks:

    * ``euclidean``: SQUARED euclidean distance ``xx - 2*xy + yy``, clamped
      at >= 0 (sparseMatrix.h:258-260). The reference ranks by this squared
      form and sqrt()s only at output (nearestNeighbors.cpp:357); the API
      layer applies the same output sqrt.
    * ``cosine``: similarity ``xy / (sqrt(xx) * sqrt(yy))``, clamped at >= 0
      (sparseMatrix.h:300-303). Higher = closer.
    * ``jaccard``: 1 - |A∩B|/|A∪B| over the id sets (values ignored) — the
      dedup-native metric, no reference counterpart.

    Dot products accumulate in float64; for integer-valued inputs (term
    frequencies, binary presence) every intermediate is exactly representable,
    so results are bit-deterministic across summation orders — this is what
    makes the DuckDB oracle for the cosine/euclid driver queries hash-stable.
    """
    ia = np.asarray(ia, dtype=np.int64)
    ib = np.asarray(ib, dtype=np.int64)
    if metric == "jaccard":
        return 1.0 - jaccard_sorted(ia, ib)
    va = np.asarray(va, dtype=np.float64)
    vb = np.asarray(vb, dtype=np.float64)
    common, idx_a, idx_b = np.intersect1d(
        ia, ib, assume_unique=True, return_indices=True
    )
    xy = float(np.dot(va[idx_a], vb[idx_b])) if common.size else 0.0
    xx = float(np.dot(va, va))
    yy = float(np.dot(vb, vb))
    if metric == "euclidean":
        return max(xx - 2.0 * xy + yy, 0.0)
    if metric == "cosine":
        if xx <= 0.0 or yy <= 0.0:
            return 0.0
        return max(xy / (np.sqrt(xx) * np.sqrt(yy)), 0.0)
    raise ValueError(f"unknown metric {metric!r}")


def splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 mix — widens uint32 token ids to well-mixed 64-bit keys."""
    z = (np.asarray(x, dtype=U64) + U64(0x9E3779B97F4A7C15)).astype(U64)
    z = ((z ^ (z >> U64(30))) * U64(0xBF58476D1CE4E5B9)).astype(U64)
    z = ((z ^ (z >> U64(27))) * U64(0x94D049BB133111EB)).astype(U64)
    return z ^ (z >> U64(31))


def simhash64(token_id_rows: list) -> np.ndarray:
    """64-bit SimHash per row from uint32 token-id arrays → (n,) uint64.

    bit b of the fingerprint = sign of sum over tokens of (2*bit_b(h64)-1),
    where h64 = splitmix64(token_id). Unweighted (presence) — matches the
    MinHash presence-only semantics of the reference data model.
    """
    out = np.zeros(len(token_id_rows), dtype=U64)
    shifts = np.arange(64, dtype=U64)
    for i, row in enumerate(token_id_rows):
        t = np.asarray(row, dtype=U32)
        if t.size == 0:
            continue
        h = splitmix64(t)
        bits = ((h[:, None] >> shifts[None, :]) & U64(1)).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        fp = np.where(votes >= 0, U64(1), U64(0))
        out[i] = np.bitwise_or.reduce((fp << shifts).astype(U64))
    return out


def hamming64(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Bit-count of XOR between uint64 fingerprint arrays."""
    x = np.bitwise_xor(np.asarray(a, dtype=U64), np.asarray(b, dtype=U64))
    cnt = np.zeros(x.shape, dtype=np.int64)
    for _ in range(64):
        cnt += (x & U64(1)).astype(np.int64)
        x = x >> U64(1)
    return cnt


def token_ids(text: str) -> np.ndarray:
    """Whitespace tokens → uint32 crc32 ids (deterministic, order kept)."""
    toks = text.split()
    if not toks:
        return np.empty(0, dtype=U32)
    return np.array([zlib.crc32(t.encode("utf-8")) for t in toks], dtype=U32)


def ngram_ids(tok_ids: np.ndarray, n: int) -> np.ndarray:
    """Hashed word n-gram ids from a token-id sequence (chained wang32).

    Distinct + sorted output = the row's shingle *set* (the "CSR row as set of
    feature ids" of the reference data model, SURVEY.md §1). Rows shorter than
    n fall back to the distinct token ids themselves.
    """
    t = np.asarray(tok_ids, dtype=U32)
    if t.size < n:
        return np.unique(t)
    # Position-asymmetric chain: wang32(t_next XOR (acc * golden-prime)).
    # A plain (t+1)*(acc+1) product chain (the reference's shingle fold,
    # inverseIndex.cpp:284-291) is commutative in the first two tokens —
    # "x y z" and "y x z" would collide — acceptable for signature folding,
    # wrong for text shingles.
    acc = wang32(t[: t.size - n + 1])
    for j in range(1, n):
        nxt = t[j : t.size - n + 1 + j]
        acc = wang32(nxt ^ (acc * U32(0x9E3779B1)).astype(U32))
    return np.unique(acc)


def shingle_text(text: str, n: int) -> np.ndarray:
    """text → sorted distinct hashed word n-gram ids (uint32)."""
    return ngram_ids(token_ids(text), n)


def jaccard_sorted(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two id arrays, each unique, in any order and of
    any integer dtype."""
    a = np.asarray(a)
    b = np.asarray(b)
    if a.size == 0 and b.size == 0:
        return 1.0
    inter = np.intersect1d(a, b, assume_unique=True).size
    union = a.size + b.size - inter
    return float(inter) / float(union) if union else 1.0


def unpack_rows(arr: pa.Array, dtype: str):
    """Zero-copy views of a binary Arrow column of packed ``dtype`` rows →
    (elements, n+1 row offsets in elements, validity). Row i is
    ``elements[off[i]:off[i+1]]``, empty when null; ``arr.offset`` and the
    64-bit offsets of ``large_binary`` (useLargeVarTypes) are honoured."""
    size = np.dtype(dtype).itemsize
    _, offsets, data = arr.buffers()
    width = 8 if pa.types.is_large_binary(arr.type) else 4
    off = np.frombuffer(
        offsets, f"<i{width}", count=len(arr) + 1, offset=arr.offset * width
    ) // size
    elems = np.frombuffer(data, dtype, count=data.size // size) if data else np.empty(0, dtype)
    return elems, off, arr.is_valid().to_numpy(zero_copy_only=False)


def packed_pair_scores(a, b, dtype: str) -> np.ndarray:
    """Exact Jaccard similarity (:func:`jaccard_sorted`) of each pair of
    packed id rows ``(a[i], b[i])`` — the dedup verify's kernel.

    Per-pair loop on purpose — measured against a fully vectorized
    whole-batch kernel (concat both sides keyed pair_id<<32|value, one
    stable sort, adjacent-duplicate bincount) and a per-pair
    ``searchsorted`` variant under 1-32 concurrent worker processes
    (BASELINE.md round 3): the loop wins at every concurrency level and
    the gap WIDENS with workers (1740k vs 206k pairs/s at 32 workers). The
    batch kernel streams ~MBs of temporaries per batch through DRAM while
    the per-pair arrays stay L1/L2-resident — same bandwidth argument as
    :func:`substring_fingerprints_batch`.
    """
    ia, oa, _ = unpack_rows(a, dtype)
    ib, ob, _ = unpack_rows(b, dtype)
    out = np.empty(len(a))
    for i in range(len(a)):
        out[i] = jaccard_sorted(ia[oa[i] : oa[i + 1]], ib[ob[i] : ob[i + 1]])
    return out


class RowTable(NamedTuple):
    """Rows looked up by row id (the reference's in-core row-major matrix,
    sparseMatrix.h:44-53). The row with id ``ids[i]`` is ``r = rows[i]``,
    ``elems[off[r]:off[r+1]]``: codes over a vocabulary of ``vocab_size``
    ids, ``vocab_size`` for an id it lacks; ``vals`` their values (ones
    where a row had none) and ``sq`` each row's squared norm (the
    reference's precomputed ``xx``, sparseMatrix.h:60-123), both None
    for rows without values."""

    ids: np.ndarray  # sorted row ids, int64
    rows: np.ndarray  # rows[i]: the row number of ids[i]
    off: np.ndarray  # n+1 row offsets into elems, int64
    elems: np.ndarray
    vals: np.ndarray | None  # float64
    sq: np.ndarray | None  # float64, one a row
    vocab_size: int


def _row_positions(start: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Element positions of the rows ``[start[i], start[i] + lens[i])``,
    concatenated."""
    ends = np.cumsum(lens)
    return np.repeat(start - (ends - lens), lens) + np.arange(ends[-1] if lens.size else 0)


def _row_sums(x: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """Sum of each segment ``x[ends[i]:ends[i+1]]``, 0.0 for an empty one
    (``np.add.reduceat`` alone returns the next element there)."""
    out = np.zeros(ends.size - 1)
    full = np.flatnonzero(ends[1:] > ends[:-1])
    if full.size:
        out[full] = np.add.reduceat(x, ends[full])
    return out


def _by_id(ids, name: str):
    """(sorted row ids, their row numbers); ``name`` says whose rows these
    are in the error a repeated row id raises."""
    ids = np.asarray(ids, dtype=np.int64)
    rows = np.argsort(ids, kind="stable")
    sorted_ids = ids[rows]
    dup = np.flatnonzero(sorted_ids[1:] == sorted_ids[:-1])
    if dup.size:
        raise ValueError(
            f"{name}: id {sorted_ids[dup[0]]} appears more than once; the exact "
            "re-rank looks rows up by id, so row ids must be unique"
        )
    return sorted_ids, rows


def code_rows(
    ids, fpk: pa.ChunkedArray, vpk: pa.ChunkedArray | None = None, vocab=None, name: str = "rows"
):
    """(RowTable, vocab) of row ids, their packed ``<i8`` id rows ``fpk``,
    each id coded as its index in ``vocab``, and their packed ``<f8`` value
    rows ``vpk`` (a null one read as ones), in ``fpk``'s order.

    ``vocab=None`` codes over the rows' own distinct ids, which it
    returns; a query table passes the fitted rows' ``vocab``, and its ids
    absent from it get the code ``len(vocab)``, which no fitted row holds:
    they match nothing but still count in the row's size and norm. Codes
    take the smallest unsigned dtype that holds ``len(vocab)`` and are
    made chunk by chunk with pandas' hash tables, so only one chunk's
    int64 codes exist at a time. At 200,000 pages (82.6M ids, 4,021
    distinct) pandas coded in 1.8 s where ``np.unique`` + ``searchsorted``
    took 12.8 s, and the driver peaked at 0.84-0.86 GB where ``np.unique``
    over the combined, id-sorted rows peaked at 2.0 GB.
    """
    parts = [unpack_rows(c, "<i8")[:2] for c in fpk.chunks]
    if vocab is None:
        vocab = pd.unique(np.concatenate([pd.unique(e) for e, _ in parts] or [np.empty(0, np.int64)]))
    index, dtype = pd.Index(vocab), np.min_scalar_type(vocab.size)
    codes, off, n = [], [np.zeros(1, np.int64)], 0
    for e, o in parts:
        o = o.astype(np.int64)
        c = index.get_indexer(e[o[0] : o[-1]])
        c[c < 0] = vocab.size
        codes.append(c.astype(dtype))
        off.append(o[1:] - o[0] + n)
        n += int(o[-1] - o[0])
    elems = np.concatenate(codes) if codes else np.empty(0, dtype)
    off = np.concatenate(off)
    vals = sq = None
    if vpk is not None:
        vals, r = np.ones(elems.size), 0
        for chunk in vpk.chunks:
            w, woff, ok = unpack_rows(chunk, "<f8")
            start = off[r : r + len(chunk)][ok]
            lens = off[r + 1 : r + 1 + len(chunk)][ok] - start
            vals[_row_positions(start, lens)] = w[_row_positions(woff[:-1][ok], lens)]
            r += len(chunk)
        sq = _row_sums(vals * vals, off)
    return RowTable(*_by_id(ids, name), off, elems, vals, sq, int(vocab.size)), vocab


def pair_scratch(q: RowTable, c: RowTable, metric: str) -> np.ndarray:
    """:func:`table_pair_metric`'s zeroed scratch vector for ``metric`` over
    ``q`` and ``c``: a slot per code, float if values are read, else bool."""
    valued = metric != "jaccard" and (q.vals is not None or c.vals is not None)
    return np.zeros(c.vocab_size + 1, dtype=np.float64 if valued else bool)


_PAIR_CHUNK = 4096


def table_pair_metric(q: RowTable, c: RowTable, qid, cid, metric: str, scratch) -> np.ndarray:
    """:func:`sparse_metric` of each pair of rows ``(q[qid[i]], c[cid[i]])``,
    looked up by id; every id must be a row of its table, and ``q`` be
    coded over ``c``'s vocabulary. ``scratch`` is :func:`pair_scratch`'s
    vector, left zeroed on return.

    Each run of pairs sharing a query is scored at once, as one ``xy`` a
    pair: the query's codes are set in the scratch vector, every
    candidate row's elements are gathered from it, and the query's codes
    are cleared again — so pairs sorted by query give long runs, but any
    order is exact. Jaccard and rows without values gather bool hits,
    valued rows the query's values times the candidate's, summed per pair
    by ``np.add.reduceat``. ``xx`` and ``yy`` are the tables' squared
    norms, or the row lengths. Then Jaccard is ``1 - xy / (xx + yy -
    xy)`` (0.0 for two empty rows), equal to ``1 - jaccard_sorted`` bit
    for bit; euclidean ``max(xx - 2xy + yy, 0)``; cosine ``max(xy /
    (sqrt(xx) sqrt(yy)), 0)``, 0 when a norm is 0. For integer values
    every sum is exact, so these equal ``sparse_metric`` bit for bit; for
    real ones only the summation order differs.

    This does not contradict :func:`packed_pair_scores`' case for a
    per-pair loop: the temporaries are one slot per fitted vocabulary id
    (4,021 at ``kneighbors_5k``) and the candidate elements of at most
    ``_PAIR_CHUNK`` pairs, however many pairs a caller passes (54,000
    ``kneighbors_5k`` pairs: 267-295 ms and 408 MiB of temporaries in one
    piece, 151-155 ms and 33 MiB in 4,096-pair chunks).
    """
    qr = q.rows[np.searchsorted(q.ids, qid)]
    cr = c.rows[np.searchsorted(c.ids, cid)]
    out = np.empty(qr.size)
    for s in range(0, qr.size, _PAIR_CHUNK):
        e = min(s + _PAIR_CHUNK, qr.size)
        out[s:e] = _pair_chunk(q, c, qr[s:e], cr[s:e], metric, scratch)
    return out


def _pair_chunk(q: RowTable, c: RowTable, qr, cr, metric: str, scratch) -> np.ndarray:
    """``metric`` of the rows ``(q row qr[i], c row cr[i])`` (row numbers,
    not ids); see :func:`table_pair_metric`."""
    qv, cv = (t.vals is not None and scratch.dtype != bool for t in (q, c))
    clen = c.off[cr + 1] - c.off[cr]
    ends = np.r_[0, np.cumsum(clen)]
    at = _row_positions(c.off[cr], clen)
    cand = c.elems[at]
    hits = np.empty(cand.size, dtype=scratch.dtype)
    runs = np.flatnonzero(np.diff(qr)) + 1
    for s, e in zip(np.r_[0, runs], np.r_[runs, qr.size]):
        a, b = q.off[qr[s]], q.off[qr[s] + 1]
        scratch[q.elems[a:b]] = q.vals[a:b] if qv else 1
        hits[ends[s] : ends[e]] = scratch[cand[ends[s] : ends[e]]]
        scratch[q.elems[a:b]] = 0
    xy = _row_sums(hits * c.vals[at] if cv else hits, ends)
    xx = q.sq[qr] if qv else q.off[qr + 1] - q.off[qr]
    yy = c.sq[cr] if cv else clen
    if metric == "jaccard":
        union = xx + yy - xy
        return 1.0 - np.divide(xy, union, out=np.ones(qr.size), where=union > 0)
    if metric == "euclidean":
        return np.maximum(xx - 2.0 * xy + yy, 0.0)
    if metric == "cosine":
        norm = np.sqrt(xx) * np.sqrt(yy)
        cos = np.divide(xy, norm, out=np.zeros(qr.size), where=(xx > 0) & (yy > 0))
        return np.maximum(cos, 0.0)
    raise ValueError(f"unknown metric {metric!r}")


def rank_cut(qid: np.ndarray, cid: np.ndarray, dist: np.ndarray, k: int, descending: bool):
    """(kept, rnk): the pairs ``(qid[i], cid[i])`` of rank <= ``k`` in
    their query, as Spark's ``F.rank()`` over
    ``Window.partitionBy(query).orderBy(distance [desc], cand_id)``
    ranks them, and those ranks. ``kept`` indexes the pairs ordered by
    query, then by that order; pairs equal in (distance, cand_id) share a
    rank, and the next rank skips past them. Distances compare as Spark
    sorts doubles: -0.0 equals 0.0, and NaN equals NaN and is greater than
    every number, so it ranks last ascending and first descending."""
    nan = np.isnan(dist)
    d = np.where(nan, 0.0, dist)
    if descending:
        d, nan = -d, ~nan
    order = np.lexsort((cid, d, nan, qid))
    q, c, d, nan = qid[order], cid[order], d[order], nan[order]
    at = np.arange(q.size)
    new_q = np.ones(q.size, dtype=bool)
    new_q[1:] = q[1:] != q[:-1]
    new_key = new_q.copy()
    new_key[1:] |= (c[1:] != c[:-1]) | (d[1:] != d[:-1]) | (nan[1:] != nan[:-1])
    rnk = (
        np.maximum.accumulate(np.where(new_key, at, 0))
        - np.maximum.accumulate(np.where(new_q, at, 0))
        + 1
    )
    keep = rnk <= k
    return order[keep], rnk[keep]


# ----- exact-substring pass: Rabin rolling hash + winnowing (MOSS-style) -----

_RABIN_BASE = U32(1000003)


def rolling_hash(data: bytes, k: int) -> np.ndarray:
    """uint32 polynomial Rabin hash of every k-byte window of ``data``.

    Returns array of length ``len(data)-k+1`` (empty if data shorter than k).
    Identical windows anywhere in any document produce identical hashes.
    """
    b = np.frombuffer(data, dtype=np.uint8).astype(U32)
    if b.size < k:
        return np.empty(0, dtype=U32)
    m = b.size - k + 1
    h = np.zeros(m, dtype=U32)
    for j in range(k):
        h = (h * _RABIN_BASE + b[j : j + m]).astype(U32)
    return h


def winnow(hashes: np.ndarray, window: int) -> np.ndarray:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003).

    Selects the minimum hash in every sliding window of ``window`` k-gram
    hashes; guarantees any shared substring of length >= window+k-1 bytes
    contributes at least one shared fingerprint. Returns sorted distinct
    selected hashes.
    """
    h = np.asarray(hashes, dtype=U32)
    if h.size == 0:
        return h
    if h.size <= window:
        return np.unique(h[np.argmin(h) : np.argmin(h) + 1])
    win = np.lib.stride_tricks.sliding_window_view(h, window)
    # rightmost minimum per window (standard winnowing tie rule)
    rev_arg = window - 1 - np.argmin(win[:, ::-1], axis=1)
    pos = np.unique(rev_arg + np.arange(win.shape[0]))
    return np.unique(h[pos])


def substring_fingerprints(text: str, k: int = 48, window: int = 32) -> np.ndarray:
    """Winnowed Rabin fingerprints of a document's UTF-8 bytes.

    Any exact shared substring of length >= window+k-1 (~79 chars at the
    defaults) guarantees a shared fingerprint between the two documents.
    """
    return winnow(rolling_hash(text.encode("utf-8"), k), window)


def _inv_u32(a: int) -> int:
    """Multiplicative inverse of an odd constant mod 2^32 (Newton iteration)."""
    x = a
    for _ in range(5):
        x = (x * (2 - a * x)) & 0xFFFFFFFF
    return x


_RABIN_INV = U32(_inv_u32(int(_RABIN_BASE)))


def substring_fingerprints_batch(
    texts: list, k: int = 48, window: int = 32
) -> list:
    """Batch winnowed fingerprints — one vectorized pass over the whole batch.

    Semantics identical to per-doc ``substring_fingerprints`` (asserted in
    tests); the k-pass rolling hash is replaced by the prefix-product form
    ``h(i,k) = P[i+k] - P[i]·B^k`` with P computed via cumprod/cumsum in
    uint32 modular arithmetic, and window minima by shifted np.minimum
    passes — O(window) vectorized ops per batch instead of O(k) numpy calls
    per document.
    """
    n_docs = len(texts)
    out: list = [np.empty(0, dtype=U32)] * n_docs
    if n_docs == 0:
        return out
    # Per-document processing on purpose: a typical web page is a few KB, so
    # every intermediate array stays L1/L2-resident. A concatenate-the-batch
    # variant (fewer Python calls) loses badly under executor concurrency —
    # 32 workers × ~0.5 GB of streaming temporaries per batch saturate DRAM
    # bandwidth and the stage stops scaling with cores.
    bk = U32(pow(int(_RABIN_BASE), k, 1 << 32))
    max_len = 0
    datas = []
    for t in texts:
        d = t.encode("utf-8")
        datas.append(d)
        if len(d) > max_len:
            max_len = len(d)
    if max_len < k:
        return out
    # reusable power tables (B^t and invB^t), grown once per batch
    bpow = np.empty(max_len, dtype=U32)
    bpow[0] = 1
    np.cumprod(np.full(max_len - 1, _RABIN_BASE, dtype=U32), out=bpow[1:])
    invpow = np.empty(max_len, dtype=U32)
    invpow[0] = 1
    np.cumprod(np.full(max_len - 1, _RABIN_INV, dtype=U32), out=invpow[1:])

    for d, data in enumerate(datas):
        n = len(data)
        if n < k:
            continue
        b = np.frombuffer(data, dtype=np.uint8).astype(U32)
        # P[t] = Bpow[t-1] * cumsum(b[j] * invB^j)[t];  h(i) = P[i+k]-P[i]*B^k
        s = np.cumsum(b * invpow[:n], dtype=np.uint64).astype(U32)
        p = np.empty(n + 1, dtype=U32)
        p[0] = 0
        p[1:] = bpow[:n] * s
        m = n - k + 1
        h = (p[k : k + m] - p[:m] * bk).astype(U32)
        if m <= window:
            out[d] = h[np.argmin(h)][None]
            continue
        win = np.lib.stride_tricks.sliding_window_view(h, window)
        out[d] = np.unique(win.min(axis=1))
    return out


# ---- byte-level BPE (GPT-2-style merge application) ----


def bpe_ranks(merges: list) -> dict:
    """[(left, right), ...] in rank order → {(left_bytes, right_bytes): rank}."""
    return {
        (l.encode("utf-8"), r.encode("utf-8")): i for i, (l, r) in enumerate(merges)
    }


def bpe_count_word(word: bytes, ranks: dict) -> int:
    """Token count of one pretoken under byte-level BPE.

    GPT-2 merge loop (public algorithm, encoder.py of the GPT-2 release):
    start from single BYTES, repeatedly find the lowest-ranked pair
    present anywhere in the word and merge ALL its (left-to-right,
    non-overlapping) occurrences, until no rankable pair remains. Only
    the COUNT is returned — budget accounting needs sizes, not ids.
    """
    symbols = [word[i : i + 1] for i in range(len(word))]
    while len(symbols) > 1:
        best_rank, best = None, None
        for pair in zip(symbols, symbols[1:]):
            r = ranks.get(pair)
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best = r, pair
        if best is None:
            break
        merged = best[0] + best[1]
        out, i, n = [], 0, len(symbols)
        while i < n:
            if i < n - 1 and symbols[i] == best[0] and symbols[i + 1] == best[1]:
                out.append(merged)
                i += 2
            else:
                out.append(symbols[i])
                i += 1
        symbols = out
    return len(symbols)


def bpe_count_pretokens(pretoken_rows: list, ranks: dict, _cache: dict | None = None) -> np.ndarray:
    """Per-doc REAL BPE token counts: rows of pretoken lists → int64 counts.

    The pretokenizer already ran JVM-side (textstats.BPE_PRETOKEN_RE via
    regexp_extract_all — merges never cross pretoken boundaries, exactly
    GPT-2's contract), so this kernel only applies the merge loop. A
    memo cache keyed by pretoken string makes natural text cheap: the
    Zipfian head means most pretokens repeat within an Arrow batch.
    """
    cache: dict = {} if _cache is None else _cache
    out = np.zeros(len(pretoken_rows), dtype=np.int64)
    for d, toks in enumerate(pretoken_rows):
        if toks is None:
            continue
        total = 0
        for t in toks:
            c = cache.get(t)
            if c is None:
                c = cache[t] = bpe_count_word(t.encode("utf-8"), ranks)
            total += c
        out[d] = total
    return out

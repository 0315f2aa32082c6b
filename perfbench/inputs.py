"""Seeded benchmark inputs, cached on disk by (n, seed).

Every workload's pages come from ``webdedup.fixtures.generate_pages_fast``
with the run's seed, so the same seed always yields the same bytes. The
planted-truth pairs and, for the k-NN workload, the exact-Jaccard ground
truth are derived here too, outside any timed region. The library only ever
sees the parquet files written below.

Layout of one cache entry (``<work>/inputs/n<n>-s<seed>/``)::

    pages/part-*.parquet    url, warc_ts, text, lang, pid (row number)
    truth.parquet           pid_a, pid_b, kind   (planted pairs)
    append_pids.npy         pids of the incremental workload's new snapshot
    knn_truth.json          query pids and their exact near-neighbour counts
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

#: workload -> kind, pages generated, pages of the warm-up input (a small
#: input of the same seed whose op runs once in set-up), recall floor of the
#: output check. ``incremental_append`` runs by hand only: its base store is
#: built in set-up, which also serves as its warm-up.
WORKLOADS = {
    "dedup_2k": {"kind": "dedup", "n": 2000, "warm_n": 100, "min_recall": 0.5},
    "kneighbors_5k": {
        "kind": "knn", "n": 5000, "warm_n": 100, "min_recall": 0.4, "min_knn_recall": 0.4,
    },
    "incremental_append": {"kind": "incremental", "n": 5000, "min_recall": 0.5},
}

#: share of the pages appended as the incremental workload's new snapshot
APPEND_SHARE = 0.05
#: files per parquet table: two waves of tasks on a 4-core local session
N_FILES = 8
#: k of the k-NN workload and the query sample its recall is measured on
KNN_K = 3
KNN_QUERIES = 64
KNN_MIN_JACCARD = 0.5


def _write_parquet(pdf, path: str, n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        table = pa.Table.from_pandas(pdf.iloc[part], preserve_index=False)
        pq.write_table(
            table,
            os.path.join(path, f"part-{i:05d}.parquet"),
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )


def token_sets(texts) -> list:
    """Sorted distinct crc32 token ids per text: the k-NN workload's feature
    sets, computed with the library's own tokenizer kernel."""
    from webdedup import kernels

    return [np.unique(kernels.token_ids(t)) for t in texts]


def _knn_truth(texts, pairs, seed: int) -> dict:
    """Exact near neighbours of a seeded sample of query pages.

    Queries are drawn from pages in planted pairs, so each has at least one
    neighbour worth finding; a neighbour counts when its Jaccard is at least
    ``KNN_MIN_JACCARD`` (below that, on random synthetic text, the exact
    top-k is noise that no sketch resolves). A dense (pages x vocabulary)
    presence matrix turns the intersection sizes into one matrix product;
    the synthetic vocabulary has a few thousand words, so it stays small.
    """
    sets = token_sets(texts)
    vocab, inv = np.unique(np.concatenate(sets), return_inverse=True)
    rows = np.repeat(np.arange(len(sets)), [s.size for s in sets])
    pres = np.zeros((len(sets), vocab.size), dtype=np.float32)
    pres[rows, inv] = 1.0
    sizes = pres.sum(axis=1)
    rng = np.random.RandomState(seed + 7919)
    pool = np.unique(pairs)
    queries = np.sort(rng.choice(pool, size=min(KNN_QUERIES, pool.size), replace=False))
    inter = pres[queries] @ pres.T
    jac = inter / (sizes[queries, None] + sizes[None, :] - inter)
    jac[np.arange(queries.size), queries] = -1.0  # self is not a neighbour
    kth = np.sort(jac, axis=1)[:, -KNN_K]
    return {
        "k": KNN_K,
        "min_jaccard": KNN_MIN_JACCARD,
        "queries": [int(q) for q in queries],
        # a returned neighbour is a hit when its exact Jaccard reaches this
        "hit_jaccard": [float(max(v, KNN_MIN_JACCARD)) for v in kth],
        # how many hits a perfect index returns for the query
        "expected": [int(min(KNN_K, (row >= KNN_MIN_JACCARD).sum())) for row in jac],
    }


def ensure(work: str, n: int, seed: int) -> str:
    """Generate (or reuse) the inputs for ``(n, seed)``; returns the dir."""
    import pandas as pd

    from webdedup.fixtures import generate_pages_fast

    d = os.path.join(work, "inputs", f"n{n}-s{seed}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pdf, tdf = generate_pages_fast(n, seed=seed)
    pdf["pid"] = np.arange(len(pdf), dtype=np.int64)
    _write_parquet(pdf, os.path.join(tmp, "pages"), N_FILES)
    pid = pd.Series(pdf["pid"].values, index=pdf["url"].values)
    truth = pd.DataFrame(
        {
            "pid_a": pid[tdf["url_a"].values].values,
            "pid_b": pid[tdf["url_b"].values].values,
            "kind": tdf["kind"].values,
        }
    )
    truth.to_parquet(os.path.join(tmp, "truth.parquet"), index=False)
    rng = np.random.RandomState(seed + 104729)
    n_new = max(1, int(round(len(pdf) * APPEND_SHARE)))
    np.save(
        os.path.join(tmp, "append_pids.npy"),
        np.sort(rng.permutation(len(pdf))[:n_new]),
    )
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


def ensure_knn_truth(d: str, seed: int) -> str:
    """Add the k-NN ground truth to an input dir made by :func:`ensure`."""
    import pandas as pd

    path = os.path.join(d, "knn_truth.json")
    if not os.path.exists(path):
        pages = pd.read_parquet(os.path.join(d, "pages"), columns=["pid", "text"])
        texts = pages.sort_values("pid")["text"]
        truth = pd.read_parquet(os.path.join(d, "truth.parquet"))
        pairs = truth[["pid_a", "pid_b"]].to_numpy().ravel()
        with open(path + ".tmp", "w") as f:
            json.dump(_knn_truth(texts.tolist(), pairs, seed), f)
        os.replace(path + ".tmp", path)
    return path

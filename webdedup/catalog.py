"""Iceberg-style snapshot catalog over partitioned Parquet.

The sandbox ships no Iceberg runtime jar (SURVEY.md §7.0), so this layer
reproduces the semantics the north rule needs — append-only snapshots,
snapshot ids, per-snapshot file manifests, incremental reads between
snapshots — over plain Parquet + a JSON manifest. With a real Iceberg
catalog, ``read``/``append`` collapse to ``spark.read.format("iceberg")`` /
``df.writeTo(...).append()`` and ``read_incremental`` to an incremental scan
between snapshot ids; nothing downstream changes.

Layout::

    <root>/<table>/manifest.json
    <root>/<table>/snap-<id>/part-*.parquet
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    id: int
    parent: int | None
    files: list
    ts: float
    key: str | None = None


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ---- manifest bookkeeping ----

    def _mpath(self, table: str) -> str:
        return os.path.join(self.root, table, "manifest.json")

    def _load(self, table: str) -> dict:
        p = self._mpath(table)
        if not os.path.exists(p):
            return {"snapshots": [], "current": None}
        with open(p) as f:
            return json.load(f)

    def _store(self, table: str, m: dict) -> None:
        p = self._mpath(table)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        tmp = p + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, p)  # atomic manifest swap = Iceberg commit semantics

    def snapshots(self, table: str) -> list[Snapshot]:
        return [Snapshot(**s) for s in self._load(table)["snapshots"]]

    def current_snapshot(self, table: str) -> int | None:
        return self._load(table)["current"]

    # ---- write path ----

    def meta(self, table: str) -> dict:
        """Table-level metadata committed alongside snapshots (e.g. the
        substring-fingerprint config the stored substr_fps were computed
        under — incremental.py trusts precomputed fps only when this
        matches the current config)."""
        return self._load(table).get("meta", {})

    def append(
        self,
        table: str,
        df: DataFrame,
        key: str | None = None,
        meta_update: dict | None = None,
    ) -> int:
        """Append rows as a new snapshot; returns the new snapshot id.

        Crash-safe: the parquet lands in a temp dir first and is renamed
        into place only when complete, and any debris from a previous
        attempt at this (never-manifested) snapshot id is removed before
        writing — a run that died between df.write and the manifest commit
        can always be re-run (the 'safe to re-run after a crash' contract
        of incremental.py; a plain errorifexists write here would wedge
        every subsequent resume on the leftover directory).

        ``key`` makes the append idempotent: if a manifested snapshot
        already carries this key, its id is returned and nothing is
        written. The key is committed in the same atomic manifest swap as
        the snapshot itself, so an at-least-once producer (Structured
        Streaming foreachBatch replaying an epoch after a crash) can never
        double-ingest a micro-batch.

        ``meta_update`` merges into the table-level ``meta`` dict in the
        SAME atomic manifest swap (never a separate write — a crash between
        data and meta commits could otherwise leave them inconsistent).
        On a keyed REPLAY (key already manifested) nothing is applied —
        including ``meta_update``: the original commit carried data, key,
        and meta in one swap, so the stored meta reflects the config the
        snapshot was actually written under; a replay arriving with a
        different meta_update must not relabel it.
        """
        import shutil

        m = self._load(table)
        if key is not None:
            for s in m["snapshots"]:
                if s.get("key") == key:
                    return s["id"]
        sid = (m["current"] or 0) + 1
        snap_dir = os.path.join(self.root, table, f"snap-{sid:06d}")
        tmp_dir = snap_dir + ".inprogress"
        # sid > every manifested id by construction, so both paths are
        # un-committed debris if they exist
        shutil.rmtree(tmp_dir, ignore_errors=True)
        shutil.rmtree(snap_dir, ignore_errors=True)
        df.write.mode("overwrite").parquet(tmp_dir)
        os.rename(tmp_dir, snap_dir)  # atomic publish
        files = sorted(
            os.path.join(snap_dir, f)
            for f in os.listdir(snap_dir)
            if f.endswith(".parquet")
        )
        m["snapshots"].append(
            {
                "id": sid,
                "parent": m["current"],
                "files": files,
                "ts": time.time(),
                "key": key,
            }
        )
        m["current"] = sid
        if meta_update:
            m["meta"] = {**m.get("meta", {}), **meta_update}
        self._store(table, m)
        return sid

    def has_key(self, table: str, key: str) -> bool:
        """True iff a manifested snapshot carries this idempotency key
        (manifest-only lookup — no Spark job). Lets producers probe
        alternative key spellings (e.g. the pre-normalization legacy
        epoch-key format, streaming.py ADVICE r4) before appending."""
        if not self.exists(table):
            return False
        return any(s.get("key") == key for s in self._load(table)["snapshots"])

    # ---- read path ----

    def _files_between(self, table: str, after: int | None, upto: int | None) -> list:
        out = []
        for s in self._load(table)["snapshots"]:
            if after is not None and s["id"] <= after:
                continue
            if upto is not None and s["id"] > upto:
                continue
            out.extend(s["files"])
        return out

    def read(self, spark: SparkSession, table: str, snapshot: int | None = None) -> DataFrame:
        """Full table contents as of ``snapshot`` (default: current)."""
        files = self._files_between(table, None, snapshot)
        if not files:
            raise ValueError(f"table {table} has no data")
        return spark.read.parquet(*files)

    def read_incremental(
        self,
        spark: SparkSession,
        table: str,
        after: int | None,
        upto: int | None = None,
        snapshot_col: str | None = None,
    ) -> DataFrame | None:
        """Rows appended in snapshots (after, upto] — the incremental scan.

        ``snapshot_col`` additionally tags every row with the id of the
        snapshot it was appended in, derived from the hidden parquet
        ``_metadata.file_path`` column (one scan, no per-snapshot union) —
        a multi-snapshot incremental read must be able to tell which crawl
        event each row belongs to (doc identity is keyed (url, snapshot)).
        """
        files = self._files_between(table, after, upto)
        if not files:
            return None
        df = spark.read.parquet(*files)
        if snapshot_col is not None:
            from pyspark.sql import functions as F

            # greedy .*/ prefix anchors the match to the LAST snap-<id>/
            # path segment — a catalog root that itself contains a
            # 'snap-<digits>/' segment must not win the match (it would tag
            # every row with one bogus id, collapsing (url, snapshot) doc
            # identity across crawl events)
            df = df.withColumn(
                snapshot_col,
                F.regexp_extract(
                    F.col("_metadata.file_path"), r".*/snap-(\d+)/", 1
                ).cast("long"),
            )
        return df

    def exists(self, table: str) -> bool:
        return os.path.exists(self._mpath(table))

    def row_count(
        self, table: str, after: int | None = None, upto: int | None = None
    ) -> int:
        """Rows appended in snapshots (after, upto] from parquet footers —
        no Spark job (the Iceberg analogue reads the snapshot's manifest
        stats). Used to bound id-set sizes for the broadcast choice without a
        blocking count() action."""
        import pyarrow.parquet as pq

        return sum(
            pq.ParquetFile(f).metadata.num_rows
            for f in self._files_between(table, after, upto)
        )

"""Versioned Parquet snapshots with an atomic JSON manifest.

Layout::

    <root>/_manifest.json              # {"current": 3, "snapshots": {...}}
    <root>/snap-000001/<table>/*.parquet
    <root>/snap-000002/<table>/*.parquet

A snapshot commit writes all table directories first, then atomically
replaces the manifest (``os.replace`` — POSIX-atomic on the same filesystem),
so readers either see the previous snapshot or the complete new one: the same
reader guarantee an Iceberg snapshot commit provides. Rollback = pointing
``current`` at an older id; old snapshots are retained for time travel.

Like an Iceberg manifest, each snapshot describes its tables:
``{"tables": {name: {"path", "schema", "rows"}}, "meta": {...}}``. The
schema is the writer's, so a read infers nothing (no Spark job); the row
count is summed from the written files' Parquet footers, so counting runs
no Spark job either. Snapshot ids are allocated as max(existing)+1, never
current+1 — so a commit after a rollback creates a NEW snapshot instead of
silently overwriting a retained one.
"""

from __future__ import annotations

import json
import os
import pathlib
import shutil
from concurrent.futures import ThreadPoolExecutor
from typing import Dict, Iterable, Optional

import pyarrow.parquet as pq


def _footer_rows(path: pathlib.Path) -> int:
    return sum(pq.read_metadata(f).num_rows for f in path.glob("*.parquet"))


class IceliteCatalog:
    def __init__(self, root: str) -> None:
        self.root = pathlib.Path(root)
        self.root.mkdir(parents=True, exist_ok=True)

    @property
    def _manifest_path(self) -> pathlib.Path:
        return self.root / "_manifest.json"

    def _read_manifest(self) -> dict:
        if not self._manifest_path.exists():
            return {"current": 0, "snapshots": {}}
        return json.loads(self._manifest_path.read_text())

    def _publish(self, m: dict) -> None:
        tmp = self._manifest_path.with_suffix(".json.tmp")
        tmp.write_text(json.dumps(m, indent=2))
        os.replace(tmp, self._manifest_path)  # atomic publish

    def current_snapshot_id(self) -> int:
        return self._read_manifest()["current"]

    def _tables_of(self, snap_id: Optional[int]) -> dict:
        """The ``{name: entry}`` map of a snapshot (default: current);
        empty before the first commit."""
        m = self._read_manifest()
        sid = snap_id or m["current"]
        return m["snapshots"][str(sid)]["tables"] if sid else {}

    def _entry(self, name: str, snap_id: Optional[int]) -> dict:
        tables = self._tables_of(snap_id)
        if name not in tables:
            raise KeyError(f"table {name} not in snapshot {snap_id or 'current'}")
        return tables[name]

    def snapshot_meta(self, snap_id: Optional[int] = None) -> dict:
        m = self._read_manifest()
        sid = snap_id or m["current"]
        if sid == 0:
            return {}
        return m["snapshots"][str(sid)].get("meta", {})

    def table_path(self, name: str, snap_id: Optional[int] = None) -> Optional[str]:
        """Data path of ``name`` in the given snapshot (default: current),
        or None if absent."""
        return self._tables_of(snap_id).get(name, {}).get("path")

    def rows(self, name: str, snap_id: Optional[int] = None) -> int:
        """Row count of ``name`` as recorded at commit (no Spark job)."""
        return self._entry(name, snap_id)["rows"]

    def _write(self, snap_dir: pathlib.Path, name: str, df) -> dict:
        path = snap_dir / name
        df.write.mode("overwrite").parquet(str(path))
        return {
            "path": str(path),
            "schema": df.schema.json(),
            "rows": _footer_rows(path),
        }

    def commit_snapshot(
        self,
        dfs: Dict[str, "object"],
        meta: Optional[dict] = None,
        carry: Iterable[str] = (),
    ) -> int:
        """Write every table of the snapshot, then atomically publish it.

        Table writes run as concurrent Spark jobs (one thread each — the
        scheduler interleaves their stages across cores), so a two-table
        commit costs ~max, not sum, of the write times. Atomicity is
        unaffected: the manifest is published only after every write
        returns.

        ``carry`` names tables of the current snapshot to include unchanged
        (path, schema and rows) — the Iceberg shared-manifest pattern: a
        snapshot references files, it does not copy them."""
        current = self._tables_of(None)
        tables = {name: current[name] for name in carry}
        m = self._read_manifest()
        sid = max([0] + [int(i) for i in m["snapshots"]]) + 1
        snap_dir = self.root / f"snap-{sid:06d}"
        if len(dfs) > 1:
            with ThreadPoolExecutor(max_workers=len(dfs)) as pool:
                futures = {
                    name: pool.submit(self._write, snap_dir, name, df)
                    for name, df in dfs.items()
                }
                tables.update({name: f.result() for name, f in futures.items()})
        else:
            tables.update(
                {name: self._write(snap_dir, name, df) for name, df in dfs.items()}
            )
        m["snapshots"][str(sid)] = {"tables": tables, "meta": meta or {}}
        m["current"] = sid
        self._publish(m)
        return sid

    def read(self, spark, name: str, snap_id: Optional[int] = None):
        from pyspark.sql.types import StructType

        entry = self._entry(name, snap_id)
        schema = StructType.fromJson(json.loads(entry["schema"]))
        return spark.read.schema(schema).parquet(entry["path"])

    def tables(self, snap_id: Optional[int] = None) -> list:
        return sorted(self._tables_of(snap_id))

    def expire_snapshots(self, keep_last: int = 5) -> list:
        """Iceberg ``expireSnapshots`` analog: retire every snapshot except
        the ``keep_last`` most recent (the current snapshot is always
        retained), then delete the data directories no longer referenced by
        ANY retained snapshot. Shared-manifest aware: a carried-forward
        table path referenced by a survivor is kept even though the
        snapshot that wrote it is expired — a snapshot references files, it
        does not own them. Without expiry a one-commit-per-wave crawl grows
        storage without bound; with it, steady-state disk is
        O(keep_last × table size). Returns the expired snapshot ids.
        """
        m = self._read_manifest()
        ids = sorted(int(s) for s in m["snapshots"])
        keep = set(ids[-max(1, keep_last):])
        keep.add(m["current"])
        expired = [i for i in ids if i not in keep]
        if not expired:
            return []

        def paths(sids) -> set:
            return {
                e["path"]
                for i in sids
                for e in m["snapshots"][str(i)]["tables"].values()
            }

        dead_paths = paths(expired) - paths(keep)
        for i in expired:
            del m["snapshots"][str(i)]
        self._publish(m)  # readers never see a gap
        for p in dead_paths:  # physical delete only after the publish
            pp = pathlib.Path(p)
            if pp.exists() and self.root in pp.parents:
                shutil.rmtree(pp, ignore_errors=True)
                parent = pp.parent
                if parent != self.root and not any(parent.iterdir()):
                    parent.rmdir()  # drop the now-empty snap-… dir
        return expired

    def compact_table(
        self,
        spark,
        name: str,
        target_file_bytes: int = 128 << 20,
        meta: Optional[dict] = None,
    ) -> int:
        """Iceberg ``rewriteDataFiles`` analog: rewrite ``name``'s data
        into size-targeted files and publish the result as a NEW snapshot
        (every other table carries forward via the shared manifest). A
        one-commit-per-wave crawl accretes per-wave small files; at scale
        the small-files problem dominates scan planning and open() cost,
        so compaction to ~target_file_bytes keeps scans at full stride.

        Merging uses ``coalesce`` (no shuffle — partitions concatenate);
        a table already at or below the target file count is a NO-OP
        (current snapshot id returned, nothing rewritten — Iceberg's
        rewrite does the same). The pre-compaction snapshot stays
        time-travelable until ``expire_snapshots`` retires it, exactly
        like Iceberg's rewrite: compaction changes files, never rows.
        Returns the snapshot id (new on rewrite, current on no-op).
        """
        sid = self.current_snapshot_id()
        path = self._entry(name, sid)["path"]
        files = [f for f in pathlib.Path(path).glob("*.parquet") if f.is_file()]
        n_bytes = sum(f.stat().st_size for f in files)
        n_target = max(1, -(-n_bytes // target_file_bytes))  # ceil
        if n_target >= len(files):
            return sid  # already compact — no rewrite, no new snapshot
        df = self.read(spark, name, sid).coalesce(n_target)
        info = {"compacted": name, "from_files": len(files), "to_files": n_target}
        info.update(meta or {})
        return self.commit_snapshot(
            {name: df}, meta=info, carry=[t for t in self.tables(sid) if t != name]
        )

    def rollback(self, snap_id: int) -> None:
        m = self._read_manifest()
        if str(snap_id) not in m["snapshots"]:
            raise KeyError(f"unknown snapshot {snap_id}")
        m["current"] = snap_id
        self._publish(m)

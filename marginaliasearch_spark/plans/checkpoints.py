"""Snapshot checkpointing — Iceberg-style manifests over parquet.

The north rule requires runs "resumable from Iceberg snapshot checkpoints
with per-partition lineage".  Iceberg jars are not in this sandbox image,
so the same mechanics are provided over plain parquet:

- every commit writes a numbered snapshot manifest (JSON) listing, per
  table, the live data paths relative to the root, so a copied root is
  a store of its own (append tables accumulate paths, replace tables
  point at the latest version), plus the owner's scalar fields
  (the crawl's ``budgeted``/``n_buckets``/``seed``, the URL-seen store's
  ``n_buckets``/``max_fill_est``), each carried forward from the previous
  snapshot unless the commit sets it;
- resume = load the last committed manifest and continue from its wave;
- a killed run leaves at most an uncommitted wave directory behind, which
  the next run ignores (atomic commit = manifest write + rename).

The crawl engine (plans/crawl.py) and the URL-seen store
(plans/frontier_dedup.py) each own one catalog and name its tables.  In
production this maps 1:1 onto Iceberg: appends → AppendFiles, replaces
→ ReplaceTable, carried fields → snapshot properties, the merge-on-read
frontier/domain_state views over ``wave_out`` → Iceberg v2 merge-on-read,
compaction → rewrite_data_files, the manifest → the snapshot metadata,
expiry → expire_snapshots, and ``load(n)``/``rollback_to`` →
time travel.  The analogue of the reference's WorkLog+WARC-resync resume
(ref: code/processes/crawling-process/java/nu/marginalia/crawl/
CrawlerMain.java:652-673, CrawlerWarcResynchronizer.java:31-103) comes
for free: the state views at the last snapshot *are* the resync state,
and they are a function of the snapshot's manifest alone.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Optional


class SnapshotCatalog:
    def __init__(
        self,
        root: str,
        append_tables: tuple[str, ...],
        replace_tables: tuple[str, ...],
        fields: dict,
    ):
        """``fields`` holds the carried scalar fields with the values a
        first snapshot (or one after ``reset``) starts from."""
        self.root = root
        self.append_tables = append_tables
        self.replace_tables = replace_tables
        self.fields = fields
        self.snap_dir = os.path.join(root, "_snapshots")
        os.makedirs(self.snap_dir, exist_ok=True)

    # -- manifest management -------------------------------------------

    def _snap_path(self, n: int) -> str:
        return os.path.join(self.snap_dir, f"snap-{n:06d}.json")

    def reset(self) -> None:
        """Forget all committed snapshots (init_run starts a NEW run).
        Without this, commit(0) would merge with a leftover run's latest
        manifest — snapshot 0 claiming old waves' data as live."""
        for f in os.listdir(self.snap_dir):
            if f.startswith("snap-") and f.endswith(".json"):
                os.remove(os.path.join(self.snap_dir, f))

    def _snapshots(self) -> list[int]:
        return sorted(
            int(f[5:11])
            for f in os.listdir(self.snap_dir)
            if f.startswith("snap-") and f.endswith(".json")
        )

    def latest_snapshot(self) -> Optional[int]:
        snaps = self._snapshots()
        return snaps[-1] if snaps else None

    def load(self, n: Optional[int] = None) -> dict:
        if n is None:
            n = self.latest_snapshot()
        if n is None:
            tables = self.append_tables + self.replace_tables
            return {"wave": -1, **self.fields, "tables": {t: [] for t in tables}}
        with open(self._snap_path(n)) as f:
            m = {**self.fields, **json.load(f)}
        # manifests hold root-relative paths (a copied root names its own
        # dirs); an absolute path, as older manifests hold, stays as it is
        m["tables"] = {
            t: [os.path.join(self.root, p) for p in ps] for t, ps in m["tables"].items()
        }
        return m

    def commit(
        self,
        wave: int,
        table_paths: dict[str, Optional[str]],
        truncate_append: Optional[set] = None,
        **fields,
    ) -> dict:
        """Commit snapshot N: append-table paths accumulate, replace-table
        paths supersede.  ``truncate_append`` names append tables whose
        accumulated path list restarts at this snapshot (compaction folded
        them elsewhere).  Carried fields keep their previous value unless
        ``fields`` sets them.  Atomic via write-to-temp + rename."""
        prev = self.load()
        manifest = {
            "wave": wave,
            **{k: prev[k] for k in self.fields},
            **fields,
            "tables": {},
        }
        for t in self.append_tables:
            if truncate_append and t in truncate_append:
                paths = []
            else:
                paths = list(prev["tables"].get(t, []))
            if table_paths.get(t):
                paths.append(table_paths[t])
            manifest["tables"][t] = paths
        for t in self.replace_tables:
            if table_paths.get(t):
                manifest["tables"][t] = [table_paths[t]]
            else:
                manifest["tables"][t] = list(prev["tables"].get(t, []))
        stored = {
            **manifest,
            "tables": {
                t: [os.path.relpath(p, self.root) for p in ps]
                for t, ps in manifest["tables"].items()
            },
        }
        tmp = self._snap_path(wave) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(stored, f)
        os.replace(tmp, self._snap_path(wave))
        return manifest

    # -- table IO helpers -------------------------------------------------

    def wave_path(self, table: str, wave: int) -> str:
        return os.path.join(self.root, table, f"wave={wave:06d}")

    def paths(self, table: str, snapshot: Optional[int] = None) -> list[str]:
        return self.load(snapshot)["tables"].get(table, [])

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Iceberg expire_snapshots analogue: drop all but the newest
        ``keep_last`` manifests and delete data dirs referenced ONLY by
        expired ones.  Run after a compaction to reclaim the folded
        per-wave files; time travel to expired snapshots is gone (by
        design — exactly Iceberg's contract)."""
        snaps = self._snapshots()
        if len(snaps) <= keep_last:
            return []
        keep, drop = snaps[-keep_last:], snaps[:-keep_last]
        live: set[str] = set()
        for n in keep:
            live.update(self._live_paths(n))
        removed: list[str] = []
        for n in drop:
            for path in self._live_paths(n):
                if path not in live and os.path.exists(path):
                    shutil.rmtree(path, ignore_errors=True)
                    removed.append(path)
            os.remove(self._snap_path(n))
        return removed

    def _live_paths(self, n: int) -> list[str]:
        return [p for ps in self.load(n)["tables"].values() for p in ps]

    def rollback_to(self, n: int) -> None:
        """Delete manifests (and orphaned data dirs) newer than snapshot n."""
        latest = self.latest_snapshot()
        if latest is None:
            return
        live = set(self._live_paths(n))
        for m in range(n + 1, latest + 1):
            p = self._snap_path(m)
            if os.path.exists(p):
                for path in self._live_paths(m):
                    if path not in live and os.path.exists(path):
                        shutil.rmtree(path, ignore_errors=True)
                os.remove(p)

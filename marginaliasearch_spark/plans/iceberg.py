"""Real-Iceberg wiring for the snapshot checkpoint layer.

`plans/checkpoints.py` implements the snapshot/merge-on-read/rollback semantics
the north rule requires over plain parquet, because the Iceberg runtime
jars are not in this sandbox image (no network, no jar install).  This
module is the production adapter: when the Iceberg Spark runtime IS on
the classpath (`IcebergCheckpointAdapter.available(spark)`), every
SnapshotCatalog operation maps onto the corresponding Iceberg call.

## The verified mapping (SnapshotCatalog ⇄ Iceberg)

| checkpoints.py operation | Iceberg call | semantic notes |
|---|---|---|
| `commit()` append-table path accumulation (`wave_out`) | `df.writeTo(t).append()` (AppendFiles) | both are O(new files); old files untouched |
| `commit()` replace tables (`domain_state` base, `wave_out_compacted`) | `df.writeTo(t).createOrReplace()` (ReplaceTable as one snapshot) | whole-table supersede; prior version still time-travelable |
| frontier / domain_state views: each domain's latest rows in `wave_out` | merge-on-read (format v2 `write.merge.mode=merge-on-read`): the wave's rows are the delta, readers merge them at scan time | no wave rewrites state it already wrote, so `commit_wave` has no partition-overwrite arm |
| manifest write + `os.replace` atomicity | Iceberg snapshot commit (atomic metadata swap) | identical all-or-nothing visibility |
| carried manifest fields (`commit()` keeps each unless the commit sets it): the crawl's `budgeted`/`n_buckets`/`seed`, the URL-seen store's `n_buckets`/`max_fill_est` | snapshot summary properties on each commit (`writeTo(t).option("snapshot-property.budgeted", …)`), read from `t.snapshots` at the tag | per snapshot, so rollback and time travel see the fields as they stood; the fetch_log view's offsets are computed from `budgeted`, resume engines and reopened stores adopt `n_buckets`/`seed` |
| URL-seen store (`frontier_dedup.py`): an admitting `ingest` appends its accepted dir to `seen` and replaces `filters`; `compact_seen`/`forget` commit with `truncate_append={"seen"}` | `seen`: `writeTo(t).append()` per ingest, `rewrite_data_files` for the compaction, `DELETE FROM t WHERE url_hash IN …` (a merge-on-read delete) for `forget`; `filters`: `createOrReplace()` | same atomic per-snapshot visibility as the crawl tables |
| `ingest`'s auto-compaction then `expire_snapshots(keep_last=MAX_SEEN_PATHS)` | `rewrite_data_files` then `expire_snapshots(table => seen, retain_last => k)` | superseded accepted/filter/seen files are deleted once no retained snapshot reaches them |
| wave number in manifest | `ALTER TABLE t CREATE TAG wave_N` | a named ref per wave pins every table version for resume |
| `load(n)` / `paths(table, n)` | `SELECT … VERSION AS OF 'wave_N'` | time travel read |
| `latest_snapshot()` + resume | read current table state (+ `t.refs` metadata table for the newest wave tag) | a killed run's uncommitted write never produced a snapshot → invisible, exactly like our ignored uncommitted wave dir |
| `compact_wave_out()` + `truncate_append` | `CALL cat.system.rewrite_data_files(table => t)` | same contract: rewrites data (each domain's latest state rows only, as rewriting applies a merge-on-read table's deletes), older snapshots keep referencing originals |
| `expire_snapshots(keep_last)` | `CALL cat.system.expire_snapshots(table => t, retain_last => k)` | deletes manifests + data files only reachable from expired snapshots |
| `rollback_to(n)` | `CALL cat.system.rollback_to_snapshot(t, <id of tag wave_N>)` per table | newer snapshots become unreferenced (then expire reclaims) |
| ignored uncommitted wave dir on resume | `resume_cleanup()`: roll each table back to its newest `wave_N` tag | Iceberg writes commit immediately — a crash mid-`commit_wave` leaves tagless orphan snapshots that MUST be rolled off before the wave re-runs (the parquet layer gets this for free) |
| per-partition lineage (`wave_out` paths by wave and row_kind) | the `t.files`/`t.partitions` metadata tables | per-partition file lineage is first-class in Iceberg |

No semantic gaps: every checkpoints.py contract (atomic per-wave
commit, append vs replace, merge-on-read state, time travel, expiry
reclaiming only unreachable files, rollback) has a one-call Iceberg
equivalent above, and `tests/test_iceberg_mapping.py` drives this
adapter through a recording stub to pin the exact call sequence per
operation.  On a cluster, enable with:

    spark-submit --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:<ver> \
        --conf spark.sql.catalog.msx=org.apache.iceberg.spark.SparkCatalog \
        --conf spark.sql.catalog.msx.type=hadoop \
        --conf spark.sql.catalog.msx.warehouse=<path> ...
"""

from __future__ import annotations

from typing import Optional


class IcebergCheckpointAdapter:
    """Feature-flagged: construct only when ``available(spark)``.

    ``spark`` needs ``.sql(str)`` and DataFrames need ``.writeTo(name)``
    (Spark 3.0+ DataFrameWriterV2) — the dry-run test substitutes a
    recorder with the same surface."""

    def __init__(self, spark, catalog: str = "msx", namespace: str = "crawl"):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")

    @staticmethod
    def available(spark) -> bool:
        """True when the Iceberg Spark runtime is on the JVM classpath."""
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.SparkCatalog"
            )
            return True
        except Exception:
            return False

    def _t(self, table: str) -> str:
        return f"{self.catalog}.{self.namespace}.{table}"

    # -- the SnapshotCatalog operations, in Iceberg terms ----------------

    def commit_wave(
        self,
        wave: int,
        wave_out_df=None,
        replace_dfs: Optional[dict] = None,
    ) -> None:
        """SnapshotCatalog.commit(): append + replace, then tag the wave so
        every table version is pinned."""
        if wave_out_df is not None:
            wave_out_df.writeTo(self._t("wave_out")).append()
        for name, df in (replace_dfs or {}).items():
            df.writeTo(self._t(name)).createOrReplace()
        tables = (["wave_out"] if wave_out_df is not None else []) + list(replace_dfs or {})
        for table in tables:
            self.spark.sql(
                f"ALTER TABLE {self._t(table)} "
                f"CREATE OR REPLACE TAG `wave_{wave:06d}`"
            )

    def read_at(self, table: str, wave: int):
        """SnapshotCatalog.paths(table, n) + read → time travel."""
        return self.spark.sql(
            f"SELECT * FROM {self._t(table)} VERSION AS OF 'wave_{wave:06d}'"
        )

    def latest_wave(self, table: str = "wave_out"):
        """SnapshotCatalog.latest_snapshot() → newest wave_N tag in the
        refs metadata table (uncommitted writes never made a snapshot)."""
        return self.spark.sql(
            f"SELECT max(name) AS latest FROM {self._t(table)}.refs "
            f"WHERE name LIKE 'wave\\_%'"
        )

    def compact(self, table: str = "wave_out") -> None:
        """SparkCrawlEngine.compact_wave_out() → rewrite_data_files."""
        self.spark.sql(
            f"CALL {self.catalog}.system.rewrite_data_files"
            f"(table => '{self.namespace}.{table}')"
        )

    def expire_snapshots(self, table: str, keep_last: int = 1) -> None:
        """SnapshotCatalog.expire_snapshots(keep_last)."""
        self.spark.sql(
            f"CALL {self.catalog}.system.expire_snapshots"
            f"(table => '{self.namespace}.{table}', retain_last => {keep_last})"
        )

    def rollback_to(self, table: str, wave: int) -> None:
        """SnapshotCatalog.rollback_to(n) — per table, to the wave tag."""
        self.spark.sql(
            f"CALL {self.catalog}.system.set_current_snapshot"
            f"(table => '{self.namespace}.{table}', ref => 'wave_{wave:06d}')"
        )

    def resume_cleanup(self, tables) -> dict:
        """Crash-recovery step BEFORE re-running an interrupted wave.

        Unlike the parquet SnapshotCatalog (whose uncommitted wave dirs
        are simply invisible), Iceberg commits each ``commit_wave`` write
        as its own snapshot immediately — a crash between the writes and
        the wave tags leaves committed-but-UNTAGGED snapshots on some
        tables.  Re-running the wave on top of those would double-append.
        Recovery contract: roll every table back to its newest ``wave_N``
        tag (the last fully-committed wave), making the orphan snapshots
        non-ancestors; ``expire_snapshots`` later reclaims them.  Returns
        {table: restored wave tag or None (table never tagged)}."""
        restored: dict = {}
        for t in tables:
            rows = self.spark.sql(
                f"SELECT max(name) AS latest FROM {self._t(t)}.refs "
                f"WHERE name LIKE 'wave\\_%'"
            ).collect()
            latest = rows[0]["latest"] if rows else None
            restored[t] = latest
            if latest is not None:
                self.spark.sql(
                    f"CALL {self.catalog}.system.set_current_snapshot"
                    f"(table => '{self.namespace}.{t}', ref => '{latest}')"
                )
        return restored


__all__ = ["IcebergCheckpointAdapter"]

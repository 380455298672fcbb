"""Dry-run verification of the SnapshotCatalog ⇄ Iceberg mapping
(plans/iceberg.py): a recording stub with the DataFrameWriterV2 surface
pins the EXACT call sequence each checkpoint operation translates to.
When the Iceberg runtime is actually on the classpath (cluster deploys),
the same adapter runs unchanged — `available(spark)` feature-flags it."""

import pytest

from marginaliasearch_spark.plans.iceberg import IcebergCheckpointAdapter


class _Recorder:
    def __init__(self):
        self.calls = []

    def sql(self, q):
        self.calls.append(("sql", " ".join(q.split())))
        return self

    # spark.sql() result surface (unused by assertions)
    def collect(self):
        return []


class _FakeWriterV2:
    def __init__(self, rec, table):
        self.rec, self.table = rec, table

    def append(self):
        self.rec.calls.append(("append", self.table))

    def createOrReplace(self):
        self.rec.calls.append(("createOrReplace", self.table))


class _FakeDF:
    def __init__(self, rec):
        self.rec = rec

    def writeTo(self, table):
        return _FakeWriterV2(self.rec, table)


@pytest.fixture
def rig():
    rec = _Recorder()
    adapter = IcebergCheckpointAdapter(rec, catalog="msx", namespace="crawl")
    assert rec.calls[0] == ("sql", "CREATE NAMESPACE IF NOT EXISTS msx.crawl")
    rec.calls.clear()
    return rec, adapter


def test_commit_wave_sequence(rig, spark):
    """commit(): append table → AppendFiles; replace tables →
    createOrReplace; then one wave tag per committed table.  The state is
    merge-on-read over wave_out, so no partition overwrite is issued."""
    rec, a = rig
    a.commit_wave(
        7,
        wave_out_df=_FakeDF(rec),
        replace_dfs={"domain_state": _FakeDF(rec), "wave_out_compacted": _FakeDF(rec)},
    )
    kinds = [c[0] for c in rec.calls]
    assert kinds == ["append", "createOrReplace", "createOrReplace",
                     "sql", "sql", "sql"]
    assert rec.calls[0][1] == "msx.crawl.wave_out"
    tags = [c[1] for c in rec.calls if c[0] == "sql"]
    assert all("CREATE OR REPLACE TAG `wave_000007`" in t for t in tags)
    assert {t.split(" ")[2] for t in tags} == {
        "msx.crawl.wave_out", "msx.crawl.domain_state", "msx.crawl.wave_out_compacted",
    }


def test_time_travel_and_resume(rig):
    rec, a = rig
    a.read_at("wave_out", 3)
    a.latest_wave()
    assert rec.calls[0] == (
        "sql", "SELECT * FROM msx.crawl.wave_out VERSION AS OF 'wave_000003'"
    )
    assert "refs" in rec.calls[1][1] and "wave\\_%" in rec.calls[1][1]


def test_maintenance_procedures(rig):
    rec, a = rig
    a.compact()
    a.expire_snapshots("wave_out", keep_last=2)
    a.rollback_to("domain_state", 5)
    assert rec.calls == [
        ("sql", "CALL msx.system.rewrite_data_files(table => 'crawl.wave_out')"),
        ("sql", "CALL msx.system.expire_snapshots(table => 'crawl.wave_out', retain_last => 2)"),
        ("sql", "CALL msx.system.set_current_snapshot(table => 'crawl.domain_state', ref => 'wave_000005')"),
    ]


def test_feature_flag_off_in_this_image(spark):
    """This sandbox has no Iceberg runtime — the flag must say so (and on
    a cluster with the jars it flips on with no code change)."""
    assert IcebergCheckpointAdapter.available(spark) is False


# ---------------------------------------------------------------------------
# Full kill/resume/rollback scenario against a STATEFUL fake Iceberg
# catalog (VERDICT r4 item 4): not per-op call shapes but the composed
# protocol — crash mid-commit_wave, tag-based resume, orphan-snapshot
# cleanup, rollback + expiry — replayed end-to-end with Iceberg's
# documented snapshot semantics modeled in memory.
# ---------------------------------------------------------------------------

import re


class _IceTable:
    """One Iceberg table: an append-only snapshot list, named tag refs,
    and a current-snapshot pointer.  Writes commit a snapshot IMMEDIATELY
    (the property that makes crash recovery nontrivial)."""

    def __init__(self):
        self.snapshots = []  # list[list[row]] or None once expired
        self.tags = {}       # tag name -> snapshot index
        self.current = None

    def _commit(self, rows):
        self.snapshots.append(list(rows))
        self.current = len(self.snapshots) - 1

    def cur_rows(self):
        if self.current is None:
            return []
        rows = self.snapshots[self.current]
        assert rows is not None, "current snapshot expired"
        return rows

    def append(self, rows):
        self._commit(self.cur_rows() + list(rows))

    def replace(self, rows):
        self._commit(list(rows))

    def tag(self, name):
        assert self.current is not None, "tagging an empty table"
        self.tags[name] = self.current

    def read_tag(self, name):
        rows = self.snapshots[self.tags[name]]
        assert rows is not None, f"snapshot for {name} expired"
        return rows

    def set_current_to_tag(self, name):
        self.current = self.tags[name]

    def expire(self, retain_last):
        # Iceberg: drop snapshots beyond retain_last on the current
        # ancestry; tag-referenced snapshots are protected
        protected = set(self.tags.values())
        live = [i for i in range(len(self.snapshots)) if self.snapshots[i] is not None]
        for i in live[:-retain_last] if retain_last < len(live) else []:
            if i not in protected and i != self.current:
                self.snapshots[i] = None

    def compact(self):
        # rewrite_data_files: same logical rows, new snapshot
        self._commit(self.cur_rows())


class _RowsResult:
    def __init__(self, rows):
        self._rows = rows

    def collect(self):
        return self._rows


class _Row(dict):
    def __getitem__(self, k):
        return dict.__getitem__(self, k)


class _FakeIceberg:
    """spark-like object executing the adapter's emitted protocol against
    _IceTable state.  Parses exactly the SQL shapes plans/iceberg.py
    emits — anything else is an error."""

    def __init__(self):
        self.tables: dict = {}

    def t(self, name):
        return self.tables.setdefault(name, _IceTable())

    def sql(self, q):
        q = " ".join(q.split())
        if q.startswith("CREATE NAMESPACE"):
            return _RowsResult([])
        m = re.match(r"ALTER TABLE msx\.crawl\.(\w+) CREATE OR REPLACE TAG `(\w+)`", q)
        if m:
            self.t(m.group(1)).tag(m.group(2))
            return _RowsResult([])
        m = re.match(r"SELECT \* FROM msx\.crawl\.(\w+) VERSION AS OF '(\w+)'", q)
        if m:
            return _RowsResult(self.t(m.group(1)).read_tag(m.group(2)))
        m = re.match(
            r"SELECT max\(name\) AS latest FROM msx\.crawl\.(\w+)\.refs "
            r"WHERE name LIKE 'wave\\_%'", q,
        )
        if m:
            tags = sorted(self.t(m.group(1)).tags)
            return _RowsResult([_Row(latest=tags[-1] if tags else None)])
        m = re.match(
            r"CALL msx\.system\.set_current_snapshot\(table => 'crawl\.(\w+)', "
            r"ref => '(\w+)'\)", q,
        )
        if m:
            self.t(m.group(1)).set_current_to_tag(m.group(2))
            return _RowsResult([])
        m = re.match(
            r"CALL msx\.system\.expire_snapshots\(table => 'crawl\.(\w+)', "
            r"retain_last => (\d+)\)", q,
        )
        if m:
            self.t(m.group(1)).expire(int(m.group(2)))
            return _RowsResult([])
        m = re.match(r"CALL msx\.system\.rewrite_data_files\(table => 'crawl\.(\w+)'\)", q)
        if m:
            self.t(m.group(1)).compact()
            return _RowsResult([])
        raise AssertionError(f"unmodeled SQL from adapter: {q}")


class _IceWriter:
    """DataFrameWriterV2 surface over literal rows; `fail` injects the
    crash (the write raises while earlier writes already committed)."""

    def __init__(self, cat, table, rows, fail):
        self.cat, self.table, self.rows, self.fail = cat, table, rows, fail

    def _boom(self):
        if self.fail:
            raise RuntimeError("simulated crash mid-commit_wave")

    def append(self):
        self._boom()
        self.cat.t(self.table).append(self.rows)

    def createOrReplace(self):
        self._boom()
        self.cat.t(self.table).replace(self.rows)


class _IceData:
    def __init__(self, cat, rows, fail=False):
        self.cat, self.rows, self.fail = cat, rows, fail

    def writeTo(self, table):
        return _IceWriter(self.cat, table.split(".")[-1], self.rows, self.fail)


def _wave_rows(w, n=3):
    return [{"wave": w, "idx": i} for i in range(n)]


def test_kill_resume_rollback_scenario(spark):
    """End-to-end protocol replay: 2 committed waves; crash mid-wave-2
    AFTER the wave_out append committed but BEFORE domain_state/tags;
    tag-based resume sees wave 1, resume_cleanup rolls the orphan append
    off, the re-run wave 2 commits exactly once; then rollback to wave 0
    + expiry, with tagged snapshots protected."""
    cat = _FakeIceberg()
    a = IcebergCheckpointAdapter(cat, catalog="msx", namespace="crawl")
    ALL = ["wave_out", "domain_state"]

    def commit(w, fail_from=None):
        a.commit_wave(
            w,
            wave_out_df=_IceData(cat, _wave_rows(w)),
            replace_dfs={
                "domain_state": _IceData(
                    cat, [{"wave": w}], fail=(fail_from == "domain_state")
                )
            },
        )

    commit(0)
    commit(1)

    # wave-1 state via time travel
    assert a.read_at("wave_out", 1).collect() == _wave_rows(0) + _wave_rows(1)
    assert a.read_at("domain_state", 1).collect() == [{"wave": 1}]

    # ---- CRASH mid-wave-2: wave_out append commits, domain_state raises
    with pytest.raises(RuntimeError):
        commit(2, fail_from="domain_state")
    # the orphan append IS committed on wave_out (Iceberg semantics) ...
    assert cat.t("wave_out").cur_rows() == _wave_rows(0) + _wave_rows(1) + _wave_rows(2)
    # ... but carries no tag, so tag-based resume still sees wave 1
    assert a.latest_wave().collect()[0]["latest"] == "wave_000001"

    # ---- RESUME: cleanup rolls every table to its newest wave tag
    restored = a.resume_cleanup(ALL)
    assert restored == {t: "wave_000001" for t in ALL}
    assert cat.t("wave_out").cur_rows() == _wave_rows(0) + _wave_rows(1)

    # re-run wave 2 — exactly-once despite the earlier orphan
    commit(2)
    assert a.read_at("wave_out", 2).collect() == (
        _wave_rows(0) + _wave_rows(1) + _wave_rows(2)
    )
    assert a.latest_wave().collect()[0]["latest"] == "wave_000002"

    # ---- ROLLBACK to wave 0 on every table
    for t in ALL:
        a.rollback_to(t, 0)
    assert cat.t("wave_out").cur_rows() == _wave_rows(0)
    assert cat.t("domain_state").cur_rows() == [{"wave": 0}]

    # ---- compaction + expiry: logical rows stable, tagged snaps protected
    a.compact("wave_out")
    a.expire_snapshots("wave_out", keep_last=1)
    assert cat.t("wave_out").cur_rows() == _wave_rows(0)
    for w in (0, 1, 2):  # wave tags survive expiry (tag-protected)
        assert a.read_at("wave_out", w).collect() is not None


def test_resume_cleanup_untagged_table(spark):
    """A table that never reached its first tag reports None and is left
    alone (the engine rebuilds it from wave 0)."""
    cat = _FakeIceberg()
    a = IcebergCheckpointAdapter(cat, catalog="msx", namespace="crawl")
    cat.t("wave_out").append(_wave_rows(0))  # orphan write, no tag ever
    restored = a.resume_cleanup(["wave_out"])
    assert restored == {"wave_out": None}

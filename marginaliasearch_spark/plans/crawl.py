"""The wave-iterative Spark crawl engine.

Architecture (SURVEY.md §3, §7): the crawl state lives in tables —

- ``frontier``      (domain, bucket, url_hash, url, seq, state) — the
                    per-domain queue (QUEUED rows, seq-ordered) plus the
                    URL-seen set (KNOWN/VISITED rows keyed by the bit-exact
                    64-bit hash);
- ``domain_state``  (domain, phase, state_json, info_json) — robots rules,
                    link-filter kind, depth, error budget, virtual clock;
- ``crawl_data`` / ``fetch_log`` / ``visits`` — append-only outputs.

Each wave cogroups the state tables with the domain's web pages (the
synthetic stand-in for HTTP; in production the fetch happens inside the
UDF against the live site) and advances every active domain's
DomainCrawlSession by up to ``wave_budget`` fetches.  Domains never link
to each other inside a job (the reference's key invariant — cp/readme.md
§1), so the grouping key ``domain`` makes the whole crawl embarrassingly
parallel: a wave shuffles only for the per-domain state merge and the
cogroup's hash-partitioning.

Each wave boundary is an atomic snapshot commit (plans/checkpoints.py) —
kill the driver at any point and ``resume()`` continues from the last
committed wave with identical results (tested).

State is merge-on-read over the wave output log (the Iceberg v2
merge-on-read shape): the wave UDF emits each advanced domain's complete
new frontier and domain_state rows into ``wave_out``, and that write is
the wave's only state write.  Domains are independent, so each domain's
latest rows are its whole state: ``domain_state`` is init_run's base row
overlaid with the domain's latest ``domain_state`` row, and ``frontier``
is the domain's rows from the latest wave that emitted any.  A domain
that emits no frontier rows (faulted, permit-held, or terminal with an
empty seen-set) keeps its previous rows.  fetch_log's token-budget
offsets are a read-time view of the same kind, over domain_state's
clocks.  ``compact_wave_out`` folds only those latest rows forward, which
bounds the merge read; ``run_waves`` folds on its own once
``FOLD_WAVES`` wave dirs are committed unfolded.

Scale notes (10^10-URL frontier / 1000 executors):
- the wave cogroup hash-partitions on ``domain`` at an explicit width,
  min(runnable domains, defaultParallelism), which AQE leaves alone; the
  frontier view's ``bucket`` column (xxhash64(domain) % n_buckets) is
  the partition spec of a production Iceberg table;
- per-domain state is bounded by the reference's own frontier cap
  (depth + 10_000 rows — DomainCrawlFrontier.java:167-169), so a group
  never exceeds ~20k rows no matter how large the site;
- the politeness budget makes >1 fetch/s/domain impossible, so wave
  throughput scales with the number of *domains* per executor, not URLs —
  which is why grouping by domain (not URL) is the right unit of work.
"""

from __future__ import annotations

import json
import os
from dataclasses import fields
from functools import reduce
from typing import Optional

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..oracle.session import DomainCrawlSession
from ..sources.synthetic_web import DomainInfo, SyntheticWeb, from_row, pages_by_key
from .checkpoints import SnapshotCatalog

# ---------------------------------------------------------------------------
# schemas
# ---------------------------------------------------------------------------

STATE_IN_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("row_kind", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("state", T.StringType()),
        T.StructField("state_json", T.StringType()),
        T.StructField("info_json", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("etag", T.StringType()),
        T.StructField("last_modified", T.StringType()),
        T.StructField("lsh64", T.LongType()),
    ]
)

# the previous crawl a recrawl replays (``run_waves(prev_crawl_df=...)``):
# per domain, its stored records in ``pos`` order with their validators
# (etag/last_modified for conditional GETs, lsh64 for the content arm)
PREV_CRAWL_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("pos", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("etag", T.StringType()),
        T.StructField("last_modified", T.StringType()),
        T.StructField("lsh64", T.LongType()),
    ]
)

WAVE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("row_kind", T.StringType()),
        T.StructField("domain", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("url", T.StringType()),
        T.StructField("seq", T.LongType()),
        T.StructField("state", T.StringType()),
        T.StructField("state_json", T.StringType()),
        T.StructField("http_status", T.IntegerType()),
        T.StructField("content_type", T.StringType()),
        T.StructField("image_id", T.StringType()),
        T.StructField("etag", T.StringType()),
        T.StructField("last_modified", T.StringType()),
        T.StructField("action", T.StringType()),
        T.StructField("virtual_ms", T.LongType()),
        T.StructField("idx", T.LongType()),
        T.StructField("url2", T.StringType()),  # edge rows: url=src, url2=dst
        T.StructField("lsh64", T.LongType()),    # content fingerprint (revisit)
        T.StructField("has_cookies", T.IntegerType()),  # Slop `cookies` column
        # Slop at-rest parity (SlopCrawlDataRecord.java:35-54)
        T.StructField("ip", T.StringType()),
        T.StructField("timestamp", T.LongType()),       # epoch millis (virtual)
        T.StructField("request_time_ms", T.IntegerType()),
        T.StructField("header", T.StringType()),        # raw header block
    ]
)

# the engine's own reads pin their schemas (no inference job per read):
# wave_out dirs and the compacted table carry ``wave`` (a partition
# column of the per-wave dirs, a data column of the compacted table)
WAVE_OUT_READ_SCHEMA = T.StructType(
    WAVE_OUT_SCHEMA.fields + [T.StructField("wave", T.IntegerType())]
)

# the views over wave_out and their columns (``read_table`` maps a view to
# its row_kind; the frontier view adds ``bucket``)
_VIEW_COLS = {
    "crawl_data": [
        "domain", "url", "http_status", "content_type", "image_id", "etag",
        "last_modified", "lsh64", "has_cookies", "ip", "timestamp",
        "request_time_ms", "header", "wave", "idx",
    ],
    "fetch_log": ["domain", "url", "action", "http_status", "virtual_ms", "idx", "wave"],
    "visits": ["domain", "url", "idx", "wave"],
    "edges": ["domain", "url", "url2", "idx", "wave"],
    "frontier": ["domain", "url_hash", "url", "seq", "state"],
}

# every name read_table serves
READ_TABLES = (*_VIEW_COLS, "domain_state", "wave_offsets")

# run_waves folds the committed wave_out dirs into one compacted table
# (compact_wave_out's rewrite) when their list reaches this length, so
# the per-wave merge read never lists and scans more than FOLD_WAVES dirs
FOLD_WAVES = 16

# the run's snapshot catalog tables
APPEND_TABLES = ("wave_out",)  # unified append log; crawl_data/fetch_log/
# visits are row_kind-filtered views over it (one physical write per wave)
REPLACE_TABLES = ("domain_state", "wave_out_compacted")
# domain_state is init_run's base table, never rewritten by a wave: the
# crawl state (frontier and each domain's phase/state_json) is read
# merge-on-read from wave_out
# wave_out_compacted: the rewrite_data_files analogue — a compaction
# snapshot folds the committed wave_out dirs (each domain's latest state
# rows only) into one row_kind-partitioned table (wave carried as a data
# column) and truncates the wave_out append list; older snapshots keep
# referencing the original files (time travel intact) until
# expire_snapshots reclaims them

DOMAIN_STATE_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("top_domain", T.StringType()),
        T.StructField("info_json", T.StringType()),
        T.StructField("phase", T.StringType()),
        T.StructField("state_json", T.StringType()),
    ]
)

# the DomainInfo fields init_run takes from the crawl specs; the others
# come from the web's domains table (info_json holds all but ``domain``)
_SPEC_FIELDS = ("crawl_depth", "seed_urls")


def _state_rows(df: DataFrame, *extra: str, **cols: str) -> DataFrame:
    """One state-side input of the wave cogroup: the STATE_IN_SCHEMA
    columns in order, each given column (a SQL expression over ``df``;
    ``domain`` defaults to ``domain``) cast to its schema type and a column
    not given a typed null, then the ``extra`` expressions.  One
    ``selectExpr``: the projection is planned in one py4j call."""
    given = {"domain": "domain", **cols}
    return df.selectExpr(
        *(
            f"CAST({given.get(f.name, 'NULL')} AS {f.dataType.simpleString()}) AS {f.name}"
            for f in STATE_IN_SCHEMA.fields
        ),
        *extra,
    )


def _kind_rows(state: pa.Table, kind: str, cols: list) -> list[dict]:
    """The ``kind`` rows of a wave's state side as dicts in ``seq`` order
    (nulls stay None, longs keep all 64 bits)."""
    rows = state.filter(pc.equal(state["row_kind"], kind)).sort_by("seq")
    return rows.select(cols).to_pylist()


def _run_code(phase: str) -> str:
    """The SQL run code of the phase expression ``phase``, as the state
    read carries it: 2 = active, 1 = pending (both runnable; a mid-crawl
    domain outranks a waiting one), 0 = terminal."""
    return f"CASE {phase} WHEN 'active' THEN 2 WHEN 'pending' THEN 1 ELSE 0 END"


# the state row kinds of wave_out: the merge-on-read views read each
# domain's latest ones
_STATE_KINDS = "row_kind IN ('domain_state', 'frontier')"

# a pin's columns (the runnable set's, or ``_latest_waves``'), and the
# condition that keeps a row joined with its domain's pin row: a
# domain_state row of the domain's state_wave, a frontier row of its
# frontier_wave, any other row (prev_crawl, atag) while the domain is
# pending.  It reads both sides, so it is never pushed into the pin.
_PIN_COLS = ("run", "state_wave", "frontier_wave")
_LIVE = (
    "CASE row_kind WHEN 'domain_state' THEN wave = state_wave"
    " WHEN 'frontier' THEN wave = frontier_wave ELSE run = 1 END"
)


def _live_state(wave_out: DataFrame) -> DataFrame:
    """Each domain's live state rows in ``wave_out`` (its columns), the
    rows the merge-on-read views read: one broadcast join on domain."""
    latest = F.broadcast(_latest_waves(wave_out))
    live = wave_out.filter(_STATE_KINDS).join(latest, "domain").filter(_LIVE)
    return live.select(*wave_out.columns)


def _latest_waves(wave_out: DataFrame) -> DataFrame:
    """Per domain with wave_out state rows: ``state_wave``, the wave of its
    latest domain_state row; ``frontier_wave``, the latest wave that
    emitted frontier rows for it (null when none has); and ``run``, the
    ``_run_code`` of that latest domain_state row.  An aggregate over
    integers only (a hash aggregate; ``max_by`` skips the frontier rows'
    null ordering)."""
    state_wave = "CASE WHEN row_kind = 'domain_state' THEN wave END"
    return (
        wave_out.filter(_STATE_KINDS)
        .groupBy("domain")
        .agg(
            F.expr(f"max({state_wave}) AS state_wave"),
            F.expr("max(CASE WHEN row_kind = 'frontier' THEN wave END) AS frontier_wave"),
            F.expr(f"max_by({_run_code('state')}, {state_wave}) AS run"),
        )
    )


_OUT_ARROW = to_arrow_schema(WAVE_OUT_SCHEMA)


def _assemble_out(domain: str, blocks: list) -> pa.Table:
    """Columnar wave-output builder: each block is (n_rows, {col: list |
    scalar}) for one homogeneous row kind; absent columns fill with
    nulls.  Replaces the per-row 25-key dict assembly (measured ~2/3 of
    the whole wave UDF wall at 512 domains — guide §1.2 step 2, per-task
    work).  Each column is built straight against the Arrow output
    schema, so int columns keep real nulls and all 64 bits."""
    n = sum(b[0] for b in blocks)
    arrays = []
    for f in _OUT_ARROW:
        if f.name == "domain":
            arrays.append(pa.array([domain] * n, f.type))
            continue
        vals: list = []
        for cnt, cols in blocks:
            v = cols.get(f.name)
            if isinstance(v, (list, range)):
                vals.extend(v)
            else:
                vals.extend([v] * cnt)
        arrays.append(pa.array(vals, f.type))
    return pa.Table.from_arrays(arrays, schema=_OUT_ARROW)


def _schedule_offsets(durations: list[tuple[str, int]], permits: int) -> dict[str, int]:
    """Greedy list scheduling of per-domain crawl durations onto `permits`
    concurrent slots with a ≥1 s cadence between lock grants — the virtual-
    clock model of the reference's per-top-domain semaphore
    (LocalDomainCoordinator.java:22-122).  Returns start offsets (ms)."""
    import heapq

    slots = [0] * max(permits, 1)
    heapq.heapify(slots)
    offsets: dict[str, int] = {}
    last_grant = -1000
    for name, dur in durations:  # caller passes a deterministic order
        free_at = heapq.heappop(slots)
        start = max(free_at, last_grant + 1000)
        offsets[name] = start
        last_grant = start
        heapq.heappush(slots, start + dur)
    return offsets


def _make_wave_fn(
    wave_budget: Optional[int],
    seed: int,
    transport: Optional[dict] = None,
    body_cap_bytes: Optional[int] = None,
):
    """Build the cogrouped wave UDF (runs once per domain per wave).

    Fault isolation: an exception while crawling one domain (bad state,
    malformed robots) terminates that domain with phase='error' and the
    exception recorded in its state_json — it never fails the whole wave
    task (the reference likewise catches per-domain exceptions in
    CrawlTask — CrawlerMain.java:700-716)."""

    def wave_fn(key, state, pages):
        domain = key[0].as_py()
        try:
            return _wave_fn_inner(domain, state, pages)
        except Exception as ex:  # noqa: BLE001 — per-domain fault barrier
            err = json.dumps({"phase": "error", "exception": repr(ex)[:500]})
            return _assemble_out(
                domain,
                [(1, {"row_kind": "domain_state", "state": "error", "state_json": err})],
            )

    def _wave_fn_inner(domain: str, state: pa.Table, pages: pa.Table) -> pa.Table:
        state = pa.Table.from_struct_array(state.column("state"))
        info_rows = _kind_rows(state, "info", ["info_json"])
        if not info_rows:
            return _OUT_ARROW.empty_table()
        # a spec domain with no web row has no web facts: it probes as
        # an error
        info = from_row(
            DomainInfo, json.loads(info_rows[0]["info_json"]), domain=domain, probe="error"
        )

        if transport is not None and transport.get("kind") == "http":
            # REAL-SOCKET transport (sources/httpweb.py): the executor's
            # Python worker opens live HTTP connections instead of reading
            # the cogrouped Arrow slice; ``pages`` degenerates to routing
            # ballast (pass an empty pages DF to run_waves in this mode).
            # tests/test_httpweb_engine.py proves the wave outputs are
            # byte-identical to the in-process transport on the same web.
            from ..sources.httpweb import HttpWeb

            web = HttpWeb(
                transport["ports"], host=transport.get("host", "127.0.0.1")
            )
        else:
            web = SyntheticWeb({domain: info}, pages_by_key(pages.column("page").to_pylist()))

        latest = _kind_rows(state, "domain_state", ["state_json"])
        state_json = latest[0]["state_json"] if latest else None
        if state_json is None:
            # fresh domain: setup (+ recrawl replay if prev data present)
            # replay order = stored order (the reference iterates the prior
            # Slop table sequentially); `seq` carries the position
            prev = _kind_rows(
                state, "prev_crawl",
                ["url", "http_status", "image_id", "etag", "last_modified", "lsh64"],
            )
            atags = [r["url"] for r in _kind_rows(state, "atag", ["url"])]
            sess = DomainCrawlSession(
                info,
                web,
                seed=seed,
                **({"body_cap_bytes": body_cap_bytes} if body_cap_bytes else {}),
            )
            phase = sess.setup(prev_crawl=prev or None, atag_urls=atags or None)
        else:
            frontier_rows = _kind_rows(state, "frontier", ["url_hash", "url", "seq", "state"])
            sess = DomainCrawlSession.rehydrate(
                info,
                web,
                state_json,
                frontier_rows,
                seed=seed,
                **({"body_cap_bytes": body_cap_bytes} if body_cap_bytes else {}),
            )
            phase = sess.phase

        if phase == "active":
            phase = sess.run(max_fetches=wave_budget)

        crawl_data, fetch_log, visits = sess.drain()
        edges = sess.drain_edges()
        # columnar assembly (block order = the old row order: edge,
        # fetch_log, visit, crawl_data, frontier, domain_state)
        blocks: list = []
        if edges:
            blocks.append(
                (
                    len(edges),
                    {
                        "row_kind": "edge",
                        "url": [e[0] for e in edges],
                        "url2": [e[1] for e in edges],
                        "idx": range(len(edges)),
                    },
                )
            )
        if fetch_log:
            blocks.append(
                (
                    len(fetch_log),
                    {
                        "row_kind": "fetch_log",
                        "url": [r["url"] for r in fetch_log],
                        "action": [r["action"] for r in fetch_log],
                        "http_status": [int(r["status"]) for r in fetch_log],
                        "virtual_ms": [int(r["virtual_ms"]) for r in fetch_log],
                        "idx": range(len(fetch_log)),
                    },
                )
            )
        if visits:
            blocks.append(
                (
                    len(visits),
                    {"row_kind": "visit", "url": list(visits), "idx": range(len(visits))},
                )
            )
        if crawl_data:
            blocks.append(
                (
                    len(crawl_data),
                    {
                        "row_kind": "crawl_data",
                        "idx": range(len(crawl_data)),
                        "url": [r["url"] for r in crawl_data],
                        "http_status": [int(r["http_status"]) for r in crawl_data],
                        "content_type": [r["content_type"] for r in crawl_data],
                        "image_id": [r["image_id"] for r in crawl_data],
                        "etag": [r["etag"] for r in crawl_data],
                        "last_modified": [r["last_modified"] for r in crawl_data],
                        "lsh64": [r.get("lsh64") for r in crawl_data],
                        "has_cookies": [int(r.get("has_cookies", 0)) for r in crawl_data],
                        "ip": [r.get("ip") for r in crawl_data],
                        "timestamp": [r.get("timestamp") for r in crawl_data],
                        "request_time_ms": [r.get("request_time_ms") for r in crawl_data],
                        "header": [r.get("header") for r in crawl_data],
                    },
                )
            )
        frontier_out = sess.frontier_rows()
        if phase != "active":
            # terminal: keep only the seen-set (lineage/recrawl input),
            # drop the queue
            frontier_out = [r for r in frontier_out if r["state"] != "QUEUED"]
        if frontier_out:
            blocks.append(
                (
                    len(frontier_out),
                    {
                        "row_kind": "frontier",
                        "url_hash": [int(r["url_hash"]) for r in frontier_out],
                        "url": [r["url"] for r in frontier_out],
                        "seq": [int(r["seq"]) for r in frontier_out],
                        "state": [r["state"] for r in frontier_out],
                    },
                )
            )
        blocks.append(
            (1, {"row_kind": "domain_state", "state": phase, "state_json": sess.state_json()})
        )
        return _assemble_out(domain, blocks)

    return wave_fn


OFFSETS_SCHEMA = T.StructType(
    [
        T.StructField("domain", T.StringType()),
        T.StructField("offset_ms", T.LongType()),
    ]
)


def _make_offsets_fn():
    """Per-top-domain token-budget schedule (wordpress.com 16, blogspot 8,
    substack 1, default 2 — LocalDomainCoordinator.java:88-100), applied
    when ``fetch_log`` is read: each member's virtual-clock start offset is
    the greedy list schedule of the members' cumulative crawl durations
    onto `permits` slots with the 1 s grant cadence, so the audit-trail
    timestamps reflect the semaphore's grant times.  The permit bound
    itself is enforced PHYSICALLY by the per-wave slot claim in
    ``run_waves`` (≤ permits members advance per wave); this adds the
    clock model on top, grouped per top-domain only at read time (the wave
    groups by domain, so a blogspot.com-scale top-domain never serializes
    its thousands of members into one task)."""
    from ..operators.scheduling import DEFAULT_PERMITS, TOP_DOMAIN_PERMITS

    def offsets_fn(key, table):
        permits = TOP_DOMAIN_PERMITS.get(key[0].as_py(), DEFAULT_PERMITS)
        durations = sorted(
            (d, max(int(ms), 0))
            for d, ms in zip(table["domain"].to_pylist(), table["dur_ms"].to_pylist())
        )
        offs = _schedule_offsets(durations, permits)
        return pa.Table.from_pydict(
            {"domain": list(offs.keys()), "offset_ms": list(offs.values())},
            schema=to_arrow_schema(OFFSETS_SCHEMA),
        )

    return offsets_fn


# ---------------------------------------------------------------------------
# the engine
# ---------------------------------------------------------------------------


class SparkCrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        seed: int = 42,
        n_buckets: int = 32,
        global_request_cap: Optional[int] = None,
        conn_launches_per_wave: Optional[int] = None,
        transport: Optional[dict] = None,
        body_cap_bytes: Optional[int] = None,
    ):
        self.spark = spark
        self.out_dir = out_dir
        # the bucket layout is a property of the PERSISTED run, not the
        # instance: a resume engine constructed with a different n_buckets
        # would give the frontier view different bucket keys mid-run, so
        # the constructor's layout is only the catalog's starting value.
        # ``runnable`` is the number of pending or active domains at the
        # snapshot: init_run sets it, each wave commits what it left
        # (None = no run of this layout, which run_waves refuses)
        self.catalog = SnapshotCatalog(
            out_dir,
            APPEND_TABLES,
            REPLACE_TABLES,
            {"budgeted": False, "n_buckets": n_buckets, "seed": seed, "runnable": None},
        )
        self._adopt_layout()
        # opt-in politeness analogues of the reference's two global
        # throttles (both default OFF — they are single-JVM niceness
        # mechanisms, meaningless for result semantics):
        #  - global_request_cap: HttpFetcherImpl's 512-permit global
        #    request semaphore (ref: crawling-process/java/nu/marginalia/
        #    crawl/fetcher/HttpFetcherImpl.java `requestSema`) — since a
        #    domain session runs one request at a time, the cap bounds
        #    concurrently-fetching DOMAINS; the wave analogue is "at most
        #    N domains advance per scheduling quantum".
        #  - conn_launches_per_wave: the connection-launch throttle that
        #    staggers NEW connections on startup (CrawlerMain's task-spawn
        #    pacing) — wave analogue: at most C domains may transition
        #    pending→active per wave.
        # a cap of 0 would make every wave's runnable set empty and the
        # run loop would "complete" having fetched nothing — reject it
        # here rather than silently reporting an empty successful crawl
        if global_request_cap is not None and global_request_cap < 1:
            raise ValueError(f"global_request_cap must be >= 1, got {global_request_cap}")
        if conn_launches_per_wave is not None and conn_launches_per_wave < 1:
            raise ValueError(
                f"conn_launches_per_wave must be >= 1, got {conn_launches_per_wave}"
            )
        self.global_request_cap = global_request_cap
        self.conn_launches_per_wave = conn_launches_per_wave
        # fetch transport for the wave UDF: None = the cogrouped Arrow
        # slice (hermetic default); {"kind": "http", "ports": {proto:
        # port}, "host": ...} = real sockets via sources/httpweb.HttpWeb
        # (executors dial the address — on a cluster this must be a
        # host reachable from every executor, not 127.0.0.1)
        self.transport = transport
        # None = the reference's 32 MB constant (session default); a gate
        # fixture overrides it to test the clip boundary at small scale
        self.body_cap_bytes = body_cap_bytes

    def _adopt_layout(self) -> None:
        m = self.catalog.load()
        self.n_buckets, self.seed = m["n_buckets"], m["seed"]

    # -- helpers ---------------------------------------------------------

    def _bucket(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    def read_table(self, table: str) -> Optional[DataFrame]:
        """The ``table`` view at the latest snapshot (None while it has no
        rows): one of ``READ_TABLES``."""
        if table not in READ_TABLES:
            raise ValueError(f"no table {table!r}; the engine serves {', '.join(READ_TABLES)}")
        manifest = self.catalog.load()
        tables = manifest["tables"]
        w = self._wave_out_all(tables)
        if table == "domain_state":
            return self._domain_state(tables, w)
        if table == "wave_offsets":
            return self._offsets(tables, w) if manifest["budgeted"] else None
        if w is None:
            return None
        if table == "frontier":
            return (
                _live_state(w)
                .filter(F.col("row_kind") == "frontier")
                .select(*_VIEW_COLS["frontier"], self._bucket(F.col("domain")).alias("bucket"))
            )
        # append views: wave_out is written partitionBy(row_kind) under
        # wave=NNNNNN dirs, so with basePath at the table root BOTH wave and
        # row_kind are partition columns and the kind filter prunes whole
        # directories at planning time (a 10^4-wave run's fetch_log query
        # opens only fetch_log files); a compacted table unions in
        kind = {"visits": "visit", "edges": "edge"}.get(table, table)
        v = w.filter(F.col("row_kind") == kind).select(*_VIEW_COLS[table])
        if table == "edges":
            return v.withColumnRenamed("url", "src").withColumnRenamed("url2", "dst")
        if table == "fetch_log" and manifest["budgeted"]:
            # token-budget offsets (a top_domain wave ran at or before this
            # snapshot): ONE offset per domain for the whole run, shifting
            # the audit trail by the domain's semaphore-grant time
            v = (
                v.join(F.broadcast(self._offsets(tables, w)), ["domain"], "left")
                .withColumn(
                    "virtual_ms",
                    F.col("virtual_ms") + F.coalesce(F.col("offset_ms"), F.lit(0)),
                )
                .drop("offset_ms")
            )
        return v

    def _wave_out_all(self, tables: dict) -> Optional[DataFrame]:
        """Every wave_out row of ``tables``: the per-wave dirs unioned with
        any compacted table (None when there are neither)."""
        reader = self.spark.read.schema(WAVE_OUT_READ_SCHEMA)
        parts = []
        if tables.get("wave_out"):
            parts.append(
                reader.option("basePath", os.path.join(self.out_dir, "wave_out")).parquet(
                    *tables["wave_out"]
                )
            )
        for p in tables.get("wave_out_compacted", []):
            parts.append(reader.option("basePath", p).parquet(p))
        if not parts:
            return None
        df = parts[0]
        for extra in parts[1:]:
            df = df.unionByName(extra)
        return df

    def _state(self, tables: dict, w: Optional[DataFrame]) -> DataFrame:
        """The state read of ``tables``: init_run's base rows (the columns
        of DOMAIN_STATE_SCHEMA, phase/state_json as init_run wrote them)
        joined with the ``_latest_waves`` columns of its wave_out rows
        ``w``; ``run`` falls back to the base phase's code for a domain
        with no wave_out rows (whose state_wave and frontier_wave are
        null).  Only integers and the domain key are aggregated; a domain's
        latest state_json is read through the pin (``_LIVE``)."""
        base = self._base(tables)
        code = _run_code("phase")
        if w is None:
            return base.selectExpr(
                *DOMAIN_STATE_SCHEMA.names, f"{code} AS run",
                "CAST(NULL AS INT) AS state_wave", "CAST(NULL AS INT) AS frontier_wave",
            )
        return base.join(_latest_waves(w), "domain", "left").selectExpr(
            *DOMAIN_STATE_SCHEMA.names, f"coalesce(run, {code}) AS run",
            "state_wave", "frontier_wave",
        )

    def _base(self, tables: dict) -> DataFrame:
        return self.spark.read.schema(DOMAIN_STATE_SCHEMA).parquet(*tables["domain_state"])

    def _domain_state(self, tables: dict, w: Optional[DataFrame]) -> Optional[DataFrame]:
        """The domain_state view of ``tables`` (wave_out rows ``w``):
        init_run's base rows with each moved domain's pinned latest
        domain_state row laid over phase/state_json."""
        if not tables.get("domain_state"):
            return None
        base = self._base(tables)
        if w is None:
            return base
        live = (
            _live_state(w)
            .filter(F.col("row_kind") == "domain_state")
            .select("domain", F.col("state").alias("_phase"), F.col("state_json").alias("_json"))
        )
        moved = F.col("_phase").isNotNull()
        return base.join(live, "domain", "left").select(
            "domain", "top_domain", "info_json",
            F.when(moved, F.col("_phase")).otherwise(F.col("phase")).alias("phase"),
            F.when(moved, F.col("_json")).otherwise(F.col("state_json")).alias("state_json"),
        )

    def _offsets(self, tables: dict, w: Optional[DataFrame]) -> DataFrame:
        """The token-budget offsets (domain, offset_ms) of ``tables``, a
        pure function of its domain_state view: each domain's cumulative
        ``clock_ms`` scheduled per top-domain (``_make_offsets_fn``); a
        domain that never started holds no slot."""
        dur = F.coalesce(
            F.get_json_object("state_json", "$.clock_ms").cast("long"), F.lit(0)
        )
        durs = (
            self._domain_state(tables, w)
            .select("top_domain", "domain", dur.alias("dur_ms"))
            .filter(F.col("dur_ms") > 0)
        )
        return durs.groupBy("top_domain").applyInArrow(_make_offsets_fn(), OFFSETS_SCHEMA)

    # -- run lifecycle -----------------------------------------------------

    def init_run(
        self,
        web_domains_df: DataFrame,
        specs_df: DataFrame,
        ip_facts_df: Optional[DataFrame] = None,
        cidr_df: Optional[DataFrame] = None,
    ) -> None:
        """Seed domain_state from crawl specs ⋈ per-domain web facts.

        Mirrors the domain-list scan + spec construction
        (ref: CrawlerMain.java:285-307,764-818); the blacklist/availability
        drops are plain joins the caller applies to specs_df first.

        IP/Geo admission (IpBlockList.java:61-93, GeoIpBlocklist.java:19-42)
        is applied here, at spec load, exactly like the reference: name
        rules (.cn TLD, 4+-digit runs) always; geo-graylist and CIDR rules
        when ``ip_facts_df`` (domain, ip, country) / ``cidr_df``
        (range_lo, range_hi — broadcast dimension) are provided.  Blocked
        domains are RECORDED with terminal phase 'blocked_ip' (never
        crawled, visible in domain_state) rather than silently dropped.
        """
        from ..operators.ipblocklist import domain_blocked_expr

        joined = specs_df.alias("s").join(web_domains_df.alias("w"), on="domain", how="left")
        # the projections are SQL expressions (each is planned in one py4j
        # call, not one per Column operation)
        top = "coalesce(w.top_domain, domain)"
        # sub_domain = hostname minus ".top_domain" ("" when they coincide)
        sub = (
            f"CASE WHEN domain = {top} THEN '' "
            f"ELSE substr(domain, 1, length(domain) - length({top}) - 1) END"
        )
        country, ip_int = "CAST(NULL AS STRING)", "CAST(NULL AS BIGINT)"
        if ip_facts_df is not None:
            # deterministic single fact per domain (a multi-homed host with
            # several fact rows must not make admission partition-order
            # dependent): keep the lexicographic minimum
            facts = ", ".join(f"`{c}`" for c in ip_facts_df.columns if c != "domain")
            ip_one = (
                ip_facts_df.groupBy("domain")
                .agg(F.expr(f"min(struct({facts})) AS _f"))
                .selectExpr("domain", "_f.*")
            )
            joined = joined.join(F.broadcast(ip_one), "domain", "left")
            country = "country"
            if "ip_int" in ip_facts_df.columns:
                ip_int = "ip_int"
        blocked = domain_blocked_expr("domain", sub, country)
        if cidr_df is not None:
            # range-join against the broadcast CIDR dimension; the hit set
            # is tiny → broadcast it back as a flag
            cidr_hit = joined.selectExpr("domain", f"{ip_int} AS _ip_int").join(
                F.broadcast(cidr_df), F.expr("_ip_int BETWEEN range_lo AND range_hi"), "left_semi"
            )
            joined = joined.join(
                F.broadcast(cidr_hit.selectExpr("domain", "true AS _cidr_hit")), "domain", "left"
            )
            blocked = f"({blocked}) OR coalesce(_cidr_hit, false)"
        info = ", ".join(
            f"{'s' if f.name in _SPEC_FIELDS else 'w'}.{f.name} AS {f.name}"
            for f in fields(DomainInfo)
            if f.name != "domain"
        )
        # duplicate specs of a domain (CrawlerMain.java:550-552 keeps the
        # first in submission order): the largest crawl_depth wins, ties
        # go to the smallest seed_urls — a function of the rows, not of
        # their order or partitioning (DIVERGENCES.md)
        pick = (
            "row_number() OVER (PARTITION BY domain"
            " ORDER BY s.crawl_depth DESC NULLS LAST, s.seed_urls NULLS LAST)"
        )
        ds = (
            joined.withColumn("_pick", F.expr(pick))
            .filter("_pick = 1")
            .selectExpr(
                "domain",
                f"{top} AS top_domain",
                f"to_json(struct({info})) AS info_json",
                f"CASE WHEN {blocked} THEN 'blocked_ip' ELSE 'pending' END AS phase",
                "CAST(NULL AS STRING) AS state_json",
            )
        )
        # the run's runnable count rides its manifest: counted on the write
        runnable = Observation()
        ds = ds.observe(runnable, F.expr("count_if(phase = 'pending') AS n"))
        # init starts a NEW run: forget any leftover snapshots (commit(0)
        # would otherwise merge with a previous run's latest manifest, its
        # budgeted flag included); snapshot 0 pins the constructor's bucket
        # layout for future resume engines
        self.catalog.reset()
        self._adopt_layout()
        path = self.catalog.wave_path("domain_state", 0)
        ds.write.mode("overwrite").parquet(path)
        self.catalog.commit(0, {"domain_state": path}, runnable=runnable.get["n"])

    def run_waves(
        self,
        web_pages_df: DataFrame,
        wave_budget: Optional[int] = None,
        max_waves: int = 10_000,
        prev_crawl_df: Optional[DataFrame] = None,
        atags_df: Optional[DataFrame] = None,
        group_key: str = "domain",
        deadline_s: Optional[float] = None,
    ) -> int:
        """Advance all domains to terminal phase; returns wave count.

        ``deadline_s`` is the timed-run wall budget (the reference's
        TimedRun, default 7 days — CrawlerMain.java:831-878,410-433): once
        elapsed, no NEW wave is submitted; the in-flight wave commits its
        snapshot normally, so the run stays exactly resumable.

        ``group_key="top_domain"`` enforces the per-top-domain token
        budget PHYSICALLY (at most `permits` member domains advance per
        wave, mid-crawl members holding their slot — the reference's
        semaphore, LocalDomainCoordinator.java:22-122) and additionally
        models the 1 s grant cadence on the virtual clock: the run's
        manifest records that a top_domain wave ran, and the ``fetch_log``
        view then shifts each domain's audit trail by its scheduled grant
        time; per-domain order and seen-set are unchanged.  The wave still
        groups by domain, so a giant top-domain's runnable members stay
        spread across tasks.

        A wave plans from its snapshot: the manifest carries the number of
        runnable (pending or active) domains, so the loop stops on it
        before any job, and init_run's write and each wave's write keep it
        exact.  The state read is one integer aggregate (``_state``): each
        domain's ``run`` code picks the runnable set, and one broadcast of
        it (``_LIVE``) prunes the pages and feeds the cogroup the
        runnable domains' latest state_json and frontier.  ``wave_out`` is
        the wave's only write.

        The wave sets its own width: both cogroup sides are hash-partitioned
        on ``domain`` into min(runnable domains, defaultParallelism)
        partitions, the runnable count read from the manifest.  The wave
        groups are tiny in bytes but heavy in compute (the per-domain crawl
        loop); AQE does not coalesce a repartition with an explicit
        partition count, and ``spark.sql.shuffle.partitions`` does not set
        the number of Python tasks.
        """
        import time as _time

        if prev_crawl_df is not None:
            # a missing column is an error: a filled-in null one would
            # silently turn off conditional GETs or the LSH retention arm
            missing = sorted(set(PREV_CRAWL_SCHEMA.names) - set(prev_crawl_df.columns))
            if missing:
                raise ValueError(f"prev_crawl_df lacks column(s) {', '.join(missing)}")
        waves_done = 0
        t_start = _time.monotonic()
        while waves_done < max_waves:
            if deadline_s is not None and _time.monotonic() - t_start >= deadline_s:
                break  # timed-run deadline: stop submitting waves, stay resumable
            manifest = self.catalog.load()
            runnable = manifest["runnable"]
            if runnable is None:
                raise ValueError(
                    f"{self.out_dir} holds no run with a runnable count in its "
                    "manifest; start the run with init_run"
                )
            if not runnable:
                break  # before any job, and before any fold
            wave = manifest["wave"] + 1

            tables = manifest["tables"]
            folded: dict[str, Optional[str]] = {}
            if len(tables.get("wave_out", [])) >= FOLD_WAVES:
                # bound the merge read: this wave reads, and commits, the
                # committed wave_out dirs folded into one compacted table
                cpath = self._fold(tables, wave)
                folded = {"wave_out_compacted": cpath}
                tables = {**tables, "wave_out": [], "wave_out_compacted": [cpath]}
            # one listing of this snapshot's wave_out files serves the state
            # read and the live-row pin
            w = self._wave_out_all(tables)
            active = self._state(tables, w).filter("run > 0")
            if group_key == "top_domain":
                # PHYSICAL permit enforcement (the reference's semaphore is
                # held for a domain's whole crawl —
                # LocalDomainCoordinator.java:22-122): at most `permits`
                # member domains of a top-domain run per wave.  Mid-crawl
                # members keep their slot (run code 2, active, outranks 1,
                # pending); freed slots go to pending members in
                # deterministic domain order (the lock-retry loop of
                # CrawlerMain.java:405-457, with domain order as the
                # determinism pin).  Held domains simply skip the wave —
                # they emit no rows, so their latest rows stay their state.
                # The fetch_log view's offsets are the 1 s-cadence
                # virtual-clock audit model of the same semaphore.
                from pyspark.sql import Window

                from ..operators.scheduling import permits_col

                slot_w = Window.partitionBy("top_domain").orderBy(
                    F.desc("run"), F.col("domain")
                )
                active = (
                    active.withColumn("_slot", F.row_number().over(slot_w))
                    .filter(F.col("_slot") <= permits_col(F.col("top_domain")))
                    .drop("_slot")
                )
            if self.conn_launches_per_wave is not None:
                # connection-launch throttle: only the first C pending
                # domains (deterministic domain order) may START this
                # wave; mid-crawl domains are unaffected.  Global
                # sort-limit compiles to TakeOrderedAndProject — a top-C
                # selection, not a single-partition shuffle of the state.
                launching = (
                    active.filter(F.col("run") == 1)
                    .orderBy("domain")
                    .limit(int(self.conn_launches_per_wave))
                )
                active = active.filter(F.col("run") == 2).unionByName(launching)
            if self.global_request_cap is not None:
                # global request semaphore: at most N domains in flight
                # per quantum; holders (run code 2) outrank waiters, ties
                # broken by domain — the same grant discipline as the
                # per-top-domain permits above.  Skipped domains emit no
                # rows, keep their latest state and retry next wave.
                active = active.orderBy(F.desc("run"), F.col("domain")).limit(
                    int(self.global_request_cap)
                )
            width = min(runnable, self.spark.sparkContext.defaultParallelism)
            # the runnable set is not cached: each reference below re-plans
            # it within the one write query, and every one sees the same
            # set (the slot claim and the limits order by (run, domain)).
            # ONE broadcast of the runnable set prunes every wave input:
            # the pages, each runnable domain's live wave_out rows (its
            # latest domain_state row, its state_json, and its latest
            # frontier wave's rows) and a pending domain's prev_crawl/atag
            # rows, so nothing else reaches the shuffle — in late waves
            # (1 % of domains runnable) the pruned shuffle is ~100×
            # smaller.  Its columns ride along on both cogroup sides (the
            # wave UDF ignores them): a broadcast side is pruned to the
            # columns its join's output uses, and only equal broadcast
            # sides share one exchange.
            pin = F.broadcast(active.selectExpr("domain", *_PIN_COLS))
            # (re-aliased: the two cogroup sides may not share attributes,
            # and the pages side carries the pin's own)
            left = _state_rows(
                active, *(f"{c} AS {c}" for c in _PIN_COLS), row_kind="'info'",
                info_json="info_json",
            )
            pruned = []
            if w is not None:
                pruned.append(
                    _state_rows(
                        w.filter(_STATE_KINDS), "wave", row_kind="row_kind",
                        url_hash="url_hash", url="url", seq="seq", state="state",
                        state_json="state_json",
                    )
                )
            if prev_crawl_df is not None:
                pruned.append(
                    _state_rows(
                        prev_crawl_df, "CAST(NULL AS INT) AS wave", row_kind="'prev_crawl'",
                        url="url", seq="pos", http_status="http_status", image_id="image_id",
                        etag="etag", last_modified="last_modified", lsh64="lsh64",
                    )
                )
            if atags_df is not None:
                pruned.append(
                    _state_rows(
                        atags_df, "CAST(NULL AS INT) AS wave", row_kind="'atag'",
                        url="url", seq="pos",
                    )
                )
            if pruned:
                rows = reduce(DataFrame.unionByName, pruned).join(pin, "domain")
                if w is not None:
                    # (in the first wave every runnable domain is pending,
                    # and a condition on the pin alone would be pushed into
                    # the broadcast side)
                    rows = rows.filter(_LIVE)
                left = left.unionByName(rows.drop("wave"))
            pages = web_pages_df.join(pin, "domain")
            # the wave ALWAYS groups by domain — budget mode bounds WHICH
            # domains run (slot claim above) but never merges them into a
            # top-domain mega-group, so giant top-domains stay spread
            # across tasks
            wave_fn = _make_wave_fn(wave_budget, self.seed, self.transport, self.body_cap_bytes)
            # each side crosses into the UDF as (domain, one struct column
            # of its rows): planning a cogroup side costs py4j calls per
            # column
            sides = [
                df.selectExpr("domain", f"struct(*) AS {name}")
                .repartition(width, "domain")
                .groupby("domain")
                for df, name in ((left, "state"), (pages, "page"))
            ]
            out = sides[0].cogroup(sides[1]).applyInArrow(wave_fn, WAVE_OUT_SCHEMA)

            # ONE physical write per wave, and the wave's only state write:
            # the unified output log, partitioned by row_kind (the
            # wave=NNNNNN dir name is the outer partition).  The append
            # tables are row_kind-filtered views; frontier and domain_state
            # are merge-on-read views over it.  The write also counts the
            # domains this wave left terminal (observed in the same job):
            # only a domain that runs emits a domain_state row, a held one
            # stays runnable, and nothing makes a terminal domain runnable
            # again, so the count the next snapshot carries is exact.
            ended = Observation()
            out = out.observe(
                ended,
                F.expr(
                    "count_if(row_kind = 'domain_state'"
                    " AND state NOT IN ('pending', 'active')) AS n"
                ),
            )
            opath = self.catalog.wave_path("wave_out", wave)
            out.write.partitionBy("row_kind").mode("overwrite").parquet(opath)
            self.catalog.commit(
                wave,
                {"wave_out": opath, **folded},
                truncate_append={"wave_out"} if folded else None,
                budgeted=manifest["budgeted"] or group_key == "top_domain",
                runnable=runnable - ended.get["n"],
            )
            waves_done += 1

        return waves_done

    # -- maintenance ------------------------------------------------------

    def compact_wave_out(self) -> Optional[str]:
        """Iceberg ``rewrite_data_files`` analogue for the wave output
        log: fold every committed per-wave dir (plus any previous
        compaction) into ONE row_kind-partitioned table with ``wave``
        carried as a data column, committed as a new snapshot that
        truncates the wave_out append list.  Views keep their row_kind
        pruning; resume and further waves continue normally; older
        snapshots still reference the original files (time travel intact)
        until ``expire_snapshots()`` reclaims them.  At 10^4 waves this
        bounds the views' file listing at O(kinds) instead of
        O(waves × kinds).  ``run_waves`` also folds on its own, every
        ``FOLD_WAVES`` waves."""
        manifest = self.catalog.load()
        tables = manifest["tables"]
        if not tables.get("wave_out"):
            return None  # nothing new to fold
        snap = manifest["wave"] + 1
        cpath = self._fold(tables, snap)
        self.catalog.commit(
            snap, {"wave_out_compacted": cpath}, truncate_append={"wave_out"}
        )
        return cpath

    def _fold(self, tables: dict, snap: int) -> str:
        """Write the wave_out rows of ``tables`` as one compacted table for
        snapshot ``snap`` (uncommitted); returns its path.  Only each
        domain's latest domain_state row and latest frontier rows are
        folded forward (the rows the merge-on-read views use), so the merge
        read after a fold is bounded by the live state, not by the number
        of waves before it."""
        w = self._wave_out_all(tables)
        df = w.filter(f"NOT {_STATE_KINDS}").unionByName(_live_state(w))
        cpath = os.path.join(self.out_dir, "wave_out_compacted", f"v={snap:06d}")
        df.write.partitionBy("row_kind").mode("overwrite").parquet(cpath)
        return cpath

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Reclaim data files referenced only by expired snapshots (run
        after compaction).  Returns the removed paths."""
        return self.catalog.expire_snapshots(keep_last=keep_last)

    # -- result accessors ---------------------------------------------------

    def lineage(self) -> list[dict]:
        """Per-partition lineage: every committed snapshot with its table
        paths — the wave_out dirs are partitioned by wave and row_kind
        (north rule: 'resumable from Iceberg snapshot checkpoints with
        per-partition lineage')."""
        out = []
        latest = self.catalog.latest_snapshot()
        if latest is None:
            return out
        for n in range(latest + 1):
            try:
                m = self.catalog.load(n)
            except FileNotFoundError:
                continue
            out.append({"snapshot": n, "wave": m["wave"], "tables": m["tables"]})
        return out

    def refused_reprobe_candidates(self, probe_fraction: float = 0.1) -> DataFrame:
        """The refused-re-probe input for the NEXT cycle: a deterministic
        hash-sampled fraction of this run's robots refusals ("to permit
        circumstances to change over time, we'll allow for a small chance
        of re-probing" — CrawlerWarcResynchronizer.java:70-78; seeded hash
        instead of Math.random, the repo-wide determinism pin).

        Refusal lineage comes from BOTH stores: frontier REFUSED rows
        (never-fetched refusals) and fetch_log REFUSED_ROBOTS actions
        (covers recrawl-time refusals of previously-visited URLs, whose
        frontier state stays VISITED to keep the seen-set exact).  The
        result is directly usable as the next cycle's ``atags_df``
        (domain, pos, url)."""
        from pyspark.sql import Window

        fr = self.read_table("frontier")
        log = self.read_table("fetch_log")
        parts = []
        if fr is not None:
            parts.append(
                fr.filter(
                    (F.col("state") == "REFUSED") & F.col("url").isNotNull()
                ).select("domain", "url")
            )
        if log is not None:
            parts.append(
                log.filter(F.col("action") == "REFUSED_ROBOTS").select("domain", "url")
            )
        if not parts:
            return self.spark.createDataFrame([], "domain string, pos long, url string")
        cand = parts[0]
        for p in parts[1:]:
            cand = cand.unionByName(p)
        sampled = (
            cand.dropDuplicates(["url"])
            .filter(
                F.pmod(F.xxhash64("url", F.lit(self.seed)), F.lit(1000))
                < int(probe_fraction * 1000)
            )
        )
        w = Window.partitionBy("domain").orderBy("url")
        return sampled.withColumn("pos", F.row_number().over(w).cast("long")).select(
            "domain", "pos", "url"
        )

    def dedup_metrics(self) -> Optional[DataFrame]:
        """Fetch/dedup metrics per domain: URLs seen (KNOWN+REFUSED+VISITED),
        visited, still queued, robots refusals, fetch attempts."""
        fr = self.read_table("frontier")
        if fr is None:
            return None
        agg = fr.groupBy("domain").agg(
            F.sum(F.when(F.col("state") == "VISITED", 1).otherwise(0)).alias("n_visited"),
            F.sum(
                F.when(F.col("state").isin("KNOWN", "REFUSED"), 1).otherwise(0)
            ).alias("n_known_unvisited"),
            F.sum(F.when(F.col("state") == "REFUSED", 1).otherwise(0)).alias("n_refused"),
            F.sum(F.when(F.col("state") == "QUEUED", 1).otherwise(0)).alias("n_queued"),
        )
        log = self.read_table("fetch_log")
        if log is not None:
            acts = log.groupBy("domain").agg(
                F.sum(F.when(F.col("action") == "REFUSED_ROBOTS", 1).otherwise(0)).alias(
                    "n_robots_refused"
                ),
                F.sum(F.when(F.col("action").startswith("FETCH"), 1).otherwise(0)).alias(
                    "n_fetch_attempts"
                ),
            )
            agg = agg.join(acts, "domain", "left")
        return agg

    def crawl_meta(self) -> DataFrame:
        """Per-domain crawl metrics (§2.5/§2.11 analogue of DomainStateDb
        CrawlMeta), computed relationally from the state + output tables."""
        ds = self.read_table("domain_state")
        meta = ds.select(
            "domain",
            "phase",
            F.get_json_object("state_json", "$.visited_cnt").cast("long").alias("visited_cnt"),
            F.get_json_object("state_json", "$.error_count").cast("long").alias("error_count"),
            F.get_json_object("state_json", "$.crawler_additions")
            .cast("long")
            .alias("crawl_changes"),
            F.get_json_object("state_json", "$.recrawl_size").cast("long").alias("recrawl_size"),
            F.get_json_object("state_json", "$.recrawl_recrawled")
            .cast("long")
            .alias("recrawl_recrawled"),
            F.get_json_object("state_json", "$.recrawl_retained")
            .cast("long")
            .alias("recrawl_retained"),
            F.get_json_object("state_json", "$.recrawl_skipped")
            .cast("long")
            .alias("recrawl_skipped"),
            F.get_json_object("state_json", "$.clock_ms").cast("long").alias("crawl_time_ms"),
            F.get_json_object("state_json", "$.feed_url").alias("feed_url"),
            F.get_json_object("state_json", "$.favicon_url").alias("favicon_url"),
            F.get_json_object("state_json", "$.favicon_content_type").alias(
                "favicon_content_type"
            ),
        )
        cd = self.read_table("crawl_data")
        if cd is not None:
            good = (
                cd.filter(F.col("http_status").isin(200, 206))
                .groupBy("domain")
                .agg(F.count("*").alias("good_status_count"))
            )
            meta = meta.join(good, "domain", "left")
        return meta

    def crawl_meta_with_budget(self) -> DataFrame:
        """crawl_meta extended with the per-top-domain politeness-budget
        wall-clock model (permits + makespan; scheduling.py §2.9)."""
        from ..operators.scheduling import top_domain_makespan

        ds = self.read_table("domain_state").select("domain", "top_domain")
        meta = self.crawl_meta().join(ds, "domain", "left")
        budget = top_domain_makespan(
            meta.select("domain", "top_domain", F.coalesce("crawl_time_ms", F.lit(0)).alias("crawl_time_ms"))
        )
        return meta.join(budget, "top_domain", "left")

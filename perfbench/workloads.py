"""The benchmark's workloads.

Each workload makes its inputs from the seed, computes an independent
reference once (outside every timed region), and then runs timed
iterations of calls into the package's public API.  Every iteration's
output is checked against the reference after its timed region ends.
Public functions are called with their default arguments except where a
workload's shape needs one (the recrawl's ``prev_crawl_df``, the gate's
``near_dup_threshold=0.6``).
"""

from __future__ import annotations

import gc
import hashlib
import math
import os
import shutil
import statistics
import string
from dataclasses import dataclass, field

import numpy as np
import pandas as pd


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    smoke: bool
    tracer: object
    plant_failure: bool = False

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


@dataclass
class Iteration:
    """One timed iteration: the layer calls it made, the items they
    processed and the wall of those calls, and what ``check`` compares."""

    calls: list[str]
    items: int = 0
    item_wall: float = 0.0
    wall: float = 0.0  # the whole iteration, set by the caller that timed it
    out: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, filenames in os.walk(path):
        for fn in filenames:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, fn))
    return files, size


def _to_parquet(ctx: Ctx, pdf: pd.DataFrame, schema, name: str):
    """Write a pandas frame as one parquet file with the Spark schema's
    Arrow types and read it back: the workload's input table on disk."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    path = ctx.path("inputs", f"{name}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    cols = [f.name for f in schema.fields]
    table = pa.Table.from_pandas(
        pdf[cols], schema=to_arrow_schema(schema), preserve_index=False
    )
    pq.write_table(table, path)
    return ctx.spark.read.parquet(path)


def _sha1(lines) -> str:
    return hashlib.sha1("\n".join(lines).encode()).hexdigest()


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Workload:
    name = ""
    item = ""  # what items_per_s counts
    # about the wall of one timed iteration on a 4-core host: a run
    # measures round(seconds / iteration_s) iterations, a count fixed per
    # workload, so that it does not change with the speed of the host
    iteration_s = 1.0
    # untimed iterations before timing (one at smoke size): after the
    # first-use costs of the first one, iterations keep getting faster for
    # several more as the JVM compiles the hot paths of query planning and
    # execution, and where a run's timed iterations start on that curve
    # differs from process to process
    warm_ups = 1

    def setup(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def reference(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def warm_up(self, ctx: Ctx) -> dict[str, str]:
        """``warm_ups`` untimed iterations, checked: first-use costs
        (Python worker start, imports, code generation, JIT compilation)
        are paid before timing.  Returns the failed checks, as ``check``
        does."""
        bad = {}
        for _ in range(1 if ctx.smoke else self.warm_ups):
            it = self.iteration(ctx)
            bad.update(self.check(ctx, it))
            self.finish(ctx, it)
        return bad

    def iteration(self, ctx: Ctx) -> Iteration:
        raise NotImplementedError

    def check(self, ctx: Ctx, it: Iteration) -> dict[str, str]:
        """{failed call: reason} for an iteration's output."""
        raise NotImplementedError

    def finish(self, ctx: Ctx, it: Iteration) -> None:
        """Release the iteration's state so the next one starts fresh:
        cached tables, then a full collection of both heaps, so that no
        iteration pays for the garbage of the one before it."""
        ctx.spark.catalog.clearCache()
        gc.collect()
        ctx.spark.sparkContext._jvm.System.gc()

    def layer_metrics(self, iters: list[Iteration], spans: list[dict], spark_by_span: dict) -> dict:
        raise NotImplementedError


def timed_calls(spans: list[dict], name: str) -> list[dict]:
    return [s for s in spans if s["name"] == name and s.get("run") is not None]


def _spark_sum(calls: list[dict], spark_by_span: dict, key: str) -> float:
    return sum(spark_by_span.get(s["id"], {}).get(key, 0) for s in calls)


# -- crawl -------------------------------------------------------------------


def _visits_by_domain(pdf: pd.DataFrame) -> dict[str, str]:
    pdf = pdf.sort_values(["domain", "wave", "idx"], kind="stable")
    return {d: _sha1(g["url"]) for d, g in pdf.groupby("domain", sort=False)}


def _seen_by_domain(pdf: pd.DataFrame) -> dict[str, str]:
    pdf = pdf[pdf["state"].isin(["VISITED", "KNOWN", "REFUSED"])]
    out = {}
    for d, g in pdf.groupby("domain", sort=False):
        pairs = sorted(zip(g["url_hash"].tolist(), (g["state"] == "VISITED").tolist()))
        out[d] = _sha1(f"{h}:{int(v)}" for h, v in pairs)
    return out


def _oracle_digests(results: dict) -> dict:
    return {
        "visits": {d: _sha1(r.visited_order) for d, r in results.items()},
        "seen": {
            d: _sha1(f"{h}:{int(v)}" for h, v in sorted(r.seen_hashes.items()))
            for d, r in results.items()
            if r.result == "crawled"
        },
        "visited": sum(len(r.visited_order) for r in results.values()),
    }


class _CrawlWorkload(Workload):
    item = "URL"
    # page counts are Pareto-distributed, so a fixed domain count would make
    # the crawl's size vary by ±15 % from seed to seed; instead the web is
    # cut to the first domains whose sum of min(pages, crawl depth) reaches
    # a fixed target, which holds the visited count within a few percent
    web_size, smoke_web_size = 4300, 300
    max_domains, smoke_max_domains = 200, 40

    def __init__(self):
        self._k = 0

    def _make_web(self, ctx: Ctx) -> None:
        from marginaliasearch_spark.sources.synthetic_web import (
            generate_web,
            spark_schemas,
            web_to_frames,
        )

        target = self.smoke_web_size if ctx.smoke else self.web_size
        n = self.smoke_max_domains if ctx.smoke else self.max_domains
        with ctx.tracer.span("sources.generate_web") as s:
            self.web, _ = generate_web(seed=ctx.seed, n_domains=n, mean_pages=40)
            pages_pdf, domains_pdf = web_to_frames(self.web)
        self.generate_web_s = s["dur"]
        sizes = pages_pdf.groupby("domain").size()
        self.crawl_domains, total = [], 0
        for d, spec in self.web.domains.items():
            self.crawl_domains.append(d)
            total += min(int(sizes.get(d, 0)), spec.crawl_depth)
            if total >= target:
                break
        ps, ds = spark_schemas()
        self.pages = _to_parquet(ctx, pages_pdf[pages_pdf["domain"].isin(self.crawl_domains)], ps, "pages")
        self.domains = _to_parquet(
            ctx, domains_pdf[domains_pdf["domain"].isin(self.crawl_domains)], ds, "domains"
        )
        self.specs = self.domains.select("domain", "crawl_depth", "seed_urls")

    def _engine(self, ctx: Ctx):
        from marginaliasearch_spark.plans.crawl import SparkCrawlEngine

        out = ctx.path("runs", f"engine-{self._k:04d}")
        self._k += 1
        return SparkCrawlEngine(ctx.spark, out), out

    def _plant(self, ctx: Ctx) -> None:
        if ctx.plant_failure:
            d = sorted(self.ref["visits"])[0]
            self.ref["visits"][d] = "0" * 40

    def _readback(self, ctx: Ctx, eng) -> dict:
        with ctx.tracer.span("crawl.readback") as s:
            visited = eng.read_table("visits").count()
            frontier_rows = eng.read_table("frontier").count()
        return {"visited": visited, "frontier_rows": frontier_rows, "readback_s": s["dur"]}

    def check(self, ctx: Ctx, it: Iteration) -> dict[str, str]:
        eng = it.out["engine"]
        visits = eng.read_table("visits").select("domain", "wave", "idx", "url").toArrow().to_pandas()
        frontier = eng.read_table("frontier").select("domain", "url_hash", "state").toArrow().to_pandas()
        got_v = _visits_by_domain(visits)
        got_s = _seen_by_domain(frontier)
        ref = self.ref
        empty = _sha1([])
        bad_v = [d for d in set(ref["visits"]) | set(got_v) if got_v.get(d, empty) != ref["visits"].get(d, empty)]
        bad_s = [d for d in ref["seen"] if got_s.get(d) != ref["seen"][d]]
        it.layer["root_bytes"] = _dir_stats(it.out["out_dir"])[1]
        it.layer["seen"] = sum(
            len(g) for d, g in frontier[frontier["state"].isin(["VISITED", "KNOWN", "REFUSED"])].groupby("domain")
            if d in ref["seen"]
        )
        bad = {}
        if bad_v or bad_s:
            bad["crawl.run_waves"] = (
                f"{len(bad_v)} domains differ from the oracle's visit order, "
                f"{len(bad_s)} from its seen-set"
            )
        if it.out["visited"] != ref["visited"]:
            bad["crawl.readback"] = f"visited {it.out['visited']} != oracle {ref['visited']}"
        return bad

    def finish(self, ctx: Ctx, it: Iteration) -> None:
        super().finish(ctx, it)
        shutil.rmtree(it.out["out_dir"], ignore_errors=True)

    def layer_metrics(self, iters, spans, spark_by_span) -> dict:
        waves = sum(it.out["waves"] for it in iters)
        wave_calls = timed_calls(spans, "crawl.run_waves")
        wave_s = [s["dur"] for s in wave_calls if s.get("waves", 1) > 0]
        visited = sum(it.out["visited"] for it in iters)
        per_wave = lambda key: _spark_sum(wave_calls, spark_by_span, key) / max(waves, 1)  # noqa: E731
        py_wall = _spark_sum(wave_calls, spark_by_span, "py_wall_s")
        return {
            "crawl.init_run_s": _median([s["dur"] for s in timed_calls(spans, "crawl.init_run")]),
            "crawl.wave_s": _median(wave_s),
            "crawl.wave_p90_s": float(np.percentile(wave_s, 90)) if wave_s else 0.0,
            "crawl.waves": waves / max(len(iters), 1),
            "crawl.jobs_per_wave": per_wave("jobs"),
            "crawl.stages_per_wave": per_wave("stages"),
            "crawl.udf_task_s": per_wave("py_task_s"),
            "crawl.fixed_s": (sum(s["dur"] for s in wave_calls) - py_wall) / max(waves, 1),
            "crawl.shuffle_bytes_per_wave": per_wave("shuffle_write_bytes"),
            "crawl.rows_out_per_wave": per_wave("records_written"),
            "checkpoints.files_per_wave": sum(it.layer["wave_files"] for it in iters) / max(waves, 1),
            "checkpoints.bytes_per_wave": sum(it.layer["wave_bytes"] for it in iters) / max(waves, 1),
            "crawl.readback_s": _median([it.out["readback_s"] for it in iters]),
            "crawl.visited": visited / max(len(iters), 1),
            "crawl.seen": sum(it.layer["seen"] for it in iters) / max(len(iters), 1),
            "out_bytes_per_item": sum(it.layer["root_bytes"] for it in iters) / max(visited, 1),
            "sources.generate_web_s": self.generate_web_s,
        }


class RecrawlOneshot(_CrawlWorkload):
    """Cycle-2 recrawl of a static web against the stored cycle-1 crawl,
    in one wave.  The cycle-1 crawl in ``setup`` pays the first-use costs
    of the engine path; the warm-up iteration runs the revalidation path."""

    name = "recrawl_oneshot"
    iteration_s = 5.5

    def setup(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        self._make_web(ctx)
        eng, out = self._engine(ctx)
        with ctx.tracer.span("crawl.cycle1"):
            eng.init_run(self.domains, self.specs)
            eng.run_waves(self.pages)
        prev_path = ctx.path("inputs", "prev_crawl")
        (
            eng.read_table("crawl_data")
            .select(
                "domain",
                (F.col("wave") * 100_000 + F.col("idx")).alias("pos"),
                "url", "http_status", "image_id", "etag", "last_modified", "lsh64",
            )
            .write.parquet(prev_path)
        )
        shutil.rmtree(out, ignore_errors=True)
        self.prev = ctx.spark.read.parquet(prev_path)

    def reference(self, ctx: Ctx) -> None:
        from marginaliasearch_spark.oracle import OracleCrawler

        oracle = OracleCrawler(self.web)
        cycle1 = {d: oracle.crawl_domain(d) for d in sorted(self.crawl_domains)}
        cycle2 = {
            d: oracle.crawl_domain(d, prev_crawl=(r.crawl_data or None))
            for d, r in cycle1.items()
        }
        self.ref = _oracle_digests(cycle2)
        self._plant(ctx)

    def iteration(self, ctx: Ctx) -> Iteration:
        eng, out = self._engine(ctx)
        with ctx.tracer.span("crawl.init_run") as a:
            eng.init_run(self.domains, self.specs)
        layer = {}
        if ctx.tracer.enabled:
            layer["init_files"], layer["init_bytes"] = _dir_stats(out)
        with ctx.tracer.span("crawl.run_waves") as w:
            waves = eng.run_waves(self.pages, prev_crawl_df=self.prev)
            w["waves"] = waves
        if ctx.tracer.enabled:
            files, size = _dir_stats(out)
            layer.update(
                wave_files=files - layer["init_files"], wave_bytes=size - layer["init_bytes"]
            )
        rb = self._readback(ctx, eng)
        return Iteration(
            calls=["crawl.init_run", "crawl.run_waves", "crawl.readback"],
            items=rb["visited"],
            item_wall=a["dur"] + w["dur"],
            out={"engine": eng, "out_dir": out, "waves": waves, "wave_walls": [w["dur"]], **rb},
            layer=layer,
        )


class CrawlWaves(_CrawlWorkload):
    """The budgeted launch shape: ``run_waves(max_waves=1)`` until done.

    Not in BENCHMARK.json: its ~15 waves of ~2.5 s fixed cost each do not
    fit the per-run time budget next to the other workloads."""

    name = "crawl_waves"
    wave_budget = 100
    iteration_s = 40.0

    def setup(self, ctx: Ctx) -> None:
        self._make_web(ctx)

    def reference(self, ctx: Ctx) -> None:
        from marginaliasearch_spark.oracle import OracleCrawler

        oracle = OracleCrawler(self.web)
        self.ref = _oracle_digests({d: oracle.crawl_domain(d) for d in sorted(self.crawl_domains)})
        self._plant(ctx)

    def iteration(self, ctx: Ctx) -> Iteration:
        eng, out = self._engine(ctx)
        with ctx.tracer.span("crawl.init_run") as a:
            eng.init_run(self.domains, self.specs)
        layer = {"wave_files": 0, "wave_bytes": 0}
        before = _dir_stats(out) if ctx.tracer.enabled else (0, 0)
        walls, waves, wall = [], 0, a["dur"]
        while True:
            with ctx.tracer.span("crawl.run_waves") as w:
                n = eng.run_waves(
                    self.pages, wave_budget=self.wave_budget, max_waves=1, group_key="top_domain"
                )
                w["waves"] = n
            wall += w["dur"]
            if n == 0:
                break
            walls.append(w["dur"])
            waves += n
        if ctx.tracer.enabled:
            files, size = _dir_stats(out)
            layer.update(wave_files=files - before[0], wave_bytes=size - before[1])
        rb = self._readback(ctx, eng)
        return Iteration(
            calls=["crawl.init_run"] + ["crawl.run_waves"] * (waves + 1) + ["crawl.readback"],
            items=rb["visited"],
            item_wall=wall,
            out={"engine": eng, "out_dir": out, "waves": waves, "wave_walls": walls, **rb},
            layer=layer,
        )


# -- frontier admission ------------------------------------------------------

N_KEY_DOMAINS = 100_000
_DIGEST_MOD = 1_000_003


def url_keys(seed: int, ids: np.ndarray) -> tuple[list[str], np.ndarray]:
    """Generator-backed URLs and their canonical-URL hashes: Zipf-skewed
    domains (quadratic transform of a uniform hash of the id), the real
    ``canon.murmur`` URL hash."""
    from marginaliasearch_spark.canon.murmur import hash_url_parts_batch

    ids = np.asarray(ids, dtype=np.int64)
    u = ((ids * 2654435761) % (1 << 31)) / float(1 << 31)
    dom = (N_KEY_DOMAINS * u * u).astype(np.int64)
    domains = [f"site{d}.example.com" for d in dom]
    paths = [f"/s{seed}/p/{i}" for i in ids]
    urls = [f"https://{d}{p}" for d, p in zip(domains, paths)]
    return urls, hash_url_parts_batch(domains, paths, [None] * len(ids))


def _key_digest(keys: np.ndarray) -> tuple[int, int, int]:
    keys = np.asarray(keys, dtype=np.int64)
    xor = int(np.bitwise_xor.reduce(keys)) if len(keys) else 0
    return len(keys), xor, int(np.sum(keys % _DIGEST_MOD))


class FrontierAdmit(Workload):
    """Global URL-seen admission: candidate batches against a large
    seen-set, alternating probe-heavy and insert-heavy batches."""

    name = "frontier_admit"
    item = "key"
    iteration_s = 7.5
    n_template, n_batch, n_batches = 500_000, 100_000, 2
    smoke = (20_000, 5_000, 2)

    def __init__(self):
        self._k = 0

    def setup(self, ctx: Ctx) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq
        from marginaliasearch_spark.plans.frontier_dedup import FrontierDedup

        if ctx.smoke:
            self.n_template, self.n_batch, self.n_batches = self.smoke
        seed = ctx.seed
        spark = ctx.spark

        def gen(batches):
            for pdf in batches:
                ids = pdf["id"].to_numpy()
                urls, keys = url_keys(seed, ids)
                yield pd.DataFrame({"id": ids, "url": urls, "url_hash": keys})

        keys_path = ctx.path("inputs", "template_keys")
        with ctx.tracer.span("bench.template_keys"):
            (
                spark.range(0, self.n_template, numPartitions=os.cpu_count() or 1)
                .mapInPandas(gen, "id long, url string, url_hash long")
                .write.parquet(keys_path)
            )
        t = pq.read_table(keys_path, columns=["id", "url_hash"])
        self.template_keys = np.empty(self.n_template, dtype=np.int64)
        self.template_keys[t.column("id").to_numpy()] = t.column("url_hash").to_numpy()

        self.template = ctx.path("template")
        with ctx.tracer.span("frontier_dedup.ingest", kind="template"):
            FrontierDedup(spark, self.template).ingest(
                spark.read.parquet(keys_path).select("url", "url_hash")
            )

        rng = np.random.default_rng([seed, 1])
        self.batches = []
        next_id = self.n_template
        for b in range(self.n_batches):
            kind = "mostly_seen" if b % 2 == 0 else "mostly_new"
            n_seen = int(self.n_batch * (0.9 if kind == "mostly_seen" else 0.1))
            seen_ids = rng.choice(self.n_template, n_seen, replace=False)
            new_ids = np.arange(next_id, next_id + self.n_batch - n_seen, dtype=np.int64)
            next_id += len(new_ids)
            ids = rng.permutation(np.concatenate([seen_ids, new_ids]))
            urls, keys = url_keys(seed, ids)
            path = ctx.path("inputs", f"batch-{b}.parquet")
            pq.write_table(pa.table({"url": urls, "url_hash": keys}), path)
            self.batches.append({"kind": kind, "path": path, "keys": keys})

    def reference(self, ctx: Ctx) -> None:
        seen = np.unique(self.template_keys)
        self.ref = []
        for b in self.batches:
            acc = np.setdiff1d(b["keys"], seen)
            seen = np.union1d(seen, acc)
            self.ref.append(_key_digest(acc))
        if ctx.plant_failure:
            n, x, s = self.ref[0]
            self.ref[0] = (n, x ^ 1, s)

    def iteration(self, ctx: Ctx) -> Iteration:
        from marginaliasearch_spark.plans.frontier_dedup import FrontierDedup

        root = ctx.path("runs", f"dedup-{self._k:04d}")
        self._k += 1
        with ctx.tracer.span("bench.copy_template"):
            shutil.copytree(self.template, root)
        base = _dir_stats(root)
        fd = FrontierDedup(ctx.spark, root)
        accepted, walls = [], []
        for b in self.batches:
            with ctx.tracer.span("frontier_dedup.ingest", kind=b["kind"]) as s:
                acc = fd.ingest(ctx.spark.read.parquet(b["path"]))
            accepted.append(acc)
            walls.append(s["dur"])
        return Iteration(
            calls=["frontier_dedup.ingest"] * len(self.batches),
            items=self.n_batch * len(self.batches),
            item_wall=sum(walls),
            out={"root": root, "base_bytes": base[1], "accepted": accepted, "store": fd},
        )

    def check(self, ctx: Ctx, it: Iteration) -> dict[str, str]:
        from pyspark.sql import functions as F

        bad = {}
        counts = []
        for i, acc in enumerate(it.out["accepted"]):
            r = acc.agg(
                F.count("*").alias("n"),
                F.bit_xor("url_hash").alias("x"),
                F.sum(F.pmod("url_hash", F.lit(_DIGEST_MOD))).alias("s"),
            ).collect()[0]
            got = (int(r["n"]), int(r["x"] or 0), int(r["s"] or 0))
            counts.append(got[0])
            if got != self.ref[i]:
                bad[f"frontier_dedup.ingest#{i}"] = f"accepted keys {got} != reference {self.ref[i]}"
        m = it.out["store"]._load()
        it.layer.update(
            accepted=sum(counts),
            root_bytes=_dir_stats(it.out["root"])[1] - it.out["base_bytes"],
            filter_bytes=_dir_stats(m["blooms_path"])[1],
            seen_files=sum(_dir_stats(p)[0] for p in m["seen_paths"]),
        )
        return bad

    def finish(self, ctx: Ctx, it: Iteration) -> None:
        super().finish(ctx, it)
        shutil.rmtree(it.out["root"], ignore_errors=True)

    def layer_metrics(self, iters, spans, spark_by_span) -> dict:
        ingests = timed_calls(spans, "frontier_dedup.ingest")
        keys = sum(it.items for it in iters)
        return {
            "frontier_dedup.ingest_mostly_seen_s": _median(
                [s["dur"] for s in ingests if s.get("kind") == "mostly_seen"]
            ),
            "frontier_dedup.ingest_mostly_new_s": _median(
                [s["dur"] for s in ingests if s.get("kind") == "mostly_new"]
            ),
            "frontier_dedup.jobs_per_ingest": _spark_sum(ingests, spark_by_span, "jobs") / max(len(ingests), 1),
            "frontier_dedup.accepted_frac": sum(it.layer["accepted"] for it in iters) / max(keys, 1),
            "frontier_dedup.filter_bytes": _median([it.layer["filter_bytes"] for it in iters]),
            "frontier_dedup.seen_files": _median([it.layer["seen_files"] for it in iters]),
            "out_bytes_per_item": sum(it.layer["root_bytes"] for it in iters) / max(keys, 1),
        }


# -- corpus composition ------------------------------------------------------

_REPLICA_SHIFT = 1_000_000
_COPY_SHIFT = 100_000  # the prefix-copy id offset compose_keepset_sql uses


def _documents(seed: int, n_docs: int) -> pd.DataFrame:
    """Replica 0: ``n_docs`` texts over a large random vocabulary (so the
    exact all-pairs oracle stays cheap), 5 % of them exact duplicates of
    others, plus the 90 %-prefix copy of every text."""
    rng = np.random.default_rng([seed, 2])
    letters = np.array(list(string.ascii_lowercase))
    vocab = np.array(["".join(rng.choice(letters, n)) for n in rng.integers(3, 10, 50_000)])
    n_dup = n_docs // 20
    texts = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in rng.integers(8, 90, n_docs - n_dup)]
    texts += [texts[j] for j in rng.choice(len(texts), n_dup, replace=False)]
    ids = np.arange(n_docs, dtype=np.int64)
    copies = [t[: int(math.floor(len(t) * 0.9))] for t in texts]
    return pd.DataFrame(
        {
            "doc_id": np.concatenate([ids, ids + _COPY_SHIFT]),
            "text": texts + copies,
        }
    )


def _cipher(seed: int, replica: int) -> dict:
    perm = np.random.default_rng([seed, 3, replica]).permutation(26)
    return str.maketrans(string.ascii_lowercase, "".join(string.ascii_lowercase[p] for p in perm))


class CorpusCompose(Workload):
    """Enrichment and training-set composition over documents and their
    90 %-prefix copies, lengthened with letter-cipher replicas.

    Not in BENCHMARK.json: its many small Spark jobs make its wall follow
    the load of a shared host more than the bound allows."""

    name = "corpus_compose"
    item = "doc"
    iteration_s = 3.0
    warm_ups = 5
    n_docs, replicas = 1000, 3
    smoke = (150, 2)

    def setup(self, ctx: Ctx) -> None:
        from pyspark.sql import types as T

        if ctx.smoke:
            self.n_docs, self.replicas = self.smoke
        base = _documents(ctx.seed, self.n_docs)
        parts = []
        for r in range(self.replicas):
            d = base.copy()
            d["doc_id"] += r * _REPLICA_SHIFT
            if r:
                d["text"] = d["text"].str.translate(_cipher(ctx.seed, r))
            parts.append(d)
        docs = pd.concat(parts, ignore_index=True)
        # the seed also sets the row order
        docs = docs.iloc[np.random.default_rng([ctx.seed, 4]).permutation(len(docs))]
        docs["url"] = [f"https://site{i % 97}.example.org/doc/{i}" for i in docs["doc_id"]]
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("url", T.StringType()),
                T.StructField("text", T.StringType()),
            ]
        )
        self.base = base
        self.docs = _to_parquet(ctx, docs, schema, "documents")
        self.n_rows = len(docs)

    def reference(self, ctx: Ctx) -> None:
        import duckdb
        from marginaliasearch_spark.oracle.sqlgen import compose_keepset_sql

        tmp = ctx.path("duckdb-tmp")
        con = duckdb.connect(config={"threads": os.cpu_count() or 1, "temp_directory": tmp})
        try:
            originals = self.base[self.base["doc_id"] < _COPY_SHIFT]
            con.register("documents", originals)
            keep = con.execute(compose_keepset_sql(0.6)).fetchnumpy()["doc_id"]
            con.register("allv", self.base)
            dups = con.execute(
                "SELECT count(*) - count(DISTINCT md5(text)) FROM allv"
            ).fetchone()[0]
        finally:
            con.close()
            shutil.rmtree(tmp, ignore_errors=True)
        keep = np.sort(np.asarray(keep, dtype=np.int64))
        self.ref_keep = np.sort(
            np.concatenate([keep + r * _REPLICA_SHIFT for r in range(self.replicas)])
        )
        self.ref_dups = int(dups) * self.replicas
        if ctx.plant_failure:
            self.ref_keep = self.ref_keep[1:]

    def iteration(self, ctx: Ctx) -> Iteration:
        from pyspark.sql import functions as F
        from marginaliasearch_spark.plans.corpus_pipeline import (
            compose_training_set,
            enrich_corpus,
        )

        with ctx.tracer.span("corpus.enrich") as e:
            r = (
                enrich_corpus(self.docs.select("url", "text"))
                .agg(F.count("*").alias("n"), F.sum("is_dup_copy").alias("dups"))
                .collect()[0]
            )
        gate_shape = self.docs.select(
            "doc_id",
            "text",
            F.length("text").cast("long").alias("quality_score"),
            F.lit(0).alias("is_dup_copy"),
        )
        with ctx.tracer.span("corpus.compose") as c:
            kept = (
                compose_training_set(gate_shape, near_dup_threshold=0.6, id_col="doc_id")
                .select("doc_id")
                .toArrow()
            )
        return Iteration(
            calls=["corpus.enrich", "corpus.compose"],
            items=self.n_rows,
            item_wall=e["dur"] + c["dur"],
            out={"rows": int(r["n"]), "dups": int(r["dups"] or 0), "kept": kept.column(0).to_numpy()},
        )

    def check(self, ctx: Ctx, it: Iteration) -> dict[str, str]:
        bad = {}
        if (it.out["rows"], it.out["dups"]) != (self.n_rows, self.ref_dups):
            bad["corpus.enrich"] = (
                f"rows/exact-dups {it.out['rows']}/{it.out['dups']} != "
                f"reference {self.n_rows}/{self.ref_dups}"
            )
        kept = np.sort(np.asarray(it.out["kept"], dtype=np.int64))
        if not np.array_equal(kept, self.ref_keep):
            bad["corpus.compose"] = (
                f"keep-set of {len(kept)} ids differs from the reference's {len(self.ref_keep)}"
            )
        return bad

    def layer_metrics(self, iters, spans, spark_by_span) -> dict:
        composes = timed_calls(spans, "corpus.compose")
        return {
            "corpus.enrich_s": _median([s["dur"] for s in timed_calls(spans, "corpus.enrich")]),
            "corpus.compose_s": _median([s["dur"] for s in composes]),
            "corpus.jobs_per_compose": _spark_sum(composes, spark_by_span, "jobs") / max(len(composes), 1),
            "corpus.kept_frac": sum(len(it.out["kept"]) for it in iters) / max(sum(it.items for it in iters), 1),
        }


WORKLOADS = {w.name: w for w in (RecrawlOneshot, FrontierAdmit, CorpusCompose, CrawlWaves)}


def wave_walls(iters: list[Iteration]) -> list[float]:
    return [w for it in iters for w in it.out.get("wave_walls", [])]


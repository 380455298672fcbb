#!/usr/bin/env python
"""Gate-scale ladder: run the full driver correctness gate at sf1.0.

The driver checks every ``__spark_entry__.queries()`` entry against its
``oracle_sql()`` at sf0.01.  This tool re-runs the identical compare at a
10x-of-sf0.1 corpus ("sf1.0") to catch scale-dependent drift — window
ties, hash folds, sampling thresholds, LSH bucket caps — that a small
corpus cannot exercise.

The sf1.0 corpus is synthesized deterministically (seed 42), no external
data:

* TPC-H-ish tables (``customer supplier part orders lineitem events``):
  10 replicas of the driver's sf0.1 parquet with every key column
  shifted by ``replica * 1_000_000`` (all sf0.1 keys are < 10^6, so
  replicas never collide and FK joins stay consistent within a replica).
  ``region``/``nation`` are dimensions and stay single-copy.
* ``documents``: 50,000 fresh word-soup texts with the driver's
  lang/source/length structure and exact-duplicate rows planted at the
  driver's observed rate (~1/625).  The vocabulary is the driver's 31
  words x 100 numeric suffixes (3,100 words): the driver's raw 31-word
  vocabulary yields a tiny shingle pool whose per-shingle document
  frequency grows linearly with corpus size, which makes the EXACT
  shingle-self-join oracles (Σ df² work) quadratic in corpus scale —
  an oracle-cost artifact, not an engine limit (the engine side is
  banded/blocked by design).
* ``embeddings``: 20,000 fresh unit-normalized 64-dim float32 vectors
  with 10 random labels (the sf0.1 embeddings are statistically uniform
  on the sphere; measured centroid norm ~0.06).
* ``quad/``: 5,000-document / 2,000-embedding slices of the same tables
  — sf0.1-sized, i.e. 10x the sf0.01 gate norm.  The gates whose DUCKDB
  ORACLES are irreducibly all-pairs/self-join quadratic (QUAD_GATES) run
  against this slice; every other gate runs at the full 100x.

Because every gate's oracle RECOMPUTES the expected answer from the same
parquet in DuckDB, synthesized inputs need structural — not bitwise —
fidelity to the driver's generator.

Usage:
    python tools/gate_ladder.py --build          # synthesize /tmp corpus
    python tools/gate_ladder.py --run            # all gates -> JSON
    python tools/gate_ladder.py --run simhash_pairs minhash_lsh_pairs
Env:
    GATE_LADDER_DIR  corpus dir   (default /tmp/spark_graft_sf1)
    GATE_LADDER_SRC  sf0.1 source parquet dir for --build
                     (default /root/testdata/sf0.1)
    GATE_LADDER_OUT  result json  (default CORRECTNESS_sf1.json in cwd)
    GATE_LADDER_CPUS local[N]     (default 32)
"""

from __future__ import annotations

import argparse
import datetime
import decimal
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

LADDER_DIR = os.environ.get("GATE_LADDER_DIR", "/tmp/spark_graft_sf1")
SRC_DIR = os.environ.get("GATE_LADDER_SRC", "/root/testdata/sf0.1")
N_REPLICAS = 10
SHIFT = 1_000_000

def _make_vocab(n: int = 3100, seed: int = 7) -> list:
    """n distinct random lowercase words (3-9 letters), seeded.

    Stems must NOT be shared between words: a char-shingle inside a stem
    common to many words has document frequency ~ the whole corpus, and
    the exact-oracle shingle self-join does Σ df² work — shared stems
    alone push that to 10^9+ even on the quad slice."""
    import numpy as np

    rng = np.random.default_rng(seed)
    seen: set = set()
    out: list = []
    letters = "abcdefghijklmnopqrstuvwxyz"
    while len(out) < n:
        w = "".join(
            letters[j] for j in rng.integers(0, 26, size=int(rng.integers(3, 10)))
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


VOCAB = _make_vocab()

# gates whose DuckDB oracle is an irreducible all-pairs / shingle
# self-join (O(n²) or Σ df² in corpus size) — these run on the quad/
# slice (10x gate scale); the engine-side plans are banded/blocked and
# scale fine, it is the EXACT oracle that cannot
QUAD_GATES = {
    "minhash_lsh_pairs",
    "compose_training_set",
    "simhash_pairs",
    "ngram_jaccard_pairs",
    "near_dup_groups",
    "embedding_near_dup",
}
QUAD_DOCS = 5_000
QUAD_VECS = 2_000

REPLICATED = {
    # table -> key columns to shift per replica
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}
DIMENSIONS = ["region", "nation"]


def build(dst: str = LADDER_DIR) -> None:
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()

    for t in DIMENSIONS:
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC_DIR}/{t}.parquet')) "
            f"TO '{dst}/{t}.parquet' (FORMAT parquet)"
        )

    for t, keys in REPLICATED.items():
        cols = [c[0] for c in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet('{SRC_DIR}/{t}.parquet')"
        ).fetchall()]
        sel = ", ".join(
            f"{c} + r.k * {SHIFT} AS {c}" if c in keys else c for c in cols
        )
        con.execute(
            f"COPY (SELECT {sel} "
            f"FROM read_parquet('{SRC_DIR}/{t}.parquet'), "
            f"(SELECT unnest(range({N_REPLICAS})) AS k) r) "
            f"TO '{dst}/{t}.parquet' (FORMAT parquet)"
        )
        print(f"  {t}: replicated x{N_REPLICAS}")

    # -- documents ---------------------------------------------------------
    rng = np.random.default_rng(42)
    n = 50_000
    langs = rng.choice(
        ["en", "zh", "es", "fr", "de"], size=n, p=[0.41, 0.15, 0.15, 0.15, 0.14]
    )
    vocab = np.array(VOCAB)
    n_words = rng.integers(7, 97, size=n)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), size=w)]) for w in n_words
    ]
    dup_idx = rng.choice(np.arange(1, n), size=n // 625, replace=False)
    for i in dup_idx:
        texts[i] = texts[int(rng.integers(0, i))]
    tbl = pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, f"{dst}/documents.parquet")
    print(f"  documents: {n} rows, {len(dup_idx)} planted exact dups")

    # -- embeddings --------------------------------------------------------
    m, dim = 20_000, 64
    vecs = rng.standard_normal((m, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tbl = pa.table(
        {
            "vec_id": pa.array(np.arange(m), pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, size=m), pa.int32()),
        }
    )
    pq.write_table(tbl, f"{dst}/embeddings.parquet")
    print(f"  embeddings: {m} x {dim}")

    # quad/ slice: sf0.1-sized documents+embeddings for the gates whose
    # oracle is all-pairs quadratic
    qd = os.path.join(dst, "quad")
    os.makedirs(qd, exist_ok=True)
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{dst}/documents.parquet')"
        f" WHERE doc_id < {QUAD_DOCS})"
        f" TO '{qd}/documents.parquet' (FORMAT parquet)"
    )
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{dst}/embeddings.parquet')"
        f" WHERE vec_id < {QUAD_VECS})"
        f" TO '{qd}/embeddings.parquet' (FORMAT parquet)"
    )
    print(f"  quad/: documents {QUAD_DOCS}, embeddings {QUAD_VECS}")


# -- compare (identical discipline to the driver gate / tests/test_entry.py)


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return str(v.normalize())
    if isinstance(v, float):
        return round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return v


def _rows_to_set(rows, colnames):
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def run(names=None, sf_dir: str = LADDER_DIR, out_json: str | None = None):
    import duckdb

    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    cpus = os.environ.get("GATE_LADDER_CPUS", "32")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("gate-ladder-sf1")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "48g")
        .getOrCreate()
    )
    quad_dir = os.path.join(sf_dir, "quad")
    if not os.path.isdir(quad_dir):
        # no slice built for this corpus (e.g. driving the driver-scale
        # sf0.01 tables directly) — quad gates run on the main dir
        quad_dir = sf_dir

    def _connect(docs_dir: str) -> "duckdb.DuckDBPyConnection":
        c = duckdb.connect()
        for t in DIMENSIONS + list(REPLICATED):
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for t in ("documents", "embeddings"):
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{docs_dir}/{t}.parquet')"
            )
        return c

    con_full = _connect(sf_dir)
    con_quad = _connect(quad_dir)

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    picked = names or sorted(queries)
    results: dict[str, dict] = {}
    for name in picked:
        quad = name in QUAD_GATES
        con = con_quad if quad else con_full
        gate_dir = quad_dir if quad else sf_dir
        t0 = time.perf_counter()
        rec: dict = {"err": None, "scale": "10x" if quad else "100x"}
        try:
            sdf = queries[name](spark, gate_dir)
            spark_cols = sdf.columns
            spark_rows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(spark_rows)
            if name in oracles:
                cur = con.execute(oracles[name])
                o_cols = [d[0] for d in cur.description]
                o_rows = cur.fetchall()
                rec["oracle_rows"] = len(o_rows)
                rec["rows_match"] = len(spark_rows) == len(o_rows)
                rec["schema_match"] = sorted(spark_cols) == sorted(o_cols)
                rec["hash_match"] = rec["schema_match"] and _rows_to_set(
                    spark_rows, spark_cols
                ) == _rows_to_set(o_rows, o_cols)
            else:
                rec["rows_only"] = True
        except Exception as ex:  # noqa: BLE001 — record, keep laddering
            rec["err"] = repr(ex)[:400]
        rec["sec"] = round(time.perf_counter() - t0, 2)
        results[name] = rec
        # 52 queries share one session: release per-query persisted
        # subtrees (LSH/simhash signatures, filter probe intermediates)
        spark.catalog.clearCache()
        status = (
            "ERR"
            if rec["err"]
            else ("ok" if rec.get("hash_match", rec.get("rows_only")) else "MISMATCH")
        )
        print(f"  {name}: {status} ({rec['sec']}s)", flush=True)

    out = out_json or os.environ.get("GATE_LADDER_OUT", "CORRECTNESS_sf1.json")
    with open(out, "w") as f:
        json.dump({"sf": 1.0, "sf_dir": sf_dir, "results": results}, f, indent=1)
    n_green = sum(
        1
        for r in results.values()
        if not r["err"] and r.get("hash_match", r.get("rows_only"))
    )
    print(f"{n_green}/{len(results)} green -> {out}")
    spark.stop()
    return results


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--build", action="store_true")
    ap.add_argument("--run", action="store_true")
    ap.add_argument("names", nargs="*", help="subset of gate names")
    args = ap.parse_args()
    if args.build:
        build()
    if args.run:
        run(args.names or None)
    if not args.build and not args.run:
        ap.error("pass --build and/or --run")

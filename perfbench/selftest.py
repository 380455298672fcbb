#!/usr/bin/env python3
"""Self-test of the benchmark (a few minutes on 4 cores).

    python3 perfbench/selftest.py

- BENCHMARK.json declares the metrics run.py reports, and only workloads
  run.py knows;
- every workload runs at its smoke size, untraced and traced, with its
  output checks on, and reports exactly the declared metrics;
- a corrupted reference value makes every workload report a failure and
  exit non-zero;
- without the package next to it, the benchmark exits non-zero without
  printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.run import END_TO_END, OUT, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=180,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    if proc.returncode not in (0, 1) or result is None:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, result


def main() -> int:
    failures = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            failures.append(what)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for key, declared in (("end_to_end", END_TO_END), ("per_layer", PER_LAYER)):
        got = [(m["name"], m["unit"], m["better"]) for m in bench[key]]
        expect(got == declared, f"BENCHMARK.json {key} matches run.py")
    expect(
        {w["name"] for w in bench["workloads"]} <= set(WORKLOADS),
        "BENCHMARK.json workloads are known to run.py",
    )

    smoke = ["--seed", "1", "--seconds", "1", "--smoke"]
    for name in WORKLOADS:
        for trace, declared in ((0, END_TO_END), (1, PER_LAYER)):
            code, res = run(["--workload", name, "--trace", str(trace), *smoke])
            expect(
                code == 0 and res is not None and res["correct"] and res["failed"] == 0
                and res["attempted"] >= 1
                and list(res["metrics"]) == [m for m, _, _ in declared],
                f"{name} smoke, trace {trace}: correct, declared metrics",
            )
        code, res = run(["--workload", name, "--trace", "0", "--plant-failure", *smoke])
        expect(
            code != 0 and res is not None and not res["correct"] and res["failed"] > 0,
            f"{name} with a corrupted reference: failed > 0, exit {code}",
        )

    bare = os.path.join(OUT, "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    code, res = run(["--workload", "recrawl_oneshot", "--trace", "0", *smoke], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    expect(code != 0 and res is None, f"without the package: exit {code}, no result")

    print(f"{len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

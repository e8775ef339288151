"""Self-checks of the benchmark itself.

    python3 perfbench/selfcheck.py

1. Seeds: a different seed changes the statement order (duckdb_sql), the
   DML predicates (lakehouse_dml) and the document subset
   (dedup_pipeline); the same seed reproduces them.
2. Repeatability: two traced runs with the same seed report identical
   counts for exec.jobs, dialect.tokenize_calls, dedup.candidate_pairs
   and snapshots.files_written.
3. Coverage: on dedup_pipeline the traced stage times sum to within 10%
   of the untraced pass time (``dedup.coverage_pct`` in [90, 110]). Its
   traced runs use BENCHMARK.json's ``run_seconds``, so the passes they
   compare are as warm as in a benchmark run; the other workloads' runs
   take one round, so that their state, and with it every count, repeats.
4. The result check catches a corrupted result: a run with ``--corrupt``
   reports ``"correct": false``.

Run from the root of a checkout; exits non-zero when a check fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("duckdb_sql", "lakehouse_dml", "dedup_pipeline")
COUNTS = ("exec.jobs", "dialect.tokenize_calls", "dedup.candidate_pairs",
          "snapshots.files_written")


class _Ctx:
    def __init__(self, seed: int) -> None:
        self.seed = seed


class _StubEngine:
    _versioned = {"orders_v": "orders_v"}

    def table_history(self, name):
        return [{"version": 1}]


def seed_plan(name: str, seed: int):
    """What the seed decides for a workload, computed without Spark."""
    import workloads as w

    if name == "duckdb_sql":
        return [op.label for op in w.DuckdbSql(_Ctx(seed)).round(0)]
    if name == "lakehouse_dml":
        wl = w.LakehouseDml(_Ctx(seed))
        wl.ctx.engine = _StubEngine()
        wl.version = wl.base_version = 1
        wl.cycle = 0
        wl.table_dir = "orders_v"
        return [op.text for op in wl.round(0)]
    return list(w.subset_rows(seed, 5000, w.DedupPipeline.subset))


def run(workload: str, seed: int, seconds: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), *extra]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=400, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    sys.path[:0] = [os.getcwd(), HERE]
    bad = []
    for name in WORKLOADS:
        a, a2, b = seed_plan(name, 11), seed_plan(name, 11), seed_plan(name, 12)
        ok = a == a2 and a != b
        print(f"seed     {name:15s} same seed same plan, new seed new plan: {ok}")
        bad += [] if ok else [f"seed {name}"]
    with open("BENCHMARK.json") as f:
        run_seconds = json.load(f)["run_seconds"]
    for name in WORKLOADS:
        sec = run_seconds if name == "dedup_pipeline" else 1
        r1, r2 = run(name, 11, sec, "--trace", "1"), run(name, 11, sec, "--trace", "1")
        got = {k: (r1["metrics"][k]["value"], r2["metrics"][k]["value"]) for k in COUNTS}
        ok = all(x == y for x, y in got.values())
        print(f"repeat   {name:15s} {got}: {ok}")
        bad += [] if ok else [f"repeat {name}"]
        if name == "dedup_pipeline":
            cov = [r["metrics"]["dedup.coverage_pct"]["value"] for r in (r1, r2)]
            ok = all(90.0 <= c <= 110.0 for c in cov)
            print(f"coverage {name:15s} traced stages / untraced pass, % {cov}: {ok}")
            bad += [] if ok else [f"coverage {name}"]
        caught = run(name, 11, 1, "--trace", "0", "--corrupt")["correct"] is False
        print(f"corrupt  {name:15s} corrupted result caught: {caught}")
        bad += [] if caught else [f"corrupt {name}"]
    print("selfcheck:", "FAILED " + ", ".join(bad) if bad else "ok")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

"""Engine benchmark: end-to-end and per-layer metrics for three workloads.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload duckdb_sql --seed 1 --seconds 10 --trace 0

One Python process drives the public API with one client in a closed
loop (the next op is sent only after the previous one finished) against
Spark ``local[k]``, k = min(4, nproc), with k shuffle partitions. The run
generates its tables, sets up (Spark session, ``Engine()``, fixture
registration, CTAS, one warm-up round), then runs whole rounds of ops
until ``--seconds`` have passed, checks every result against DuckDB and
prints one JSON object as the last line of standard output:

* ``--trace 0``: the end-to-end metrics of BENCHMARK.json;
* ``--trace 1``: the per-layer metrics. After the same untraced window,
  exactly one traced round (two for ``dedup_pipeline``) runs in the same
  process, each one right after an untraced reference round, with spans
  written under ``perfbench/.work/traces/``; the tracing overhead is the
  traced rounds' ``op_ms_p50`` against the reference rounds'.

A line before it carries the run stamp (load, CPU count, versions) and
any failed ops. Everything the run writes stays under
``perfbench/.work/``; the per-run part of it is removed at exit, after
the Spark JVM and every process under the run have ended.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(HERE, ".work")


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int) -> dict[int, str]:
    """pid -> start time of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    started: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (st := _stat(int(d))) is not None:
            children.setdefault(int(st[1]), []).append(int(d))
            started[int(d)] = st[19]
    out: dict[int, str] = {}
    stack = [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out[c] = started[c]
            stack.append(c)
    return out


def wait_gone(procs: dict[int, str], timeout: float = 30.0) -> None:
    """Wait until each process has ended; SIGKILL what outlives ``timeout``."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        left = [p for p, start in procs.items()
                if (st := _stat(p)) is not None and st[0] != "Z" and st[19] == start]
        if not left:
            return
        if not killed and time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            killed = True
        time.sleep(0.05)


def stop_spark() -> None:
    """Stop Spark, end its JVM (which ends the Python workers it forked)
    and wait for every process started under this one to be gone."""
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # do not cut the clean-up short
    pyspark = sys.modules.get("pyspark")
    if pyspark is None:
        return
    sc_cls = pyspark.SparkContext
    procs = descendants(os.getpid())
    try:
        if sc_cls._active_spark_context is not None:
            sc_cls._active_spark_context.stop()
    finally:
        gateway = sc_cls._gateway
        proc = getattr(gateway, "proc", None)
        procs.update(descendants(os.getpid()))
        if proc is not None:
            # the gateway server exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        wait_gone(procs)


class Context:
    """What a workload needs: the session, the engine, its seed and dirs."""

    def __init__(self, spark, engine, seed: int, workdir: str) -> None:
        self.spark = spark
        self.engine = engine
        self.seed = seed
        self.workdir = workdir

    @staticmethod
    def data_dir(sf: float) -> str:
        import datagen

        return datagen.ensure(os.path.join(WORK, "data"), sf)


def start_spark(k: int, workdir: str):
    from pyspark.sql import SparkSession

    from duckdb_read_spark.conf import RUNTIME_CONFS

    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    b = (
        SparkSession.builder.master(f"local[{k}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(k))
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "spark-warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    )
    for key, val in RUNTIME_CONFS.items():
        b = b.config(key, val)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def closed_loop(wl, rounds_or_seconds, runner, first_round: int = 0,
                before=None, after=None):
    """Run whole rounds; ``rounds_or_seconds`` is ("rounds", n) or
    ("seconds", s). ``before(op)`` and ``after(op, rec)`` run outside the
    op's timed region. Returns (records, (op, result) pairs, window s)."""
    recs: list[dict] = []
    done: list = []
    mode, limit = rounds_or_seconds
    t_start = time.perf_counter()
    r = first_round
    while True:
        for op in wl.round(r):
            rec = {"kind": op.kind, "label": op.label, "round": r}
            if before is not None:
                before(op)
            t0 = time.perf_counter()
            try:
                result = runner(op, rec)
                rec["error"] = None
            except Exception as exc:  # an op that raises counts as failed
                result = None
                rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            rec["op_s"] = time.perf_counter() - t0
            rec.setdefault("prepare_s", rec["op_s"])
            if after is not None:
                after(op, rec)
            recs.append(rec)
            done.append((op, result))
        r += 1
        elapsed = time.perf_counter() - t_start
        if (mode == "rounds" and r - first_round >= limit) or \
                (mode == "seconds" and elapsed >= limit):
            return recs, done, elapsed


def grade(wl, recs, done) -> list[str | None]:
    """Mark each record's failure (None when correct)."""
    ok_done = [(op, res) for (op, res), rec in zip(done, recs) if rec["error"] is None]
    verdicts = iter(wl.check(ok_done) if ok_done else [])
    out = []
    for rec in recs:
        out.append(rec["error"] if rec["error"] is not None else next(verdicts))
    return out


def end_to_end(recs, window_s, setup_s) -> dict:
    from layers import p50

    ops_ms = [r["op_s"] * 1000 for r in recs]
    prep_ms = [r["prepare_s"] * 1000 for r in recs]
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "op_ms_p50": {"value": p50(ops_ms), "unit": "ms"},
        "prepare_ms_p50": {"value": p50(prep_ms), "unit": "ms"},
        "ops_per_s": {"value": len(recs) / window_s, "unit": "1/s"},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true",
                    help="perturb one result before checking (self-check of the checker)")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(ROOT, "duckdb_read_spark")):
        print(f"perfbench: no duckdb_read_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    load_start = os.getloadavg()[0]
    nproc = os.cpu_count() or 1
    k = min(4, nproc)
    workdir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    # keep every temp file (package zip, warehouse dirs, Python workers)
    # inside the checkout
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    import tempfile

    tempfile.tempdir = None
    try:
        Context.data_dir(WORKLOADS[args.workload].sf)  # generate before timing

        t0 = time.perf_counter()
        spark = start_spark(k, workdir)
        t1 = time.perf_counter()
        from duckdb_read_spark import Engine

        engine = Engine(spark=spark, warehouse_dir=os.path.join(workdir, "warehouse"))
        t2 = time.perf_counter()
        wl = WORKLOADS[args.workload](Context(spark, engine, args.seed, workdir))
        wl.register()
        t3 = time.perf_counter()
        wl.prepare_state()
        wl.warmup()
        t4 = time.perf_counter()
        setup = {"spark_s": t1 - t0, "engine_init_ms": (t2 - t1) * 1000,
                 "register_ms": (t3 - t2) * 1000, "state_warmup_s": t4 - t3}
        setup_s = t4 - t0

        recs, done, window_s = closed_loop(wl, ("seconds", args.seconds), wl.execute)
        phase_recs: list[dict] = []
        if args.trace:
            from layers import TracedRun

            traced = TracedRun(wl, setup)
            phase_recs, phase_done = traced.window(closed_loop, recs[-1]["round"] + 1)
            done += phase_done
        all_recs = recs + phase_recs
        if args.corrupt and done:
            op, res = done[-1]
            done[-1] = (op, ({**res, "exact": [("corrupted",)]} if isinstance(res, dict)
                             else [("corrupted",)]))
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        verdicts = grade(wl, all_recs, done)
        if args.trace:
            metrics = traced.metrics(phase_recs)
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            traced.tracer.write(os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        try:
            stop_spark()
        finally:
            shutil.rmtree(workdir, ignore_errors=True)

    failed = [(r["label"], v) for r, v in zip(all_recs, verdicts) if v is not None]
    unexpected = [(lab, v) for lab, v in failed if lab not in wl.known_failures]
    import duckdb
    import pyspark

    stamp = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "load1_start": load_start, "load1_end": os.getloadavg()[0],
        "nproc": nproc, "k": k, "spark": pyspark.__version__,
        "duckdb": duckdb.__version__, "python": platform.python_version(),
        "ops": len(recs), "rounds": len({r["round"] for r in recs}),
        "window_s": window_s, "setup": setup,
        "traced_ops": sum(1 for r in phase_recs if r.get("traced")),
        "reference_ops": sum(1 for r in phase_recs if not r.get("traced")),
        "failures": sorted(set(failed)),
        "known_failures": wl.known_failures,
    }
    if args.trace:
        metrics["bench.fail_ratio"] = {"value": len(failed) / len(all_recs), "unit": "ratio"}
        metrics["bench.peak_rss_mb"] = {"value": rss, "unit": "MB"}
    else:
        metrics = end_to_end(recs, window_s, setup_s)
    out = {"correct": not unexpected, "attempted": len(all_recs),
           "failed": len(failed), "metrics": metrics}
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())

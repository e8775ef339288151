"""The traced run: one round of ops with spans and per-layer counters.

It runs in the same process right after the untraced window. Each
traced round is paired with one untraced reference round, in the order
reference, traced, traced, reference, ..., and the tracing overhead and
the dedup stage coverage are taken against the reference rounds: adjacent
rounds on the same JVM, so JIT warm-up that continues through the run
does not show as tracing overhead.

Layer names follow the package's modules: ``engine`` (``Engine.sql``),
``dialect`` (``to_spark_sql``), ``catalyst`` (Spark's parse, analyze,
optimize and plan phases), ``exec`` (Spark jobs, stages and tasks),
``snapshots`` (the commit path and versioned reads), ``dedup``
(``operators/dedup.py``) and ``catalog`` (fixture registration).

Everything expensive to read (job and stage info, plan metrics, the
direct ``to_spark_sql`` call, file listings) is read outside the op's
timed region; inside it the tracer only takes timestamps, reads the next
Spark job id and sets the op's job group.

The Catalyst, plan and translation figures need the DataFrame the op
returned to be the statement itself. A DML commit (INSERT, UPDATE,
DELETE) runs inside ``Engine.sql`` and returns an empty DataFrame, and
its text never reaches ``to_spark_sql``; so ``dialect.*``, ``engine.*``
(except ``init_ms``), ``catalyst.*`` and the plan-metric ``exec.*`` figures
cover only the reads (every statement of ``duckdb_sql``; range, time-travel,
``table_changes`` and ``delta_scan`` reads of ``lakehouse_dml``) and the
dedup passes. Job counts and ``exec.ms_p50`` cover every op.
"""

from __future__ import annotations

import os
import statistics
import time

from tracer import CallCounter, SparkProbe, Tracer, span_ms, union_ms
from workloads import rows_of

TRACE_ROUNDS = {"duckdb_sql": 1, "lakehouse_dml": 1, "dedup_pipeline": 2}
PLAN_KEYS = ("scan_rows", "files_read", "scan_bytes", "shuffle_bytes", "spill_bytes",
             "python_ms")
PHASES = ("parsing", "analysis", "optimization", "planning")


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _files(table_dir: str) -> dict[str, int]:
    out = {}
    for root, _dirs, names in os.walk(table_dir):
        for n in names:
            p = os.path.join(root, n)
            out[p] = os.path.getsize(p)
    return out


class TracedRun:
    def __init__(self, wl, setup: dict) -> None:
        from duckdb_read_spark import dialect

        self.wl = wl
        self.setup = setup
        self.ctx = wl.ctx
        self.tracer = Tracer()
        self.probe = SparkProbe(self.ctx.spark)
        self.dialect = dialect
        self.tok = CallCounter(dialect, "tokenize")
        self.sqlc = CallCounter(self.ctx.spark, "sql")
        self.n_ops = 0
        self.before_files: dict[str, int] = {}

    # -- inside the timed op ------------------------------------------------

    def _begin(self, op, rec):
        rec["op_index"] = self.tracer.op_id = self.n_ops
        self.n_ops += 1
        rec["group"] = f"perfbench-op-{rec['op_index']}"
        self.ctx.spark.sparkContext.setJobGroup(rec["group"], op.label)
        rec["first_job"] = self.probe.next_job_id()
        rec["t_start"] = time.time() * 1000
        rec["tok0"], rec["sql0"] = self.tok.calls, self.sqlc.calls

    def _end(self, rec):
        rec["end_job"] = self.probe.next_job_id()
        rec["t_end"] = time.time() * 1000
        rec["tokenize"] = self.tok.calls - rec.pop("tok0")
        rec["spark_sql"] = self.sqlc.calls - rec.pop("sql0")

    def run_sql(self, op, rec):
        self._begin(op, rec)
        with self.tracer.span("op", kind=op.kind, label=op.label):
            with self.tracer.span("engine.sql"):
                t0 = time.perf_counter()
                df = self.ctx.engine.sql(op.text, dialect="duckdb")
                rec["prepare_s"] = time.perf_counter() - t0
            rec["t_prepared"] = time.time() * 1000
            with self.tracer.span("exec.collect"):
                rows = rows_of(df)
        rec["df"] = df
        self._end(rec)
        return rows

    def run_pass(self, op, rec):
        rec["dedup_stages"] = []
        self._begin(op, rec)

        def hook(stage, call):
            j0 = self.probe.next_job_id()
            with self.tracer.span(f"dedup.{stage}") as s:
                t0 = time.perf_counter()
                with self.tracer.span("operator.call"):
                    df = call()
                prep = time.perf_counter() - t0
                with self.tracer.span("exec.collect"):
                    rows = rows_of(df)
            rec["dedup_stages"].append({"stage": stage, "ms": span_ms(s), "df": df,
                                        "jobs": self.probe.next_job_id() - j0,
                                        "rows": len(rows)})
            return rows, prep

        with self.tracer.span("op", kind=op.kind, label=op.label):
            got = self.wl.execute(op, rec, stage_hook=hook)
        self._end(rec)
        return got

    # -- outside the timed op -----------------------------------------------

    def before(self, op):
        if op.meta.get("commit"):
            self.before_files = _files(self.wl.table_dir)

    def after(self, op, rec):
        self.tracer.op_id = rec.get("op_index")
        self.ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        rec["commit"] = bool(op.meta.get("commit"))
        if rec["commit"]:
            now = _files(self.wl.table_dir)
            new = {p: s for p, s in now.items() if p not in self.before_files}
            rec["files_written"] = len(new)
            rec["bytes_written"] = sum(new.values())
            rec["version"] = op.meta["version"]
        elif op.text is not None:
            ck = self.ctx.engine._column_kinds(op.text)
            with self.tracer.span("dialect.translate") as s:
                self.dialect.to_spark_sql(op.text, column_kinds=ck)
            rec["translate_ms"] = span_ms(s)

    def window(self, closed_loop, first_round: int):
        """Run the traced rounds, each paired with an untraced reference
        round (ABBA order); returns every (record, done) in the order run,
        traced records marked."""
        runner = self.run_sql if self.wl.sql_ops else self.run_pass
        recs, done = [], []
        n = TRACE_ROUNDS[self.wl.name]
        for i, traced in enumerate(([False, True, True, False] * n)[:2 * n]):
            if traced:
                with self.tok, self.sqlc:
                    rr, dd, _ = closed_loop(self.wl, ("rounds", 1), runner,
                                            first_round=first_round + i,
                                            before=self.before, after=self.after)
                for rec in rr:
                    rec["traced"] = True
                    self._collect(rec)
            else:
                rr, dd, _ = closed_loop(self.wl, ("rounds", 1), self.wl.execute,
                                        first_round=first_round + i)
            recs += rr
            done += dd
        return recs, done

    def _collect(self, rec):
        if "end_job" not in rec:
            return  # the op raised
        jobs = self.probe.jobs_between(rec["first_job"], rec["end_job"], rec["group"])
        rec.update({k: jobs[k] for k in ("jobs", "stages", "tasks", "outside_group")})
        ivs = [(max(s, rec["t_start"]), min(e, rec["t_end"])) for s, e in jobs["intervals"]]
        rec["exec_ms"] = union_ms([iv for iv in ivs if iv[1] > iv[0]])
        if rec["commit"]:
            rec.pop("df")
            return  # its DataFrame is empty: no phases or plan of its own
        if rec.get("t_prepared"):
            after = [(max(s, rec["t_prepared"]), e) for s, e in ivs]
            rec["exec_after_ms"] = union_ms([iv for iv in after if iv[1] > iv[0]])
        phases = {p: 0.0 for p in PHASES}
        plan = {k: 0.0 for k in PLAN_KEYS}
        # a statement returns one DataFrame; a pass one per dedup stage
        for holder in rec.get("dedup_stages") or [rec]:
            df = holder.pop("df")
            for p, ms in SparkProbe.phases_ms(df).items():
                if p in phases:
                    phases[p] += ms
            pm = SparkProbe.plan_metrics(df)
            holder["max_join_rows"] = pm["max_join_rows"]
            for key in PLAN_KEYS:
                plan[key] += pm[key]
        rec["phases"] = phases
        rec["plan"] = plan

    # -- metrics --------------------------------------------------------------

    def metrics(self, all_recs) -> dict:
        recs = [r for r in all_recs if r.get("traced")]
        ref_op_p50 = p50([r["op_s"] * 1000 for r in all_recs if not r.get("traced")])
        ok = [r for r in recs if "jobs" in r]  # the ops that did not raise
        own = [r for r in ok if "phases" in r]  # ... and returned their own DataFrame
        m: dict[str, dict] = {}

        def put(name, value, unit):
            m[name] = {"value": float(value), "unit": unit}

        sql = [r for r in own if "translate_ms" in r]
        tr = [r["translate_ms"] for r in sql]
        put("dialect.translate_ms_p50", p50(tr), "ms")
        put("dialect.translate_ms_sum", sum(tr) / TRACE_ROUNDS[self.wl.name], "ms")
        put("dialect.tokenize_calls", mean([r["tokenize"] for r in sql]), "count")
        over = [r["prepare_s"] * 1000 - r["translate_ms"] - r["phases"]["parsing"]
                - r["phases"]["analysis"] for r in sql]
        put("engine.overhead_ms_p50", p50(over), "ms")
        put("engine.spark_sql_calls", mean([r["spark_sql"] for r in sql]), "count")
        put("engine.init_ms", self.setup["engine_init_ms"], "ms")
        put("catalog.register_ms", self.setup["register_ms"], "ms")
        for ph, name in zip(PHASES, ("parse", "analysis", "optimization", "planning")):
            put(f"catalyst.{name}_ms", p50([r["phases"][ph] for r in own]), "ms")
        put("exec.ms_p50", p50([r["exec_ms"] for r in ok]), "ms")
        for key in ("jobs", "stages", "tasks"):
            put(f"exec.{key}", mean([r[key] for r in ok]), "count")
        put("exec.jobs_outside_group", mean([r["outside_group"] for r in ok]), "count")
        for key, unit in (("scan_rows", "count"), ("files_read", "count"),
                          ("scan_bytes", "bytes"), ("shuffle_bytes", "bytes"),
                          ("spill_bytes", "bytes"), ("python_ms", "ms")):
            put(f"exec.{key}", mean([r["plan"][key] for r in own]), unit)
        self._snapshot_metrics(ok, put)
        self._dedup_metrics(ok, put, ref_op_p50)

        op_p50 = p50([r["op_s"] * 1000 for r in recs])
        put("bench.trace_overhead_pct", 100.0 * (op_p50 - ref_op_p50) / ref_op_p50, "%")
        if sql:
            cov = [100.0 * (r["prepare_s"] * 1000 + r["phases"]["optimization"]
                            + r["phases"]["planning"] + r.get("exec_after_ms", 0.0))
                   / (r["op_s"] * 1000) for r in sql]
        else:
            cov = [100.0 * sum(st["ms"] for st in r["dedup_stages"]) / (r["op_s"] * 1000)
                   for r in own]
        put("bench.coverage_pct", p50(cov), "%")
        return m

    def _snapshot_metrics(self, ok, put):
        def kind_p50(*kinds):
            return p50([r["op_s"] * 1000 for r in ok if r["kind"] in kinds])

        put("snapshots.insert_ms_p50", kind_p50("insert"), "ms")
        put("snapshots.update_ms_p50", kind_p50("update"), "ms")
        put("snapshots.delete_ms_p50", kind_p50("delete"), "ms")
        put("snapshots.read_ms_p50", kind_p50("read", "time_travel"), "ms")
        put("snapshots.cdf_ms", kind_p50("cdf"), "ms")
        put("snapshots.delta_read_ms", kind_p50("delta_read"), "ms")
        commits = [r for r in ok if "files_written" in r]
        put("snapshots.files_written", mean([r["files_written"] for r in commits]), "count")
        put("snapshots.bytes_written", mean([r["bytes_written"] for r in commits]), "bytes")
        write_amp = space_amp = read_log_ms = versions = 0.0
        if commits:
            from duckdb_read_spark import snapshots

            td = self.wl.table_dir
            live = snapshots.snapshot_file_entries(td)
            live_bytes = sum(os.path.getsize(os.path.join(td, e["path"])) for e in live)
            live_rows = sum(e["rows"] or 0 for e in live)
            changed = sum(self.wl.changed_rows.get(r["version"], 0) for r in commits)
            written = sum(r["bytes_written"] for r in commits)
            if changed and live_rows:
                write_amp = written / (changed * live_bytes / live_rows)
            space_amp = sum(_files(td).values()) / live_bytes
            times = []
            for _ in range(5):
                t0 = time.perf_counter()
                log = snapshots.read_log(td)
                times.append((time.perf_counter() - t0) * 1000)
            read_log_ms, versions = p50(times), len(log)
        put("snapshots.write_amp", write_amp, "ratio")
        put("snapshots.space_amp", space_amp, "ratio")
        put("snapshots.read_log_ms", read_log_ms, "ms")
        put("snapshots.log_versions", versions, "count")

    def _dedup_metrics(self, ok, put, ref_op_p50):
        stages: dict[str, list[dict]] = {}
        for r in ok:
            for st in r.get("dedup_stages", []):
                stages.setdefault(st["stage"], []).append(st)
        for name in ("exact", "pairs", "clusters", "simhash", "paragraphs"):
            put(f"dedup.{name}_ms", p50([s["ms"] for s in stages.get(name, [])]), "ms")

        def first(name, key):
            return stages[name][0][key] if name in stages else 0.0

        cand, emitted = first("pairs", "max_join_rows"), first("pairs", "rows")
        semitted, scand = first("simhash", "rows"), 0
        if stages:
            # the Hamming filter is evaluated inside the band join, so its
            # output rows are already verified pairs: count the band
            # collisions from the bucket sizes instead
            from pyspark.sql import functions as F

            from duckdb_read_spark.operators.dedup import simhash_banded_keys

            n = F.col("count")
            scand = (simhash_banded_keys(self.wl.docs, bands=4)
                     .groupBy("band", "key").count()
                     .select(F.sum(n * (n - 1) / 2)).first()[0]) or 0
        put("dedup.candidate_pairs", cand, "count")
        put("dedup.pairs_emitted", emitted, "count")
        put("dedup.simhash_candidates", scand, "count")
        put("dedup.pair_yield", emitted / cand if cand else 0.0, "ratio")
        put("dedup.simhash_yield", semitted / scand if scand else 0.0, "ratio")
        put("dedup.cluster_jobs", first("clusters", "jobs"), "count")
        if stages:
            total = sum(p50([s["ms"] for s in v]) for v in stages.values())
            put("dedup.coverage_pct", 100.0 * total / ref_op_p50, "%")
        else:
            put("dedup.coverage_pct", 0.0, "%")

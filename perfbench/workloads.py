"""The benchmark's three workloads.

Each workload registers its fixture tables, optionally builds more state
(CTAS), and then yields *rounds* of ops from its seed. An op is what one
closed-loop client sends and waits for:

* ``duckdb_sql``: one DuckDB-dialect statement, ``Engine.sql`` + collect;
* ``lakehouse_dml``: one statement against a versioned table, until the
  commit lands or the rows are collected;
* ``dedup_pipeline``: one full pass of five dedup operators.

Every op's result is kept and checked after the timed window against
DuckDB (or, for SimHash, against invariants), so the checks never sit
inside a timed region.
"""

from __future__ import annotations

import os
import random
import time

from pyspark.sql import functions as F

from duckdb_read_spark import operators as ops
from duckdb_read_spark.conf import TABLES
from duckdb_read_spark.op_queries import OP_QUERIES
from duckdb_read_spark.oracle import normalize_rows
from duckdb_read_spark.queries import QUERIES


class Op:
    __slots__ = ("kind", "label", "text", "meta")

    def __init__(self, kind: str, label: str, text: str | None = None,
                 meta: dict | None = None) -> None:
        self.kind = kind
        self.label = label
        self.text = text
        self.meta = meta or {}


def rows_of(df) -> list[tuple]:
    return normalize_rows(tuple(r) for r in df.collect())


def duck_rows(con, sql: str) -> list[tuple]:
    return normalize_rows(con.execute(sql).fetchall(), engine="duck")


def duck_views(con, paths: dict[str, str]) -> None:
    con.execute("SET enable_progress_bar = false")
    for name, path in paths.items():
        con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                    f"SELECT * FROM read_parquet('{path}')")


class Workload:
    name = ""
    # ops whose result mismatches DuckDB at the commit that defined the
    # benchmark; they stay in the workload and count as failed
    known_failures: dict[str, str] = {}
    sql_ops = True  # ops are single Engine.sql statements

    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def register(self) -> None:
        raise NotImplementedError

    def prepare_state(self) -> None:
        """Set-up beyond registration (CTAS); part of ``setup_s``."""

    def warmup(self) -> None:
        raise NotImplementedError

    def round(self, r: int) -> list[Op]:
        raise NotImplementedError

    def execute(self, op: Op, rec: dict):
        """Engine.sql + collect; returns the normalized rows."""
        t0 = time.perf_counter()
        df = self.ctx.engine.sql(op.text, dialect="duckdb")
        rec["prepare_s"] = time.perf_counter() - t0
        return rows_of(df)

    def check(self, done: list[tuple[Op, object]]) -> list[str | None]:
        """One entry per op: None if correct, else a reason."""
        raise NotImplementedError


# --- duckdb_sql -----------------------------------------------------------

def duckdb_text(spec) -> str:
    return spec.duckdb if spec.duckdb is not None else spec.spark


class DuckdbSql(Workload):
    """The 50 declared DuckDB-dialect statements at sf0.01, one pass per
    round, in a seeded order that is reshuffled on every pass."""

    name = "duckdb_sql"
    sf = 0.01
    known_failures = {
        "q40_array_ops": "float32 -> DECIMAL(12,6) cast rounds a half-way "
                         "value differently from DuckDB (6th decimal)",
    }
    # warm the JVM's generic paths with statements outside the measured set
    WARMUP = (
        "SELECT COUNT(*) AS n FROM orders WHERE o_totalprice > 0",
        "SELECT l_returnflag, SUM(l_quantity) AS q FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag",
        "SELECT c.c_mktsegment, COUNT(*) AS n FROM customer c JOIN orders o "
        "ON c.c_custkey = o.o_custkey GROUP BY 1 ORDER BY 1",
    )

    def register(self) -> None:
        self.ctx.engine.register_fixture_dir(self.ctx.data_dir(self.sf))

    def warmup(self) -> None:
        for text in self.WARMUP:
            self.ctx.engine.sql(text, dialect="duckdb").collect()

    def round(self, r: int) -> list[Op]:
        names = sorted(QUERIES)
        random.Random(self.ctx.seed * 7919 + r).shuffle(names)
        return [Op("statement", n, duckdb_text(QUERIES[n])) for n in names]

    def check(self, done):
        import duckdb

        d = self.ctx.data_dir(self.sf)
        con = duckdb.connect()
        duck_views(con, {t: os.path.join(d, f"{t}.parquet") for t in TABLES})
        want = {}
        out = []
        for op, rows in done:
            if op.label not in want:
                want[op.label] = duck_rows(con, QUERIES[op.label].duckdb_sql)
            out.append(None if rows == want[op.label] else "result differs from DuckDB")
        con.close()
        return out


# --- lakehouse_dml --------------------------------------------------------

_SUM = "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))"
_COLS = "o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"


class LakehouseDml(Workload):
    """Seeded INSERT/UPDATE/DELETE/range-SELECT cycles on a versioned table
    made by CTAS from the sf0.1 ``orders``; every round is one cycle
    followed by a time-travel read, a ``table_changes`` read and a read of
    the ``_delta_log`` mirror."""

    name = "lakehouse_dml"
    sf = 0.1
    table = "orders_v"
    n_orders = 150_000

    def register(self) -> None:
        self.src = os.path.join(self.ctx.data_dir(self.sf), "orders.parquet")
        self.ctx.engine.register_parquet("orders_src", self.src)

    def prepare_state(self) -> None:
        self.ctx.engine.sql(f"CREATE TABLE {self.table} AS SELECT * FROM orders_src",
                            dialect="duckdb").collect()
        self.table_dir = self.ctx.engine._versioned[self.table]
        self.version = max(h["version"] for h in self.ctx.engine.table_history(self.table))
        self.base_version = self.version
        self.cycle = 0
        # the warm-up round runs before the timed window; its commits are
        # replayed by the oracle like any other statement
        self.warm_ops: list[Op] = []

    def _cycle(self) -> list[Op]:
        rnd = random.Random(self.ctx.seed * 104729 + self.cycle)
        self.cycle += 1
        a = rnd.randrange(0, self.n_orders - 1000)
        b = rnd.randrange(0, self.n_orders - 2000)
        c = rnd.randrange(0, self.n_orders - 600)
        d = rnd.randrange(0, self.n_orders - 20000)
        off = 1_000_000 * self.cycle
        delta = rnd.choice(("1.25", "2.50", "0.75"))
        prio = rnd.choice(("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        t = self.table
        return [
            Op("insert", "insert",
               f"INSERT INTO {t} SELECT o_orderkey + {off}, {_COLS} FROM orders_src "
               f"WHERE o_orderkey BETWEEN {a} AND {a + 999}", {"commit": True}),
            Op("update", "update",
               f"UPDATE {t} SET o_totalprice = o_totalprice + {delta}, "
               f"o_orderstatus = 'U' WHERE o_orderkey BETWEEN {b} AND {b + 1999}",
               {"commit": True}),
            Op("delete", "delete",
               f"DELETE FROM {t} WHERE o_orderkey BETWEEN {c} AND {c + 599} "
               f"AND o_orderpriority <> '{prio}'", {"commit": True}),
            Op("read", "range_select",
               f"SELECT o_orderstatus, COUNT(*) AS n, {_SUM} AS s FROM {t} "
               f"WHERE o_orderkey BETWEEN {d} AND {d + 19999} "
               f"GROUP BY o_orderstatus ORDER BY o_orderstatus"),
        ]

    def _with_versions(self, cyc: list[Op]) -> list[Op]:
        for op in cyc:
            if op.meta.get("commit"):
                self.version += 1
                op.meta["version"] = self.version
        return cyc

    def warmup(self) -> None:
        # a whole round, so that every statement kind of the window (the
        # time-travel, table_changes and delta_scan reads too) has run once
        self.warm_ops = self.round(-1)
        for op in self.warm_ops:
            self.ctx.engine.sql(op.text, dialect="duckdb").collect()

    def round(self, r: int) -> list[Op]:
        out = self._with_versions(self._cycle())
        rnd = random.Random(self.ctx.seed * 7919 + r)
        v_tt = rnd.randrange(self.base_version, self.version + 1)
        v_cdf = max(self.base_version + 1, self.version - 3)
        t = self.table
        out += [
            Op("time_travel", "version_as_of",
               f"SELECT COUNT(*) AS n, {_SUM} AS s FROM {t} VERSION AS OF {v_tt}",
               {"at": v_tt}),
            Op("cdf", "table_changes",
               f"SELECT _change_type AS ct, COUNT(*) AS n FROM table_changes("
               f"'{t}', {v_cdf}, {self.version}) GROUP BY 1 ORDER BY 1",
               {"from": v_cdf, "to": self.version}),
            Op("delta_read", "delta_scan",
               f"SELECT COUNT(*) AS n, {_SUM} AS s FROM delta_scan('{self.table_dir}')",
               {"at": self.version}),
        ]
        return out

    def check(self, done):
        """Replay every statement in DuckDB and compare every read."""
        import duckdb

        con = duckdb.connect()
        duck_views(con, {"orders_src": self.src})
        t = self.table
        con.execute(f"CREATE TABLE {t} AS SELECT * FROM orders_src")
        state = {self.base_version: duck_rows(con, f"SELECT COUNT(*), {_SUM} FROM {t}")}
        changes: dict[int, dict[str, int]] = {}
        self.changed_rows: dict[int, int] = {}

        def apply(op: Op) -> None:
            where = op.text[op.text.index(" WHERE ") + 7:]
            v = op.meta["version"]
            if op.kind == "insert":
                n = con.execute(f"SELECT COUNT(*) FROM orders_src WHERE {where}").fetchone()[0]
                changes[v] = {"insert": n}
            else:
                n = con.execute(f"SELECT COUNT(*) FROM {t} WHERE {where}").fetchone()[0]
                changes[v] = ({"update_preimage": n, "update_postimage": n}
                              if op.kind == "update" else {"delete": n})
            self.changed_rows[v] = n
            con.execute(op.text)
            state[v] = duck_rows(con, f"SELECT COUNT(*), {_SUM} FROM {t}")

        for op in self.warm_ops:
            if op.meta.get("commit"):
                apply(op)
        out = []
        for op, rows in done:
            if op.meta.get("commit"):
                apply(op)
                out.append(None)
                continue
            if op.kind == "read":
                want = duck_rows(con, op.text)
            elif op.kind in ("time_travel", "delta_read"):
                want = state.get(op.meta["at"])  # absent if its commit raised
            else:  # cdf: per-_change_type counts over the version range
                tot: dict[str, int] = {}
                for v in range(op.meta["from"], op.meta["to"] + 1):
                    for ct, n in changes.get(v, {}).items():
                        tot[ct] = tot.get(ct, 0) + n
                want = normalize_rows(sorted(tot.items()))
            out.append(None if rows == want else "result differs from DuckDB replay")
        last = max(h["version"] for h in self.ctx.engine.table_history(t))
        if last != self.version:
            out[-1] = out[-1] or f"log ends at v{last}, expected v{self.version}"
        con.close()
        return out


# --- dedup_pipeline -------------------------------------------------------

def chunk_paragraphs(docs):
    """12-token pseudo-paragraphs joined by blank lines (the q108 shape)."""
    toks = F.split(F.col("text"), " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(12.0)).cast("int")
    paras = F.transform(F.sequence(F.lit(0), n_chunks - 1),
                        lambda i: F.array_join(F.slice(toks, i * 12 + 1, 12), " "))
    return docs.select("doc_id", F.array_join(paras, "\n\n").alias("text2"))


def subset_rows(seed: int, n: int, k: int):
    """The sorted row indices of the seeded k-document subset."""
    import numpy as np

    return np.sort(np.random.default_rng(seed).choice(n, k, replace=False))


class DedupPipeline(Workload):
    """Passes of exact dedup, n-gram Jaccard pairs, duplicate clusters,
    SimHash candidates and paragraph dedup over a seeded subset of the
    sf0.1 ``documents``."""

    name = "dedup_pipeline"
    sf = 0.1
    subset = 1000
    sql_ops = False
    STAGES = ("exact", "pairs", "clusters", "simhash", "paragraphs")

    def register(self) -> None:
        import pyarrow.parquet as pq

        src = pq.read_table(os.path.join(self.ctx.data_dir(self.sf), "documents.parquet"))
        keep = subset_rows(self.ctx.seed, src.num_rows, self.subset)
        self.path = os.path.join(self.ctx.workdir, "documents_subset.parquet")
        pq.write_table(src.take(keep), self.path)
        self.ctx.engine.register_parquet("documents", self.path)
        self.docs = self.ctx.spark.table("documents")

    def warmup(self) -> None:
        self.execute(Op("pass", "pass"), {})

    def round(self, r: int) -> list[Op]:
        return [Op("pass", "pass")]

    def stage_calls(self):
        """(stage, operator call returning a DataFrame, action) triples;
        ``clusters`` consumes the pairs the ``pairs`` stage collected."""
        spark = self.ctx.spark
        docs = self.docs
        got: dict = {}

        def pairs_df():
            p = ops.ngram_jaccard_pairs(docs, n=3, threshold=0.5, max_shingle_df=64)
            return p.select("id_a", "id_b", F.col("jaccard").cast("decimal(10,6)")
                            .cast("double").alias("jaccard"))

        def clusters_df():
            edges = spark.createDataFrame([(a, b) for a, b, _ in got["pairs"]],
                                          "id_a long, id_b long")
            return ops.duplicate_clusters(edges)

        def paragraphs_df():
            out = ops.dedup_paragraphs(chunk_paragraphs(docs), text_col="text2",
                                       id_col="doc_id", sep="\n\n")
            return out.select("doc_id", "n_paras", "n_kept",
                              F.md5("text_kept").alias("kept_md5"))

        calls = (
            ("exact", lambda: ops.dedup_exact(docs, keep_order_col="doc_id").select("doc_id")),
            ("pairs", pairs_df),
            ("clusters", clusters_df),
            ("simhash", lambda: ops.simhash_candidates(docs, max_hamming=3, bands=4)),
            ("paragraphs", paragraphs_df),
        )
        return calls, got

    def execute(self, op: Op, rec: dict, stage_hook=None):
        """One pass. ``stage_hook(stage, call)`` lets the traced run wrap
        each stage; it returns (rows, seconds until the call returned)."""
        calls, got = self.stage_calls()
        prepare = 0.0
        for stage, call in calls:
            if stage_hook is not None:
                rows, p = stage_hook(stage, call)
            else:
                t0 = time.perf_counter()
                df = call()
                p = time.perf_counter() - t0
                rows = rows_of(df)
            prepare += p
            got[stage] = rows
        rec["prepare_s"] = prepare
        return got

    def check(self, done):
        import duckdb

        con = duckdb.connect()
        duck_views(con, {"documents": self.path})
        want = {
            "exact": duck_rows(con, "SELECT MIN(doc_id) FROM documents GROUP BY md5(text)"),
            "pairs": duck_rows(con, OP_QUERIES["q55_ngram_jaccard"].duckdb_sql),
            "clusters": duck_rows(con, OP_QUERIES["q80_dup_clusters"].duckdb_sql),
            "paragraphs": duck_rows(con, OP_QUERIES["q108_paragraph_dedup"].duckdb_sql),
        }
        con.close()
        fp = dict(ops.simhash(self.docs).collect())
        out = []
        for _, got in done:
            bad = [s for s, w in want.items() if got[s] != w]
            seen = set()
            for a, b, ham in got["simhash"]:
                if not (a < b and (a, b) not in seen and ham <= 3
                        and bin((fp[a] ^ fp[b]) & (2**64 - 1)).count("1") == ham):
                    bad.append("simhash")
                    break
                seen.add((a, b))
            out.append(f"stages differ: {', '.join(bad)}" if bad else None)
        return out


WORKLOADS = {w.name: w for w in (DuckdbSql, LakehouseDml, DedupPipeline)}

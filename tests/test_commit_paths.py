"""The versioned-table commit path, pinned end to end.

* The DML branch matrix: DELETE (with and without a predicate), UPDATE and
  MERGE, each forced through the file-level rewrite (hit files rewritten,
  the rest carried by reference) and the full rewrite (a one-file table,
  or a hit on every file). Each case pins the table rows, the change feed
  per ``_change_type`` and whether the commit recorded a file manifest.
* A crash in the middle of writing a commit file: the log must stay
  readable, the table must read its pre-commit state, and the next writer
  must claim the same version number.
* Writers racing on one commit file name: exactly one publishes it.
"""

from __future__ import annotations

import os
import threading
from collections import Counter

import pytest
from pyspark.sql import functions as F

from duckdb_read_spark import deltalog, engine as engine_mod, snapshots
from duckdb_read_spark.engine import Engine

_N = 400
# one key range per shape: a few keys in the first file, or keys in every
# file of the four range-partitioned files
_HITS = {
    "one_file": {k for k in range(_N) if k < 10},
    "some_hit": {k for k in range(_N) if k < 10},
    "all_hit": {k for k in range(_N) if k % 10 == 0},
}
_PRED = {"one_file": "k < 10", "some_hit": "k < 10", "all_hit": "k % 10 = 0"}
_NEW_KEYS = (1000, 1001)


@pytest.fixture()
def eng(spark, tmp_path, monkeypatch):
    # every multi-file case runs the exact probe, so "all_hit" reaches the
    # every-file-hit exit rather than the small-table probe skip
    monkeypatch.setattr(engine_mod, "_DML_PROBE_SKIP_MAX_BYTES", 0)
    return Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))


def _make_table(eng, spark, tmp_path, shape):
    df = (spark.range(0, _N).withColumnRenamed("id", "k")
          .withColumn("v", (F.col("k") * 2).cast("long")))
    df = df.coalesce(1) if shape == "one_file" else df.repartitionByRange(4, "k")
    d = str(tmp_path / "t")
    eng.write_versioned(df, d)
    eng.register_versioned("t", d)
    assert len(snapshots.snapshot_file_entries(d)) == (
        1 if shape == "one_file" else 4)
    return d


def _expected(kind, hits):
    rows = {k: 2 * k for k in range(_N)}
    if kind == "delete_all":
        return {}, {"delete": _N}
    if kind == "delete":
        return ({k: v for k, v in rows.items() if k not in hits},
                {"delete": len(hits)})
    if kind == "update":
        rows.update({k: -rows[k] for k in hits})
        return rows, {"update_preimage": len(hits),
                      "update_postimage": len(hits)}
    # merge: matched keys take the source value, new keys are inserted
    rows.update({k: -1 for k in hits})
    rows.update({k: 7 for k in _NEW_KEYS})
    return rows, {"update_preimage": len(hits),
                  "update_postimage": len(hits), "insert": len(_NEW_KEYS)}


def _run(eng, spark, kind, shape):
    pred = _PRED[shape]
    if kind == "delete_all":
        eng.sql("DELETE FROM t")
    elif kind == "delete":
        eng.sql(f"DELETE FROM t WHERE {pred}")
    elif kind == "update":
        eng.sql(f"UPDATE t SET v = -v WHERE {pred}")
    else:
        src = ([(k, -1) for k in sorted(_HITS[shape])]
               + [(k, 7) for k in _NEW_KEYS])
        spark.createDataFrame(src, "k long, v long") \
            .createOrReplaceTempView("merge_src")
        try:
            eng.sql("MERGE INTO t USING merge_src s ON t.k = s.k "
                    "WHEN MATCHED THEN UPDATE SET v = s.v "
                    "WHEN NOT MATCHED THEN INSERT *")
        finally:
            spark.catalog.dropTempView("merge_src")


_MATRIX = [
    (kind, shape)
    for kind in ("delete", "update", "merge")
    for shape in ("one_file", "all_hit", "some_hit")
] + [("delete_all", "one_file"), ("delete_all", "some_hit")]


@pytest.mark.parametrize("kind,shape", _MATRIX)
def test_dml_branch_matrix(eng, spark, tmp_path, kind, shape):
    d = _make_table(eng, spark, tmp_path, shape)
    _run(eng, spark, kind, shape)
    rows, feed = _expected(kind, _HITS[shape])
    got = {r["k"]: r["v"] for r in eng.sql("SELECT k, v FROM t").collect()}
    assert got == rows
    changes = snapshots.table_changes(spark, d, 2, 2)
    assert Counter(r["_change_type"] for r in changes.collect()) == feed
    file_level = snapshots.read_log(d)[-1].files is not None
    assert file_level == (shape == "some_hit" and kind != "delete_all")


class _Crash(Exception):
    pass


class _TornFile:
    """A file whose first write lands half its text, then the process
    'dies' — what a crash in the middle of a commit write leaves behind."""

    def __init__(self, f):
        self._f = f

    def write(self, text):
        self._f.write(text[:max(1, len(text) // 2)])
        raise _Crash("simulated crash while writing a commit file")

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._f.close()

    def __getattr__(self, name):
        return getattr(self._f, name)


def test_torn_commit_file_is_never_published(spark, tmp_path, monkeypatch):
    d = str(tmp_path / "t")
    log_dir = os.path.join(d, "_log")
    snapshots.write_table(spark.range(5).withColumnRenamed("id", "k"), d)

    def crashing_open(path, mode="r", *args, **kw):
        f = open(path, mode, *args, **kw)
        in_log = os.path.dirname(os.path.abspath(str(path))) == log_dir
        return _TornFile(f) if in_log and ("w" in mode or "x" in mode) else f

    with monkeypatch.context() as m:
        m.setattr(snapshots, "open", crashing_open, raising=False)
        with pytest.raises(_Crash):
            snapshots.write_table(
                spark.range(100, 103).withColumnRenamed("id", "k"), d,
                mode="append")
    # the log still parses, and the table reads its pre-commit state
    assert [c.version for c in snapshots.read_log(d)] == [1]
    assert sorted(r["k"] for r in
                  snapshots.read_table(spark, d).collect()) == list(range(5))
    # the next writer claims the version the crashed commit never published
    entry = snapshots.write_table(
        spark.range(200, 202).withColumnRenamed("id", "k"), d, mode="append")
    assert entry.version == 2
    want = list(range(5)) + [200, 201]
    assert sorted(r["k"] for r in
                  snapshots.read_table(spark, d).collect()) == want
    assert sorted(r["k"] for r in
                  deltalog.read_delta_table(spark, d).collect()) == want


def test_racing_publishers_exactly_one_wins(tmp_path):
    path = str(tmp_path / "00000001.json")
    n = 16
    barrier = threading.Barrier(n)
    won: list[int] = []
    lost: list[int] = []

    def writer(i: int) -> None:
        barrier.wait(timeout=30)
        try:
            snapshots._publish_exclusive(path, f'{{"writer": {i}}}')
            won.append(i)
        except FileExistsError:
            lost.append(i)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
    assert not any(t.is_alive() for t in threads)
    assert len(won) == 1 and len(lost) == n - 1
    with open(path) as f:
        assert f.read() == f'{{"writer": {won[0]}}}'
    # no temp file outlives its publish attempt
    assert os.listdir(tmp_path) == ["00000001.json"]

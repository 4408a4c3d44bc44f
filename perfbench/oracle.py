"""The benchmark's oracle: DuckDB answers to the gate's oracle SQL.

Each query's answer is DuckDB, pinned to the replica build the gate is
certified against, running `graft.SparkEntry.oracleSql` over the same
parquet files the engine read, materialized through parquet. The type
gate, the pinned version and the canonical comparison (columns sorted by
name, rows by value, floats equal within 1e-12 relative) are imported
from the gate's own `tools/check.py`, so the two cannot disagree.

Answers are computed by each run from the tables it has just generated
and kept only for that run, so no answer can go stale when the
generator, the data or the oracle SQL change.
"""
import glob
import os
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from check import _PINNED_DUCKDB, _TYPE_OK, canon, cells_equal  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def compare(got, want):
    """None when the (columns, rows) pairs are equal, else why not."""
    (gc, gr), (wc, wr) = canon(got[1], got[0]), canon(want[1], want[0])
    if gc != wc:
        return f"columns differ: engine={gc} oracle={wc}"
    if len(gr) != len(wr):
        return f"row count: engine={len(gr)} oracle={len(wr)}"
    for i, (r1, r2) in enumerate(zip(gr, wr)):
        for j, (x, y) in enumerate(zip(r1, r2)):
            if not cells_equal(x, y):
                return f"row {i} col {wc[j]}: engine={x!r} oracle={y!r}"
    return None


class Oracle:
    def __init__(self, data_dir, scratch):
        if duckdb.__version__ != _PINNED_DUCKDB:
            raise SystemExit(f"duckdb {duckdb.__version__} is not the pinned "
                             f"oracle build {_PINNED_DUCKDB}")
        self.con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        self.scratch = scratch
        self.answers = {}

    def read(self, files):
        res = self.con.execute(
            "SELECT * FROM read_parquet([" + ",".join(f"'{f}'" for f in files) + "])")
        return [d[0] for d in res.description], res.fetchall()

    def answer(self, sql):
        if sql not in self.answers:
            bad = [(c, t) for c, t, *_ in self.con.execute(f"DESCRIBE ({sql})").fetchall()
                   if not _TYPE_OK.match(t)]
            if bad:
                raise ValueError(f"oracle type(s) not parquet-stable: {bad}")
            with tempfile.TemporaryDirectory(dir=self.scratch) as td:
                path = os.path.join(td, "oracle.parquet")
                self.con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
                self.answers[sql] = self.read([path])
        return self.answers[sql]

    def check(self, sql, out_dir):
        """None when the engine's parquet output under `out_dir` equals
        the oracle's answer to `sql`, else the reason it does not."""
        if not sql:
            return "no oracle SQL"
        files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
        if not files:
            return "no engine output"
        try:
            want = self.answer(sql)
        except Exception as e:  # noqa: BLE001 - the reason is the verdict
            return f"oracle error: {e}"
        return compare(self.read(files), want)

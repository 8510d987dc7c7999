"""Output check against graft's DuckDB oracle (`SparkEntry.oracleSql`).

The comparison is the one `tools/check.py` applies: columns sorted by
name, rows sorted, then row count, column names and exact values must
agree. `canon` is imported from that script so both stay one rule.
"""
import glob
import importlib.util
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(repo_root):
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(repo_root, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


class Oracle:
    def __init__(self, repo_root, input_dir):
        self.canon = _canon(repo_root)
        self.con = duckdb.connect()
        for t in TABLES:
            if os.path.exists(os.path.join(input_dir, f"{t}.parquet")):
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")

    def mismatch(self, got, sql):
        """None when the DataFrame `got` equals the oracle's result of
        `sql`, else a one-line reason."""
        try:
            want = self.con.execute(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            return f"oracle error: {str(e).splitlines()[0]}"
        g, w = self.canon(got), self.canon(want)
        if list(g.columns) != list(w.columns):
            return f"columns {list(g.columns)} vs {list(w.columns)}"
        if len(g) != len(w):
            return f"rows {len(g)} vs {len(w)}"
        if not g.equals(w):
            return "values differ in " + ", ".join(
                c for c in g.columns if not g[c].equals(w[c]))
        return None

    def check_dump(self, out_dir, sql):
        files = glob.glob(os.path.join(out_dir, "*.parquet"))
        if not files:
            return "no output written"
        got = self.con.execute(f"SELECT * FROM '{out_dir}/*.parquet'").df()
        return self.mismatch(got, sql)

"""Answer checks. A throw or a mismatch is a failed operation, never a
timing.

- Broker answers are compared with DuckDB running the same query over the
  same generated parquet (numbers to a relative 1e-9, since sum order
  differs between engines), and a fixed-literal check set is compared with
  a direct `spark.sql` collect of the same text.
- Declared-query results are compared with their DuckDB oracles
  (`SparkEntry.oracleSql`) under the rules of `tools/check_oracle.py`: columns sorted by
  name, same row count, exact cell equality, no integer/float drift.
- A count read during ingest must equal a committed prefix of the
  generated files.
"""
import datetime
import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
import check_oracle  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def duck(data_dir):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _cell(v):
    if isinstance(v, (datetime.date, datetime.datetime)):
        return str(v)
    return v


def duck_rows(con, sql):
    return [[_cell(v) for v in row] for row in con.execute(sql).fetchall()]


def same_cell(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def same_rows(got, want):
    """None when equal, else a short description of the first difference."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return f"row {i}: width {len(g)} != {len(w)}"
        for j, (a, b) in enumerate(zip(g, w)):
            if not same_cell(a, b):
                return f"row {i} col {j}: {a!r} != {b!r}"
    return None


# -- declared-query oracles (the compare rules of tools/check_oracle.py) --------

def _oracle_cell_equal(a, b):
    """check_oracle's cell rule; parquet list columns read back as arrays."""
    a = a.tolist() if isinstance(a, np.ndarray) else a
    b = b.tolist() if isinstance(b, np.ndarray) else b
    return check_oracle.cells_equal(a, b)


def oracle_mismatch(con, sql, spark_parquet_dir):
    """None when the Spark result equals the DuckDB oracle, else why not."""
    got = check_oracle.normalize(pd.read_parquet(spark_parquet_dir))
    want = check_oracle.normalize(con.execute(sql).df())
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        gi = pd.api.types.is_integer_dtype(got[c].dtype)
        wi = pd.api.types.is_integer_dtype(want[c].dtype)
        gf = pd.api.types.is_float_dtype(got[c].dtype)
        wf = pd.api.types.is_float_dtype(want[c].dtype)
        if (gi and wf) or (gf and wi):
            return f"col {c}: dtype {got[c].dtype} != {want[c].dtype}"
        for i, (a, b) in enumerate(zip(got[c].tolist(), want[c].tolist())):
            if not _oracle_cell_equal(a, b):
                return f"col {c} row {i}: {a!r} != {b!r}"
    return None


def parquet_rows(path):
    return len(pd.read_parquet(path))


# -- ingest answers ------------------------------------------------------------

class Prefixes:
    """Cumulative per-file totals of everything the generator wrote, so an
    answer read during ingest can be checked against the exact committed
    prefix it claims to see (files commit in write order)."""

    def __init__(self):
        self.rows = [0]
        self.price = [0]

    def add(self, stats):
        self.rows.append(self.rows[-1] + stats["rows"])
        self.price.append(self.price[-1] + stats["price"])

    def check_total(self, n, revenue):
        if n not in self.rows:
            return f"count {n} is not a committed file prefix"
        want = self.price[self.rows.index(n)] if n else None
        if revenue != want:
            return f"revenue {revenue} != {want} at {n} rows"
        return None

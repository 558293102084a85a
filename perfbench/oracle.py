"""Check query outputs against their DuckDB oracle SQL.

Each output is a parquet dir written by the benchmark's JVM side. The
oracle runs the query's declared SQL in DuckDB over the same input
tables. Both sides are compared with columns sorted by name and rows
sorted by value (non-float columns first). Everything compares exactly
except one case: a double may differ by exactly one unit of its last
rounded decimal where the unrounded value sits on the half tie between
the two. That is what `round(x, k)` of a tie gives under a different
summation order (a sum of two-decimal products often lands exactly on
one), and which side rounds up depends only on the order the engine
added in. The unrounded value comes from the oracle SQL with every
`round(x, k)` replaced by `x`.
"""
import glob
import math
import os
import re

import duckdb
import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _is_float(s: pd.Series) -> bool:
    return str(s.dtype).startswith("float")


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith(("datetime", "object")):
            df[c] = df[c].astype(str)
    keys = [c for c in df.columns if not _is_float(df[c])] + \
        [c for c in df.columns if _is_float(df[c])]
    return df.sort_values(by=keys, kind="mergesort").reset_index(drop=True)


def unrounded_sql(sql: str) -> str:
    """`sql` with every `round(x[, k])` call replaced by `(x)`."""
    out, i = [], 0
    for m in re.finditer(r"\bround\s*\(", sql, flags=re.I):
        if m.start() < i:
            continue  # inside a round(...) already rewritten
        depth, arg_end, j = 1, None, m.end()
        while depth:
            c = sql[j]
            depth += {"(": 1, ")": -1}.get(c, 0)
            if c == "," and depth == 1 and arg_end is None:
                arg_end = j
            j += 1
        inner = sql[m.end():arg_end if arg_end is not None else j - 1]
        out += [sql[i:m.start()], "(", unrounded_sql(inner), ")"]
        i = j
    return "".join(out) + sql[i:]


def tie_flip(a: float, b: float, raw: float) -> bool:
    """a and b both have at most k >= 1 decimals, differ by exactly
    10^-k, and the unrounded value `raw` lies on the half point between
    them, up to 1% of 10^-k (float summation error)."""
    d = abs(a - b)
    if d == 0 or d > 0.5 or math.isnan(raw):
        return False
    k = round(-math.log10(d))
    unit = 10.0 ** -k
    eps = 8 * math.ulp(max(abs(a), abs(b))) + unit * 1e-9
    return (abs(d - unit) <= eps and
            all(abs(v - round(v, k)) <= eps for v in (a, b)) and
            abs(raw - (a + b) / 2) <= unit / 100)


class Oracle:
    """DuckDB views over one input dir; oracle results cached by name."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        self.con.execute("SET enable_progress_bar = false")
        for t in TABLES:
            # Spark writes each table as a directory of part files
            if glob.glob(f"{data_dir}/{t}.parquet/*.parquet"):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                 f"'{data_dir}/{t}.parquet/*.parquet'")
        self.cache = {}

    def expected(self, name: str, sql: str) -> pd.DataFrame:
        if name not in self.cache:
            self.cache[name] = normalize(self.con.execute(sql).df())
        return self.cache[name]

    def floats_match(self, name: str, sql: str, c: str, o: pd.Series,
                     s: pd.Series) -> bool:
        ov, sv = o.to_numpy(dtype=float), s.to_numpy(dtype=float)
        differ = np.flatnonzero(~((ov == sv) | (np.isnan(ov) & np.isnan(sv))))
        if len(differ) == 0:
            return True
        try:
            raw = self.expected(name + "#unrounded", unrounded_sql(sql))
        except Exception:
            return False
        if len(raw) != len(o) or c not in raw.columns:
            return False
        rv = raw[c].to_numpy(dtype=float)
        return all(tie_flip(ov[i], sv[i], rv[i]) for i in differ)

    def check(self, name: str, sql: str, out_dir: str) -> str:
        """Empty string when `out_dir` matches the oracle, else why not."""
        files = sorted(glob.glob(f"{out_dir}/*.parquet"))
        if not files:
            return "no output"
        try:
            o = self.expected(name, sql)
        except Exception as e:  # an oracle that cannot run is a failure
            return f"oracle error: {e}"
        s = normalize(pd.concat([pd.read_parquet(p) for p in files]))
        if list(o.columns) != list(s.columns):
            return f"columns {list(s.columns)} != {list(o.columns)}"
        if len(o) != len(s):
            return f"rows {len(s)} != {len(o)}"
        for c in o.columns:
            if _is_float(o[c]) and _is_float(s[c]):
                if not self.floats_match(name, sql, c, o[c], s[c]):
                    return f"values differ in {c}"
            elif not o[c].astype(str).equals(s[c].astype(str)):
                return f"values differ in {c}"
        return ""

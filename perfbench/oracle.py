"""Fixtures, the DuckDB oracle and the output checks for perfbench/run.py.

The compare applies tools/check_correctness.py's rules: columns sorted
by name, rows sorted by every column, dtype kinds equal (int, float
width, bool, datetime, object), floats bit-exact, NaNs equal. Queries
without an oracle SQL are checked by row count only. The rules are
restated here rather than imported, so that a change to the program's
tools cannot change how the benchmark scores it. Oracle answers depend
only on the SQL text and the fixtures, so they are cached in the build
directory.
"""
import glob
import hashlib
import json
import math
import os
import pickle
import struct
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _stamp(*parts):
    h = hashlib.sha256()
    for p in parts:
        h.update(p.encode() if isinstance(p, str) else p)
    return h.hexdigest()[:16]


def fixtures(bdir):
    """The fixture directory, generated when the generator changed."""
    out = os.path.join(bdir, "fixtures")
    stamp = _stamp(open(os.path.join(HERE, "fixtures.py"), "rb").read())
    sf = os.path.join(out, ".stamp")
    if not (os.path.exists(sf) and open(sf).read() == stamp):
        subprocess.run([sys.executable, "-B", os.path.join(HERE, "fixtures.py"), out], check=True)
        open(sf, "w").write(stamp)
    return out


def catalog(bdir, dump):
    """SparkEntry's query names and oracle SQL, dumped once per graft build."""
    path = os.path.join(bdir, "graft-classes", "catalog.json")
    if not os.path.exists(path):
        dump(path)
    return json.load(open(path))


def answers(bdir, fixture_dir, sql, names, threads):
    """DuckDB's answer for each named query, as a DataFrame, or the
    error string when DuckDB cannot compute it within its limits."""
    cache = os.path.join(bdir, "oracle")
    os.makedirs(cache, exist_ok=True)
    fx = open(os.path.join(fixture_dir, ".stamp")).read()
    con, out = None, {}
    for n in names:
        path = os.path.join(cache, f"{n}-{_stamp(fx, sql[n])}.pkl")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                con.execute(f"SET threads={threads}; SET memory_limit='3GB'; "
                            f"SET temp_directory='{cache}/spill'; "
                            "SET max_temp_directory_size='4GB'")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
            try:
                answer = con.execute(sql[n]).fetchdf()
            except duckdb.Error as e:
                answer = f"oracle failed: {str(e).splitlines()[0][:200]}"
            with open(path + ".tmp", "wb") as f:
                pickle.dump(answer, f)
            os.replace(path + ".tmp", path)
        with open(path, "rb") as f:
            out[n] = pickle.load(f)
    return out


def check(results_dir, answers, check_pass):
    """Verdict per query of the check pass: expected rows (None when
    unknown) and the problem found, if any."""
    verdicts = {}
    for c in check_pass:
        n, status = c["name"], c["status"]
        if status == "ok":
            verdicts[n] = {"rows": None, "problem": None}
        elif status == "mismatch":
            verdicts[n] = {"rows": None, "problem": "pipeline result differs from plain Scala"}
        elif status == "error":
            verdicts[n] = {"rows": None, "problem": f"error: {c['error'][:300]}"}
        else:
            files = sorted(glob.glob(os.path.join(results_dir, n, "*.parquet")))
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
            want = answers.get(n)
            if isinstance(want, str):
                verdicts[n] = {"rows": None, "problem": want}
            elif want is not None:
                verdicts[n] = {"rows": len(want), "problem": compare(got, want)}
            else:
                verdicts[n] = {"rows": len(got), "problem": None}
    return verdicts


def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def dtype_kind(dt):
    s = str(dt)
    if s.startswith("datetime64"):
        return "datetime"
    k = np.dtype(dt).kind if s != "object" else "O"
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return f"float{np.dtype(dt).itemsize * 8}"
    return {"b": "bool"}.get(k, "object")


def _bits(x):
    return struct.pack("<d", float(x))


def values_differ(x, y):
    """None when equal, 'near' for a float delta below 1e-9, else 'diff'."""
    if x is None and y is None:
        return None
    try:
        if pd.isna(x) and pd.isna(y):
            return None
    except (TypeError, ValueError):
        pass
    fx, fy = isinstance(x, (float, np.floating)), isinstance(y, (float, np.floating))
    if fx or fy:
        if not (fx and fy):
            return "diff"
        if _bits(x) == _bits(y):
            return None
        return "near" if math.isclose(float(x), float(y), rel_tol=1e-9, abs_tol=1e-9) else "diff"
    if isinstance(x, (list, np.ndarray)) or isinstance(y, (list, np.ndarray)):
        if x is None or y is None or len(x) != len(y):
            return "diff"
        worst = None
        for xi, yi in zip(x, y):
            r = values_differ(xi, yi)
            if r == "diff":
                return "diff"
            worst = worst or r
        return worst
    if isinstance(x, (int, np.integer)) and isinstance(y, (int, np.integer)):
        return None if int(x) == int(y) else "diff"
    return None if x == y else "diff"


def _column_equal(a, b):
    """Fast path: True when two columns are certainly equal."""
    if a.dtype.kind == "f" and b.dtype.kind == "f":
        x, y = a.astype(np.float64), b.astype(np.float64)
        both_nan = np.isnan(x) & np.isnan(y)
        return bool(np.all(both_nan | (x.view(np.int64) == y.view(np.int64))))
    if a.dtype.kind in "iub" and b.dtype.kind in "iub":
        return bool(np.array_equal(a, b))
    try:
        eq = a == b
        return isinstance(eq, np.ndarray) and eq.dtype == bool and bool(eq.all())
    except (TypeError, ValueError):
        return False


def compare(spark_df, duck_df):
    a, b = normalize(spark_df), normalize(duck_df)
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} != {list(b.columns)}"
    if len(a) != len(b):
        return f"rows {len(a)} != {len(b)}"
    for c in a.columns:
        ka, kb = dtype_kind(a[c].dtype), dtype_kind(b[c].dtype)
        if ka != kb:
            return f"dtype of {c}: {ka} != {kb}"
    for c in a.columns:
        av, bv = a[c].values, b[c].values
        if _column_equal(av, bv):
            continue
        for i in range(len(av)):
            r = values_differ(av[i], bv[i])
            if r:
                return f"{'float near-miss' if r == 'near' else 'value'} in {c} row {i}: {av[i]!r} vs {bv[i]!r}"
    return None

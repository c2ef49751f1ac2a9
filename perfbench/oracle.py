"""DuckDB twins of the benchmark's queries (`SparkEntry.oracleSql`; the
harness copies the workload's entries into its run record).

* `hashes`: the word-count family's twins, hashed the way the harness
  hashes. Each result row is rendered with its columns in name order, values
  joined by U+001F, integers in decimal, NULL as `\\N`; the row hash is the
  first 8 bytes of its MD5 read as a big-endian integer, and a result's hash
  is `<rows>:<sum of row hashes mod 2^64 in hex>`. Results are cached next
  to the corpus, so a seed pays for its oracle once.
* `compare`: the cold queries' results, which hold floats, against their
  twins value by value, with the rules and the float tolerance (absolute
  1e-9) of `tools/selfcheck.py`, restated here so that the benchmark's
  check does not move with that development tool. The twins' results are
  cached next to the fixture, keyed by their SQL.
"""
import datetime
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd


def _render(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_render(x) for x in v) + "]"
    return str(v)


def result_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    for r in rows:
        s = "\x1f".join(_render(r[i]) for i in order)
        acc += int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
    return f"{len(rows)}:{acc % (1 << 64):016x}"


def _connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET memory_limit = '1GB'")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f).replace("'", "''")
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def hashes(data_dir, oracle_sql):
    """{query: hash} for every entry of `oracle_sql` over `data_dir`'s tables."""
    cache = os.path.join(data_dir, "oracle.json")
    if os.path.exists(cache):
        with open(cache) as f:
            got = json.load(f)
        if set(got) == set(oracle_sql):
            return got
    con = _connect(data_dir)
    out = {}
    for q, sql in sorted(oracle_sql.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        out[q] = result_hash(cols, cur.fetchall())
    con.close()
    with open(cache, "w") as f:
        json.dump(out, f)
    return out


def _kind(col):
    """The value kind a column compares as; Spark DATE columns (objects of
    datetime.date) and DuckDB dates (datetime64) are both "datetime"."""
    if pd.api.types.is_bool_dtype(col.dtype):
        return "bool"
    if pd.api.types.is_float_dtype(col.dtype):
        return "float"
    if pd.api.types.is_integer_dtype(col.dtype):
        return "int"
    if pd.api.types.is_datetime64_any_dtype(col.dtype):
        return "datetime"
    vals = col.dropna().head(50)
    if col.dtype == object and len(vals) and all(isinstance(v, datetime.date) for v in vals):
        return "datetime"
    return "object"


def _canon(df):
    """Columns in name order, widened within their kind only."""
    df = df[sorted(df.columns)].reset_index(drop=True)
    for c in df.columns:
        k = _kind(df[c])
        if k == "float":
            df[c] = df[c].astype("float64")
        elif k == "int":
            df[c] = df[c].astype("int64")
    return df


def _diff(spark_df, duck_df, atol=1e-9):
    """None when the two results agree, else what differs first."""
    s, d = _canon(spark_df), _canon(duck_df)
    if list(s.columns) != list(d.columns):
        return f"columns {list(s.columns)} != oracle {list(d.columns)}"
    if s.shape != d.shape:
        return f"shape {s.shape} != oracle {d.shape}"
    for c in s.columns:
        a, b = s[c], d[c]
        ka, kb = _kind(a), _kind(b)
        if ka != kb:
            return f"column {c}: kind {ka} ({a.dtype}) != oracle {kb} ({b.dtype})"
        if ka == "datetime":
            a, b = pd.to_datetime(a), pd.to_datetime(b)
            eq = ((a == b) | (a.isna() & b.isna())).to_numpy()
        elif ka == "float":
            eq = np.isclose(a.to_numpy(), b.to_numpy(), rtol=0, atol=atol, equal_nan=True)
        else:
            eq = ((a == b) | (a.isna() & b.isna())).to_numpy()
        if not eq.all():
            i = int(np.argmin(eq))
            return f"column {c} row {i}: {a.iloc[i]!r} != oracle {b.iloc[i]!r}"
    return None


def _twin(con, data_dir, sql):
    """The twin's result over `data_dir`'s tables, cached by its SQL."""
    cache = os.path.join(data_dir, "oracle", hashlib.sha256(sql.encode()).hexdigest()[:16] + ".pkl")
    if os.path.exists(cache):
        return pd.read_pickle(cache)
    df = con.execute(sql).fetchdf()
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    df.to_pickle(cache + ".tmp")
    os.replace(cache + ".tmp", cache)
    return df


def compare(data_dir, oracle_sql, results_dir):
    """Mismatches of the Spark results under `results_dir/<query>/` (parquet)
    against the twins of `oracle_sql` over `data_dir`'s tables."""
    con = _connect(data_dir)
    bad = []
    for q, sql in sorted(oracle_sql.items()):
        files = sorted(glob.glob(os.path.join(results_dir, q, "*.parquet")))
        if not files:
            bad.append(f"{q}: no result written")
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        err = _diff(spark_df, _twin(con, data_dir, sql))
        if err:
            bad.append(f"{q}: {err}")
    con.close()
    return bad

"""Output check for the query workloads: every query's last result, as the
benchmark wrote it, against DuckDB running `SparkEntry.oracleSql` over the
same generated tables, compared the way tools/check.py compares them
(columns sorted by name, rows sorted by every column, dtype kinds equal,
values exactly equal).

Both sides reduce to one hash of their canonical form. The oracle hashes
are cached per (data checksum, oracle SQL), so a repeated seed skips the
DuckDB work. An oracle that runs past its time budget is reported as
`skip` and never cached; `run.py` counts a skip as a failure.
"""
import decimal
import glob
import hashlib
import json
import math
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def _cell(v):
    if v is None:
        return None
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else repr(float(v))
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, (decimal.Decimal, list, dict, np.ndarray)):
        raise ValueError(f"non-hash-stable cell of type {type(v).__name__}")
    return str(v)


def canonical_hash(df):
    """Hash of a result frame: columns by name, their dtype kinds, and the
    rows sorted by every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    kinds = [getattr(df[c].dtype, "kind", "O") for c in df.columns]
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True) \
        if len(df.columns) else df
    rows = [[_cell(v) for v in row] for row in df.itertuples(index=False, name=None)]
    blob = json.dumps([list(df.columns), kinds, rows])
    return hashlib.sha256(blob.encode()).hexdigest()


def data_checksum(data_dir):
    h = hashlib.sha256()
    for f in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        h.update(os.path.basename(f).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _spark_result(res_dir):
    files = sorted(glob.glob(os.path.join(res_dir, "*.parquet")))
    if not files:
        raise RuntimeError("no parquet part files")
    return pa.concat_tables([pq.read_table(f) for f in files]).to_pandas()


def _oracle_frame(con, sql, budget):
    """Run one oracle query, interrupted after `budget` seconds."""
    fired = threading.Event()

    def fire():
        fired.set()
        con.interrupt()
    timer = threading.Timer(budget, fire)
    timer.start()
    try:
        return con.sql(sql).df()
    except Exception:
        if fired.is_set():
            return None
        raise
    finally:
        timer.cancel()


def check(data_dir, results_dir, cache_dir, timeout):
    """Returns {query: "ok" | "skip" | "<why it failed>"}; `timeout` is the
    DuckDB budget for the whole check. Oracles run three at a time, each on
    its own connection."""
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    os.makedirs(cache_dir, exist_ok=True)
    checksum = data_checksum(data_dir)
    deadline = time.time() + timeout

    def one(name):
        sql = oracle[name]
        key = hashlib.sha256((checksum + "\0" + sql).encode()).hexdigest()
        cached = os.path.join(cache_dir, key)
        try:
            got = canonical_hash(_spark_result(os.path.join(results_dir, name)))
        except Exception as e:
            return f"spark output unreadable: {str(e).splitlines()[0][:160]}"
        if os.path.exists(cached):
            with open(cached) as f:
                want = f.read()
        else:
            con = duckdb.connect()
            try:
                for f in glob.glob(os.path.join(data_dir, "*.parquet")):
                    table = os.path.basename(f)[: -len(".parquet")]
                    con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{f}'")
                frame = _oracle_frame(con, sql, max(1.0, deadline - time.time()))
            except Exception as e:
                return f"oracle failed: {str(e).splitlines()[0][:160]}"
            finally:
                con.close()
            if frame is None:
                return "skip"
            try:
                want = canonical_hash(frame)
            except ValueError as e:
                return f"oracle output: {e}"
            with open(cached, "w") as f:
                f.write(want)
        return "ok" if got == want else "result differs from the DuckDB oracle"

    with ThreadPoolExecutor(max_workers=3) as pool:
        return dict(zip(sorted(oracle), pool.map(one, sorted(oracle))))

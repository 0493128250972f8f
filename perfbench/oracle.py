"""Output check: hash each query's output and compare it with the hash of
its DuckDB oracle (`SparkEntry.oracleSql`) run over the same generated
inputs. Frames are normalised with `tools/check.py`'s `norm` (columns by
name, rows by all columns), imported from the checkout; values are hashed
byte-strictly like that tool compares them (floats by their bits, NaN and
null alike).
"""
import glob
import hashlib
import json
import math
import os
import struct
import sys

import duckdb


def _norm():
    tools = os.path.join(os.getcwd(), "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    import check  # tools/check.py
    return check.norm


def _canon(v):
    if v is None:
        return b"N"
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()  # numpy scalars and arrays
    if isinstance(v, bool):
        return b"b1" if v else b"b0"
    if isinstance(v, float):
        return b"N" if math.isnan(v) else b"f" + struct.pack("<d", v)
    if isinstance(v, int):
        return b"i" + str(v).encode()
    if isinstance(v, str):
        s = v.encode()
        return b"s%d:" % len(s) + s
    if isinstance(v, bytes):
        return b"y%d:" % len(v) + v
    if isinstance(v, (list, tuple)):
        return b"[" + b",".join(_canon(x) for x in v) + b"]"
    if isinstance(v, dict):
        return b"{" + b",".join(_canon(k) + b"=" + _canon(x) for k, x in sorted(v.items())) + b"}"
    if hasattr(v, "isoformat"):
        return b"t" + v.isoformat().encode()
    return b"r" + repr(v).encode()


def frame_hash(df):
    df = _norm()(df)
    h = hashlib.sha256(repr(list(df.columns)).encode())
    for c in df.columns:
        for v in df[c].tolist():
            h.update(_canon(v))
    return h.hexdigest(), len(df)


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        t = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def expected(data_dir, oracle_sql):
    """Oracle hashes per query, cached next to the generated inputs."""
    path = os.path.join(data_dir, "oracle_hashes.json")
    cache = json.load(open(path)) if os.path.exists(path) else {}
    con = None
    for q, sql in sorted(oracle_sql.items()):
        key = hashlib.sha256(sql.encode()).hexdigest()
        if cache.get(q, {}).get("sql") == key:
            continue
        if con is None:
            con = connect(data_dir)
        digest, rows = frame_hash(con.execute(sql).df())
        cache[q] = {"sql": key, "hash": digest, "rows": rows}
    if con is not None:
        con.close()
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f, indent=1, sort_keys=True)
        os.replace(path + ".tmp", path)
    return cache


def verify(data_dir, check_dir, queries, oracle_sql, check_errors):
    """Per query: None when the output matches its oracle, else the reason."""
    want = expected(data_dir, {q: s for q, s in oracle_sql.items() if q in queries})
    con = duckdb.connect()
    out = {}
    for q in queries:
        if q in check_errors:
            out[q] = f"threw: {check_errors[q]}"
            continue
        if q not in want:
            out[q] = "no oracle SQL in the registry"
            continue
        files = sorted(glob.glob(os.path.join(check_dir, q, "*.parquet")))
        if not files:
            out[q] = "no output written"
            continue
        digest, rows = frame_hash(con.execute(f"SELECT * FROM read_parquet({files!r})").df())
        ok = digest == want[q]["hash"]
        out[q] = None if ok else f"hash mismatch: {rows} rows vs oracle {want[q]['rows']}"
    con.close()
    return out

"""Expected result digests from the engine's DuckDB oracle SQL.

`digest(columns, rows)` mirrors `harness/Digest.scala` exactly; `expected()`
runs each query's `SparkEntry.oracleSql` entry on one seed's generated tables
and returns {query: digest}. Computed once per seed and cached by `run.py`.
"""
import datetime
import decimal
import glob
import hashlib
import math
import os
import struct
from concurrent.futures import ThreadPoolExecutor

import duckdb

_MAX_EXACT_LONG = 9.223372036854775807e18
_EPOCH = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def num(d: float) -> str:
    if math.isnan(d):
        return "n:nan"
    if math.isinf(d):
        return "n:inf" if d > 0 else "n:-inf"
    if d == math.floor(d) and abs(d) < _MAX_EXACT_LONG:
        return f"n:{int(d)}"
    return "n:" + struct.pack(">d", d).hex()


def _micros(t: datetime.datetime) -> int:
    if t.tzinfo is None:
        t = t.replace(tzinfo=datetime.timezone.utc)
    delta = t - _EPOCH
    return (delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds


def _entries(kv) -> str:
    return "{" + ",".join(f"{k}={x}" for k, x in sorted(kv)) + "}"


def canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "b:T" if v else "b:F"
    if isinstance(v, int):
        return f"n:{v}"
    if isinstance(v, float):
        return num(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return f"n:{int(v)}"
        return num(float(v))
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, datetime.datetime):
        return f"t:{_micros(v)}"
    if isinstance(v, datetime.date):
        return "d:" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return _entries((("s:" + k) if isinstance(k, str) else canon(k), canon(x))
                        for k, x in v.items())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    raise TypeError(f"digest: unsupported value type {type(v).__name__}")


def digest(columns, rows) -> str:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        s = "\x1f".join(canon(r[i]) for i in order)
        total = (total + int.from_bytes(hashlib.sha256(s.encode("utf-8")).digest()[:8], "big")) \
            % (1 << 64)
    return f"{len(rows)}:{total:016x}:{','.join(columns[i] for i in order)}"


def _run(tables_dir: str, sql: str, threads: int) -> str:
    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for p in sorted(glob.glob(f"{tables_dir}/*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    rel = con.sql(sql)
    d = digest(rel.columns, rel.fetchall())
    con.close()
    return d


def expected(tables_dir: str, sql_by_query: dict, cpus: int) -> dict:
    """Digests of every query; two-thread queries side by side on `cpus`
    cores, since the slow ones (recursive CTEs) use little of a wider pool."""
    names = sorted(sql_by_query)
    with ThreadPoolExecutor(max(1, cpus // 2)) as pool:
        ds = pool.map(lambda q: _run(tables_dir, sql_by_query[q], 2), names)
        return dict(zip(names, ds))

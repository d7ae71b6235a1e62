"""Correctness gates, run after the JVM has exited (outside every timed
region). A table is compared by an order-free row hash: each row is turned
into one canonical string (columns in name order, values normalised across
the parquet encodings Spark and DuckDB produce), hashed, and the sorted list
of row hashes must be equal on both sides.
"""
import datetime
import hashlib
import math
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.dataset as ds


def canon(v):
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v + 0.0)  # -0.0 and 0.0 compare equal
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(v[k])}" for k in sorted(v)) + "}"
    return repr(v)


def row_hashes(table):
    """Sorted per-row digests of a pyarrow table, columns taken by name."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    out = []
    for row in zip(*cols):
        s = "\x1f".join(canon(v) for v in row)
        out.append(hashlib.blake2b(s.encode(), digest_size=16).digest())
    out.sort()
    return names, out


def read_spark(path):
    """A parquet file or a directory written by Spark."""
    return ds.dataset(path, format="parquet").to_table()


def same(actual, expected):
    """None when equal, else a one-line reason."""
    an, ah = row_hashes(actual)
    en, eh = row_hashes(expected)
    if an != en:
        return f"columns {an} != {en}"
    if len(ah) != len(eh):
        return f"rows {len(ah)} != {len(eh)}"
    if ah != eh:
        bad = sum(1 for a, b in zip(ah, eh) if a != b)
        return f"{bad} of {len(ah)} row hashes differ"
    return None


def oracle_gate(events_path, output, sql):
    """One stage output against its DuckDB oracle SQL over the stage input:
    None when equal, else a reason."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{events_path}/*.parquet')")
        return same(read_spark(output), con.sql(sql).arrow())
    except Exception as e:  # a gate that cannot run has failed
        return f"{type(e).__name__}: {str(e)[:300]}"
    finally:
        con.close()


def run_all(checks, first=()):
    """{name: None | reason} of zero-argument checks, three at a time,
    starting with `first` (the longest: the trend oracle is a recursive CTE
    with one step per bar of a symbol)."""
    order = [n for n in first if n in checks] + sorted(
        n for n in checks if n not in first)
    with ThreadPoolExecutor(3) as pool:
        futs = {n: pool.submit(checks[n]) for n in order}
        return {n: futs[n].result() for n in sorted(futs)}


def ingest_gate(raw_path, bronze_path):
    """Bronze holds the raw feed with one row per (user_id, ts): the lowest
    event_id wins, as the ingest MERGE orders by it."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        expected = con.sql(
            f"SELECT * FROM read_parquet('{raw_path}') QUALIFY row_number() "
            f"OVER (PARTITION BY user_id, ts ORDER BY event_id) = 1").arrow()
        return same(read_spark(bronze_path), expected)
    except Exception as e:
        return f"{type(e).__name__}: {str(e)[:300]}"
    finally:
        con.close()

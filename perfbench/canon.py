"""Order-insensitive content hash of a query result, shared by the
expected-output maker (over DuckDB oracle results) and the per-run check
(over the engine's parquet output).

Columns are sorted by name (the oracle check matches columns by name);
floats are rounded to 6 decimals, as the repo's oracle check does; each row
is rendered canonically and the row digests are combined by a sum modulo
2**64, so the hash is independent of row order but keeps multiplicity.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def _val(v):
    if v is None:
        return "null"
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return "null"
        r = round(float(v), 6)
        return "f" + repr(0.0 if r == 0 else r)
    if isinstance(v, decimal.Decimal):
        return _val(float(v))
    if isinstance(v, (bool, np.bool_)):
        return "b" + str(bool(v))
    if isinstance(v, (int, np.integer)):
        return "i" + str(int(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return "t" + ts.floor("us").isoformat()
    if isinstance(v, datetime.date):
        return "d" + v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_val(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_val(x) for x in v) + "]"
    if v is pd.NaT:
        return "null"
    try:
        if pd.isna(v):
            return "null"
    except (TypeError, ValueError):
        pass
    return "s" + str(v)


def digest(df: pd.DataFrame):
    """(row count, hex hash) of a result frame."""
    cols = sorted(df.columns)
    total = 0
    for row in df[cols].itertuples(index=False, name=None):
        line = "\x1f".join(_val(v) for v in row).encode()
        total = (total + int.from_bytes(hashlib.sha256(line).digest()[:8], "little")) % (1 << 64)
    return len(df), f"{total:016x}"


def read_result(path):
    """The engine's parquet output directory as a frame."""
    return pq.read_table(path).to_pandas()


def load_expected(path):
    with open(path) as f:
        return json.load(f)["queries"]


def check(path, want):
    """None when the output at `path` matches `want`, else a message."""
    if want is None:
        return "no expected output recorded"
    if not os.path.isdir(path):
        return "no output written"
    try:
        rows, h = digest(read_result(path))
    except Exception as e:  # an unreadable output is a failed check
        return f"unreadable output: {type(e).__name__}: {e}"
    if rows != want["rows"]:
        return f"rows {rows} != expected {want['rows']}"
    if want.get("hash") and h != want["hash"]:
        return f"content hash {h} != expected {want['hash']}"
    return None

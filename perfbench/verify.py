"""Order-insensitive output digests, shared by the benchmark's checks and
by ``expect.py``, which records the expected digests from the DuckDB
oracles."""

from __future__ import annotations

import csv
import datetime as dt
import decimal
import hashlib
import io
import json
import math

import numpy as np
import pandas as pd


def _cell(v):
    """A JSON-able canonical form: equal values from Spark (Arrow) and
    DuckDB map to the same thing whatever container or width they came in."""
    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_cell(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _cell(x) for k, x in sorted(v.items())}
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return None
        return int(f) if f.is_integer() and abs(f) < 2**53 else repr(f)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        if pd.isna(v):
            return None
        v = pd.Timestamp(v)
        return v.strftime("%Y-%m-%d") if v == v.normalize() else v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if v is pd.NaT:
        return None
    return str(v)


def frame_rows(df: pd.DataFrame) -> list:
    """Rows of ``df`` with columns in name order, canonical cells, sorted."""
    cols = sorted(df.columns)
    rows = [[_cell(v) for v in row] for row in df[cols].itertuples(index=False, name=None)]
    return [cols] + sorted(rows, key=lambda r: json.dumps(r))


def _csv_cell(s: str):
    if s == "":
        return None
    try:
        return _cell(float(s))
    except ValueError:
        return s[:-9] if s.endswith(" 00:00:00") else s


def csv_rows(payload: bytes) -> list:
    """Rows of a CSV sheet payload with columns in name order, canonical
    cells, sorted; the header comes first."""
    header, *body = list(csv.reader(io.StringIO(payload.decode())))
    order = sorted(range(len(header)), key=lambda i: header[i])
    rows = ([_csv_cell(r[i]) for i in order] for r in body)
    return [[header[i] for i in order]] + sorted(rows, key=lambda r: json.dumps(r))


def digest(rows: list) -> dict:
    blob = json.dumps(rows, separators=(",", ":")).encode()
    return {"rows": len(rows) - 1, "sha256": hashlib.sha256(blob).hexdigest()}

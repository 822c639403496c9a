"""Order-free digests of pipeline and query outputs.

Both engines' results go through one canonical form, so a Spark result
and its DuckDB oracle (or its direct-kernel twin) agree exactly when
they hold the same rows. Floats are compared at 6 decimals (the
contract queries round to 4); an integral float is written as an
integer, because DuckDB returns nullable integer columns as float64.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math

import numpy as np
import pandas as pd


def _canon(v) -> str:
    if v is None or v is pd.NA or v is pd.NaT:
        return "\\N"
    if isinstance(v, (bool, np.bool_)):
        return "T" if v else "F"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "\\N"
        if f.is_integer() and abs(f) < 2**53:
            return str(int(f))
        return f"{f:.6f}"
    if isinstance(v, str):
        return v
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.replace(tzinfo=None).isoformat() if isinstance(v, _dt.datetime) else v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if hasattr(v, "asDict"):  # pyspark Row
        return _canon(v.asDict())
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def frame_digest(df) -> str:
    """md5 over the sorted canonical rows of a pandas DataFrame, columns
    taken in name order (the contract compares columns by name)."""
    cols = sorted(df.columns)
    lines = sorted(
        "\x1f".join(_canon(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    h = hashlib.md5("\x1e".join(cols).encode())
    for line in lines:
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def extraction_line(url: str, text: str, spans, parse_ok: bool) -> str:
    """One document's ``(url, extracted_text, spans, parse_ok)``."""
    sp = ",".join(f"{s['start']}:{s['end']}:{s['kind']}" for s in spans)
    return f"{url}\x1f{text}\x1f{sp}\x1f{'T' if parse_ok else 'F'}"


def lines_digest(lines) -> str:
    h = hashlib.md5()
    for line in sorted(lines):
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()

"""Order-insensitive fingerprints of query results.

A result is reduced to its sorted column names and its rows, each value
canonicalised so that the Spark and DuckDB spellings of the same SQL
value agree: floats and decimals are rounded to 6 digits and collapse
to ints when whole, NaN becomes ``"nan"``, containers become tuples and
timestamps ISO strings.  Rows are then sorted, so the fingerprint does
not depend on the order either engine emits them in.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

NDIGITS = 6


def _norm(v):
    if v is None or isinstance(v, (bool, str, int)):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        f = round(f, NDIGITS)
        return int(f) if f.is_integer() and abs(f) < 2**53 else f
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted(((_norm(k), _norm(x)) for k, x in v.items()), key=repr))
    if isinstance(v, (list, tuple)):  # includes pyspark Row
        return tuple(_norm(x) for x in v)
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _norm(v.tolist())
    return str(v)


def normalize(columns: list[str], rows) -> tuple[tuple[str, ...], list[tuple]]:
    """Columns sorted by name, rows projected to that order, values
    canonicalised, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(row[i]) for i in order) for row in rows]
    out.sort(key=lambda r: tuple((x is None, repr(x)) for x in r))
    return tuple(columns[i] for i in order), out


def fingerprint(columns: list[str], rows) -> tuple[int, str]:
    """``(row count, sha256)`` of the normalised result."""
    cols, norm = normalize(columns, rows)
    h = hashlib.sha256(repr(cols).encode())
    for r in norm:
        h.update(repr(r).encode())
    return len(norm), h.hexdigest()

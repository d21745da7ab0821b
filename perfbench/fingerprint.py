"""Order-insensitive output fingerprints.

A fingerprint is the row count plus a 64-bit sum of per-row hashes, so row
order never matters while a changed, missing or duplicated row does.
Doubles are rounded to 9 significant digits first: summing in another
partition order moves the last bits of a double, which is not a wrong
answer.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

from pyspark.sql import Row

_MASK = (1 << 64) - 1


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v) or math.isinf(v):
            return repr(v)
        return float(f"{v:.9g}") + 0.0  # +0.0 folds -0.0 into 0.0
    if isinstance(v, Row):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (dt.date, dt.datetime, decimal.Decimal)):
        return str(v)
    return v


def fingerprint(rows) -> dict:
    """``{"rows": n, "hash": hex}`` of an iterable of Rows or tuples."""
    total = 0
    n = 0
    for r in rows:
        digest = hashlib.blake2b(repr(_norm(tuple(r))).encode(), digest_size=8).digest()
        total = (total + int.from_bytes(digest, "little")) & _MASK
        n += 1
    return {"rows": n, "hash": f"{total:016x}"}


def matches(got: dict, want: dict) -> bool:
    """Whether an output fingerprint agrees with the expected one on every
    field it has (a timed ``count`` carries the row count only)."""
    return all(got[k] == want.get(k) for k in got)

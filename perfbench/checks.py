"""Order-insensitive, bit-exact comparison of query results against
references computed outside every timed interval."""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal


def _norm(v):
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return str(v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _key(row):
    return tuple((x is None, type(x).__name__, repr(x)) for x in row)


def canonical(columns, rows) -> tuple[tuple[str, ...], list[tuple]]:
    """Columns sorted by name, values normalised, rows sorted: two results
    are equal iff their canonical forms are equal. Floats compare with
    `==`, so a last-bit difference is a mismatch."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    body = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=_key)
    return tuple(columns[i] for i in order), body


def diff(got, want) -> str | None:
    """None when equal, else a one-line description of the first mismatch."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns differ: got {list(gc)} want {list(wc)}"
    if len(gr) != len(wr):
        return f"row count differs: got {len(gr)} want {len(wr)}"
    for a, b in zip(gr, wr):
        if a != b:
            return f"row differs: got {a!r} want {b!r}"
    return None

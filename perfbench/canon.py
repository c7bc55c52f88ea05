"""Canonical digest of a query result, shared with harness/Canon.scala.

Columns are ordered by name, as scripts/selfcheck.py orders them; each
value is written exactly with a type-family tag, so two results digest
equal only when every value is identical (the repr-level compare of the
oracle check): integers as digits, floats as the bit pattern of the
double, decimals as their plain string, timestamps as UTC epoch
microseconds, dates as epoch days. Row order is kept.
"""
import datetime
import decimal
import hashlib
import math
import struct

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_DAY = datetime.date(1970, 1, 1).toordinal()


def value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return "f:%d" % struct.unpack("<q", struct.pack("<d", v))[0]
    if isinstance(v, decimal.Decimal):
        return "d:" + format(v, "f")
    if isinstance(v, str):
        return f"s{len(v)}:{v}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t:%d" % ((v - _EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "D:%d" % (v.toordinal() - _EPOCH_DAY)
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return f"?{type(v).__name__}:{v}"


def digest(columns, rows):
    """SHA-256 of the header (sorted column names) and every row."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    h = hashlib.sha256()
    h.update(("|".join(columns[i] for i in order) + "\n").encode())
    for r in rows:
        h.update(("|".join(value(r[i]) for i in order) + "\n").encode())
    return h.hexdigest()

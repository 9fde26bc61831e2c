"""Order-insensitive result digest, the Python twin of
`perfbench/src/perfbench/Digest.scala`. Both sides must canonicalize every
value the same way; floating values are summed (weighted by the row hash)
and compared with a tolerance, everything else is hashed exactly."""
import datetime
import decimal
import hashlib

MASK = (1 << 64) - 1
_EPOCH = datetime.datetime(1970, 1, 1)


def _canonical(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        s = format(v.normalize(), "f")
        return s if s != "-0" else "0"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, str):
        return v
    raise TypeError(f"digest: unsupported value type {type(v).__name__}")


def digest(rows):
    """rows: iterable of tuples -> {"rows", "hash", "fsums"}"""
    n = 0
    total = 0
    fsums = []
    for row in rows:
        n += 1
        parts = []
        floats = []
        for v in row:
            if isinstance(v, float):
                floats.append(v)
            else:
                parts.append(_canonical(v))
        h = int.from_bytes(hashlib.md5("\x1f".join(parts).encode("utf-8")).digest()[:8], "big")
        total = (total + h) & MASK
        while len(fsums) < len(floats):
            fsums.append(0.0)
        w = 1.0 + (h & 1023) / 1024.0
        for i, f in enumerate(floats):
            fsums[i] += f * w
    return {"rows": n, "hash": str(total), "fsums": fsums}


def same(got, want, rel=1e-7, abs_tol=1e-6):
    """True when two digests describe the same result."""
    if got is None or want is None:
        return False
    if int(got["rows"]) != int(want["rows"]) or str(got["hash"]) != str(want["hash"]):
        return False
    if len(got["fsums"]) != len(want["fsums"]):
        return False
    for a, b in zip(got["fsums"], want["fsums"]):
        if abs(a - b) > max(abs_tol, rel * max(abs(a), abs(b))):
            return False
    return True

"""Order-independent result digest, the Python twin of Digest.scala.

Every row is rendered as a canonical string (columns sorted by lower-cased
name, typed value encodings), hashed with MD5, and the first 8 bytes of each
hash are summed modulo 2^64. The digest is "<rows>:<sum as 16 hex digits>".
"""
import decimal
import hashlib
import struct


def _dec(v):
    return "d:" + ("0" if v == 0 else format(v.normalize(), "f"))


def _seq(v):
    return "[" + ",".join(_enc(x) for x in v) + "]"


def _map(v):
    return "{" + ",".join(_enc(x) for x in v.values()) + "}"


# encoders by value type, most specific first (bool is an int)
_ENCODERS = [
    (type(None), lambda v: "N"),
    (bool, lambda v: "T" if v else "F"),
    (int, lambda v: "i:%d" % v),
    (float, lambda v: "f:" + struct.pack(">d", v).hex()),
    (decimal.Decimal, _dec),
    (str, lambda v: "s:" + v),
    (list, _seq),
    (tuple, _seq),
    (dict, _map),
]
_BY_TYPE = dict(_ENCODERS)


def _enc(v):
    f = _BY_TYPE.get(type(v))
    if f is not None:
        return f(v)
    for t, g in _ENCODERS:
        if isinstance(v, t):
            return g(v)
    return "?:" + str(v)


def digest(names, rows):
    order = [i for _, i in sorted((n.lower(), i) for i, n in enumerate(names))]
    total = 0
    n = 0
    for r in rows:
        h = hashlib.md5("|".join([_enc(r[i]) for i in order]).encode("utf-8")).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
        n += 1
    return "%d:%016x" % (n, total)


def duckdb_digest(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return digest(names, cur.fetchall())


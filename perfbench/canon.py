"""Engine-neutral text form of a result; the same rules as Canon.scala.

Columns are ordered by name, a row is its cells joined by a tab, and rows
are sorted by their UTF-8 bytes. Integers print exactly; floating and decimal
values are rounded to 9 significant digits (half-even, from the exact binary
value), which absorbs summation-order differences between the engines but not
a wrong answer. Structs and maps print as their key:value entries, sorted.
The validation run checks both forms against each other on a row that holds
every kind of value (OperatorBatch.PROBE).
"""
import datetime
import decimal
import hashlib
import math

_CTX = decimal.Context(prec=9, rounding=decimal.ROUND_HALF_EVEN)


def _num(d):
    if d == 0:
        return "0"
    s = format(d.normalize(_CTX), "f")
    return s


def _esc(s):
    return s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")


def cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Infinity" if v > 0 else "-Infinity"
        return _num(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _num(v)
    if isinstance(v, str):
        return _esc(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        base = v.strftime("%Y-%m-%d %H:%M:%S")
        return base if v.microsecond == 0 else f"{base}.{v.microsecond:06d}"
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        # DuckDB hands a MAP over as {"key": [...], "value": [...]} and a
        # STRUCT as {field: value}; both print as sorted key:value entries
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            entries = zip(v["key"], v["value"])
        else:
            entries = v.items()
        return "{" + ",".join(sorted((cell(k) + ":" + cell(x) for k, x in entries),
                                     key=lambda e: e.encode("utf-8"))) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return _esc(str(v))


def lines(cols, rows):
    """Sorted canonical lines of rows whose cells follow `cols`."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["\t".join(cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda s: s.encode("utf-8"))
    return out


def digest(sorted_lines):
    h = hashlib.sha256("\n".join(sorted_lines).encode("utf-8"))
    return h.hexdigest()[:24]


def query(con, sql):
    """(rows, digest, lines) of one DuckDB query."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    ls = lines(cols, cur.fetchall())
    return len(ls), digest(ls), ls

"""Checks each analytics query's Spark result against its DuckDB twin.

Both sides are compared as multisets of rows after explicit formatting:
floats and decimals to nine significant digits, timestamps in UTC ISO
form, nested values recursively. Row order is ignored, so a query whose
ORDER BY leaves ties cannot report a false mismatch; column names must
match exactly.

When the formatted multisets differ, rows are paired in sorted order and
accepted if every non-float field is equal and every float differs by at
most TIE_TOL. The queries round to six decimals, and on an exact decimal
tie the engines can disagree: Spark rounds the double's exact value
half-up, while DuckDB's round(double, 6) scales in floating point first.
For example, text_quality on 1,000 seed-1 documents, doc 991: the exact
value is 0.5046875, Spark gives 0.504688, DuckDB 0.504687. Such rows are
counted and reported in the check's detail, not hidden.
"""
import datetime
import decimal
import math
import os
from collections import Counter

import duckdb


def fmt(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if f == 0.0:
            return "0"
        return format(f, ".9g")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{fmt(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(fmt(x) for x in v) + "]"
    return str(v)


TIE_TOL = 1.5e-6


def _rows(cur):
    return [d[0] for d in cur.description], cur.fetchall()


def _tie_pairs(got, want):
    """Number of rows that differ only by a rounding tie, or None when
    some row differs by more."""
    def key(r):
        return tuple(format(round(float(v), 5), ".5f") if isinstance(v, float)
                     else fmt(v) for v in r)
    a, b = sorted(got, key=key), sorted(want, key=key)
    ties = 0
    for x, y in zip(a, b):
        if x == y:
            continue
        for u, v in zip(x, y):
            if isinstance(u, float) and isinstance(v, float):
                if not abs(u - v) <= TIE_TOL:
                    return None
            elif fmt(u) != fmt(v):
                return None
        ties += 1
    return ties


def check(data_dir, results_dir, oracle_sql):
    """Returns {query: (ok, detail)} for every query in `oracle_sql`."""
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, f)}')")
    out = {}
    for q, sql in sorted(oracle_sql.items()):
        d = os.path.join(results_dir, q)
        if not os.path.isdir(d):
            out[q] = (False, "no Spark result")
            continue
        try:
            got_cols, got_rows = _rows(con.execute(
                f"SELECT * FROM read_parquet('{d}/*.parquet')"))
            want_cols, want_rows = _rows(con.execute(sql))
        except Exception as e:  # a failing twin is a failed check
            out[q] = (False, f"duckdb: {e}"[:300])
            continue
        got = Counter(tuple(fmt(v) for v in r) for r in got_rows)
        want = Counter(tuple(fmt(v) for v in r) for r in want_rows)
        if got_cols != want_cols:
            out[q] = (False, f"columns {got_cols} vs oracle {want_cols}")
        elif got == want:
            out[q] = (True, f"{len(got_rows)} rows")
        else:
            ties = (_tie_pairs(got_rows, want_rows)
                    if len(got_rows) == len(want_rows) else None)
            extra = list((got - want).elements())[:1]
            missing = list((want - got).elements())[:1]
            if ties is None:
                out[q] = (False, f"{len(got_rows)} rows vs oracle "
                                 f"{len(want_rows)}; extra {extra} missing {missing}"[:300])
            else:
                out[q] = (True, f"{len(got_rows)} rows; {ties} differ by a "
                                f"six-decimal rounding tie, e.g. {extra} vs {missing}"[:300])
    return out


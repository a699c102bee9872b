"""Request semantics, the response checker and the percentile rule.

A request's meaning is a conjunction of (field, op, value) terms written
here, independent of graft's compile/ and exec/ code. From it come the
DuckDB count that sets the expected `total_matching` and the row predicate
each returned row must satisfy.
"""
import json
import math
import re

OPS = {"eq", "ne", "gt", "lt", "gte", "lte", "in", "regex_i"}


def _sql_lit(v):
    return f"'{v}'" if isinstance(v, str) else repr(v)


def where_sql(terms):
    """DuckDB WHERE clause for a conjunction of terms (TRUE when empty)."""
    out = []
    for f, op, v in terms:
        if op == "in":
            out.append(f"{f} IN ({', '.join(_sql_lit(x) for x in v)})")
        elif op == "regex_i":
            out.append(f"regexp_matches({f}, {_sql_lit(v)}, 'i')")
        else:
            sym = {"eq": "=", "ne": "IS DISTINCT FROM", "gt": ">", "lt": "<",
                   "gte": ">=", "lte": "<="}[op]
            out.append(f"{f} {sym} {_sql_lit(v)}")
    return " AND ".join(out) or "TRUE"


def row_matches(terms, row):
    """Whether `row` satisfies every term on a field it carries; a term on
    a field the projection dropped is checked by the total count only."""
    for f, op, v in terms:
        if f not in row:
            continue
        x = row[f]
        if op == "eq":
            ok = x == v
        elif op == "ne":
            ok = x != v
        elif op == "gt":
            ok = x is not None and x > v
        elif op == "lt":
            ok = x is not None and x < v
        elif op == "gte":
            ok = x is not None and x >= v
        elif op == "lte":
            ok = x is not None and x <= v
        elif op == "in":
            ok = x in v
        else:
            ok = isinstance(x, str) and re.search(v, x, re.I) is not None
        if not ok:
            return False
    return True


def check_response(status, body, terms, fields, limit, expected_total):
    """None when the response is correct, else the reason it is not.

    `fields` is the exact key set every returned row must carry."""
    if status != 200:
        return f"HTTP {status}"
    try:
        env = json.loads(body)
    except ValueError:
        return "body is not JSON"
    if env.get("ok") is not True:
        return f"not ok: {env.get('error')}"
    total = env.get("total_matching")
    if total != expected_total:
        return f"total_matching {total} != expected {expected_total}"
    rows = env.get("results")
    want = min(limit, expected_total)
    if env.get("result_count") != want or not isinstance(rows, list) or len(rows) != want:
        return f"result_count {env.get('result_count')} != {want}"
    for r in rows:
        if set(r) != fields:
            return f"row fields {sorted(r)} != {sorted(fields)}"
        if not row_matches(terms, r):
            return f"row {r} does not satisfy the filter"
    return None


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least q of the
    samples at or below it."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def beyond(n, q):
    """Samples strictly beyond the nearest-rank q-percentile of n samples."""
    return n - max(0, math.ceil(q * n))


def gated(xs, q, min_beyond=10):
    """(percentile, samples beyond it, whether the sample supports it): a
    percentile is reported only with at least `min_beyond` samples above."""
    k = beyond(len(xs), q)
    return percentile(xs, q), k, k >= min_beyond

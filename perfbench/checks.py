"""Correctness checks for the warm-up pass's results.

A query with an oracle (`SparkEntry.oracleSql`) is compared against DuckDB
by the rules of the repo's scripts/check.py, whose functions this module
uses: same column names, same row count, and the same rows once columns are
sorted by name and rows are sorted, floats equal to 1e-9 relative or
absolute tolerance. Any other query is compared against its committed
fingerprint (perfbench/fingerprints.json): the row count and an
order-insensitive hash of the rounded values.
"""
import hashlib
import math
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from check import TABLES, close, table_rows  # noqa: E402


# --- oracle comparison (the rules of scripts/check.py) ----------------------

def compare(got, exp):
    """None when the two Arrow tables agree, else a one-line reason."""
    if _equal_once_sorted(got, exp):
        return None
    gc, gr = table_rows(got)
    ec, er = table_rows(exp)
    if gc != ec:
        return "schema %s vs oracle %s" % (gc, ec)
    if len(gr) != len(er):
        return "%d rows vs oracle %d" % (len(gr), len(er))
    for i, (g, e) in enumerate(zip(gr, er)):
        if not all(close(a, b) for a, b in zip(g, e)):
            return "value mismatch at sorted row %d" % i
    return None


def _equal_once_sorted(got, exp):
    """Whether the tables are equal once their columns are put in name order,
    integers widened to int64, floats rounded to 9 decimals as norm_cell
    does, and rows sorted. Tables that are, agree by the rules too. This
    settles them in Arrow without converting rows to Python: a check of
    audience's results (three of 69k-150k rows) took 0.2 s this way and
    13 s through table_rows alone, some 5 minutes over the two dozen
    audience runs of a comparison of two commits. False where Arrow cannot sort a column
    (lists) or the tables differ; compare() then applies the rules."""
    import pyarrow as pa
    import pyarrow.compute as pc
    cols = sorted(got.column_names)
    if cols != sorted(exp.column_names) or got.num_rows != exp.num_rows:
        return False

    def normal(table):
        arrays = []
        for c in cols:
            a = table.column(c)
            if pa.types.is_integer(a.type):
                a = a.cast(pa.int64())
            elif pa.types.is_floating(a.type):
                a = pc.round(a.cast(pa.float64()), 9)
            arrays.append(a)
        return pa.table(arrays, names=cols).sort_by([(c, "ascending") for c in cols])

    try:
        return normal(got).equals(normal(exp))
    except (pa.ArrowTypeError, pa.ArrowNotImplementedError):  # e.g. list columns: not sortable
        return False


# --- fingerprints ------------------------------------------------------------

def round_cell(v):
    """A value with floats rounded to 6 significant digits, so that
    last-bit differences of floating-point sums do not change the hash."""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = float("%.6g" % v)
        return 0.0 if r == 0 else r
    if isinstance(v, list):
        return [round_cell(x) for x in v]
    if isinstance(v, dict):
        return sorted((k, round_cell(x)) for k, x in v.items())
    return v


def fingerprint(cols, rows):
    """Row count and an order-insensitive hash of the rounded values: the
    rows' hashes are summed modulo 2**64, so row order does not matter."""
    cols = sorted(cols)
    acc = 0
    for r in rows:
        cells = repr([(c, round_cell(r[c])) for c in cols]).encode("utf-8")
        acc = (acc + int.from_bytes(hashlib.sha256(cells).digest()[:8], "little")) % (1 << 64)
    return {"rows": len(rows), "hash": "%016x" % acc}


# --- driving the checks ------------------------------------------------------

def read_result(path):
    import pyarrow.parquet as pq
    return pq.read_table(path)


def oracle_result(con, sql, data_dir, cache_dir):
    """The oracle's result as an Arrow table. The result depends only on the SQL and
    the tables, so it is cached under a key of both: the slowest oracles
    take seconds in DuckDB."""
    import pyarrow.parquet as pq
    key = hashlib.sha256(sql.encode("utf-8"))
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            st = os.stat(p)
            key.update(("%s %d %d" % (p, st.st_size, st.st_mtime_ns)).encode("utf-8"))
    path = os.path.join(cache_dir, key.hexdigest() + ".parquet")
    if os.path.exists(path):
        return read_result(path)
    exp = con().execute(sql).arrow()
    os.makedirs(cache_dir, exist_ok=True)
    pq.write_table(exp, path + ".tmp")
    os.replace(path + ".tmp", path)
    return exp


def check_all(data_dir, results_dir, queries, oracles, fingerprints, cache_dir):
    """Checks each query's written result. Returns {query: reason} for the
    queries that failed; a query without a written result has failed."""
    failures = {}
    duck = []

    def con():
        if not duck:
            import duckdb
            duck.append(duckdb.connect())
            for t in TABLES:
                p = os.path.join(data_dir, t + ".parquet")
                if os.path.exists(p):
                    duck[0].execute("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
        return duck[0]

    for q in queries:
        path = os.path.join(results_dir, q)
        if not os.path.isdir(path):
            failures[q] = "no result written"
            continue
        try:
            got = read_result(path)
            if q in oracles:
                reason = compare(got, oracle_result(con, oracles[q], data_dir, cache_dir))
            elif q in fingerprints:
                got = fingerprint(got.column_names, got.to_pylist())
                reason = None if got == fingerprints[q] else "fingerprint %s vs %s" % (got, fingerprints[q])
            else:
                reason = "no oracle and no fingerprint"
        except Exception as e:  # an unreadable result is a failed check
            reason = "%s: %s" % (type(e).__name__, e)
        if reason:
            failures[q] = reason
    return failures

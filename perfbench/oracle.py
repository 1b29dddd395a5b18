"""Compare the engine's checked outputs with their DuckDB oracle twins.

The JVM writes each checked result as parquet under `<out>/<key>` and
the twin's SQL (`SparkEntry.oracleSql`) into the run record. Both sides
are canonicalised the way the engine's own oracle gate does it: columns
sorted by name, rows sorted, and an oracle column typed HUGEINT or
DECIMAL is a failure because the two sides would render it differently.

Every non-float cell must be equal. A float cell must be bit-equal (by
repr, so -0.0 and 0.0 differ) or within REL_TOL of the oracle's value:
the engine and DuckDB add doubles in different orders, and a sum that
lands within an ulp of a rounding boundary then rounds one cent apart
(seen on generated inputs: a 1.6e9 monthly margin at .03 vs .04). Such
cells pass and are counted in the detail, so they stay visible.
"""
import glob
import math
import os

import duckdb


REL_TOL = 1e-9


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return "T" if v else "F"
    return str(v)


def _sort_key(v):
    # floats sort by 9 significant digits, so cells within REL_TOL of
    # each other keep their rows aligned
    if isinstance(v, float) and not math.isnan(v):
        return f"{v:.9g}"
    return _norm(v)


def canon(cols, rows):
    """Columns sorted by name; rows sorted, as raw value tuples."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rows]
    return ([cols[i] for i in order],
            sorted(rows, key=lambda r: tuple(_sort_key(v) for v in r)))


def cell_match(a, b):
    """'exact', 'close' (floats within REL_TOL) or None (a mismatch)."""
    if _norm(a) == _norm(b):
        return "exact"
    if isinstance(a, float) and isinstance(b, float) and \
            abs(a - b) <= REL_TOL * max(abs(a), abs(b)):
        return "close"
    return None


def compare(name, sql, out_dir, data_dir):
    """(ok, detail) for one checked output against its oracle twin."""
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.execute("SET threads=4")
        for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
            t = os.path.basename(path)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        try:
            rel = con.sql(sql)
        except duckdb.Error as e:
            return False, f"oracle error: {e}"
        bad = {c: str(t) for c, t in zip(rel.columns, rel.types)
               if str(t) == "HUGEINT" or str(t).startswith("DECIMAL")}
        if bad:
            return False, f"oracle output type needs a CAST: {bad}"
        ocols, orows = rel.columns, rel.fetchall()
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            return False, "no engine output"
        cur = con.execute(f"SELECT * FROM read_parquet({files!r})")
        scols = [d[0] for d in cur.description]
        srows = cur.fetchall()
    finally:
        con.close()
    oc, orw = canon(ocols, orows)
    sc, srw = canon(scols, srows)
    if sc != oc:
        return False, f"schema engine={sc} oracle={oc}"
    if len(srw) != len(orw):
        return False, f"rows engine={len(srw)} oracle={len(orw)}"
    close, diff = 0, []
    for a, b in zip(srw, orw):
        m = [cell_match(x, y) for x, y in zip(a, b)]
        if None in m:
            diff.append((a, b))
        close += m.count("close")
    if diff:
        return False, f"values differ (engine, oracle): {diff[:2]}"
    return True, f"{len(srw)} rows, {close} float cells within {REL_TOL:g}"

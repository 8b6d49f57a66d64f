"""Output checks that need no JVM: each batch_course program's rows
against its DuckDB oracle over the same generated input dir.

The comparison follows scripts/check.py: columns compared by sorted
name, rows sorted by all columns, values rendered with full float
precision and NULL kept distinct from every string.
"""
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return (True, None)
    if isinstance(v, float):
        return (False, "NaN" if math.isnan(v) else repr(v))
    return (False, str(v))


def compare(con, got_sql, exp_sql):
    """None when equal, else a one-line reason."""
    got = con.sql(got_sql)
    exp = con.sql(exp_sql)
    gc, ec = sorted(got.columns), sorted(exp.columns)
    if gc != ec:
        return f"columns spark={gc} duckdb={ec}"
    g = con.sql(f"SELECT {', '.join(gc)} FROM got ORDER BY ALL").fetchall()
    e = con.sql(f"SELECT {', '.join(ec)} FROM exp ORDER BY ALL").fetchall()
    if len(g) != len(e):
        return f"rows spark={len(g)} duckdb={len(e)}"
    for i, (a, b) in enumerate(zip(g, e)):
        if [norm(v) for v in a] != [norm(v) for v in b]:
            return f"row {i} differs: spark={a!r:.200} duckdb={b!r:.200}"
    return None


def oracle_failures(input_dir, results_dir, oracles, tmp_dir):
    """[(program, reason)] for every program whose rows differ from its
    oracle's."""
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        p = os.path.join(input_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    out = []
    for name, sql in sorted(oracles.items()):
        rd = os.path.join(results_dir, name)
        try:
            why = compare(con, f"SELECT * FROM '{rd}/*.parquet'", sql)
        except Exception as e:  # a broken oracle or missing output is a failure too
            why = f"error: {e}"[:300]
        if why:
            out.append((name, why))
    con.close()
    return out

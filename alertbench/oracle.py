"""Checks the catalog workload's result dumps against the DuckDB oracle.

Each headline query's warm-up result is written by the JVM as parquet under
<dump>/<name>/, next to <dump>/oracle_sql.json (the program's oracle SQL
per query). Both sides are read through DuckDB and compared with the
program's oracle rules: columns matched by name, rows sorted, cells equal
exactly (floats bit-exact, NaN == NaN), column types equal, and no HUGEINT
in an oracle result. A query without oracle SQL is checked only for having
run.
"""
import json
import math
import os

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted((tuple(r[i] for i in order) for r in rows),
                 key=lambda t: tuple((v is not None, str(v)) for v in t))
    return [cols[i] for i in order], out


def _cells_equal(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    return str(a) == str(b)


def _digest_problem(con, name, dump, sql):
    spark_rel = con.sql(f"SELECT * FROM read_parquet('{dump}/*.parquet')")
    duck_rel = con.sql(sql)
    s_cols = [c.lower() for c in spark_rel.columns]
    d_cols = [c.lower() for c in duck_rel.columns]
    s_types = dict(zip(s_cols, map(str, spark_rel.types)))
    d_types = dict(zip(d_cols, map(str, duck_rel.types)))
    sc, sr = _canon(spark_rel.fetchall(), s_cols)
    dc, dr = _canon(duck_rel.fetchall(), d_cols)
    if sc != dc:
        return f"{name}: columns {sc} != oracle {dc}"
    bad_types = [c for c in sc if s_types[c] != d_types[c] or "HUGEINT" in d_types[c]]
    if bad_types:
        return f"{name}: column types differ from oracle: {bad_types}"
    if len(sr) != len(dr):
        return f"{name}: {len(sr)} rows, oracle {len(dr)}"
    for i, (a, b) in enumerate(zip(sr, dr)):
        for j, (x, y) in enumerate(zip(a, b)):
            if not _cells_equal(x, y):
                return f"{name}: row {i} col {sc[j]}: {x!r} != oracle {y!r}"
    return None


def check(sf_dir, dump_dir):
    """Problems found (empty list = every dumped query matches its oracle)."""
    try:
        import duckdb
    except ImportError:
        return ["catalog: duckdb is not importable, results cannot be checked"]
    with open(os.path.join(dump_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    problems = []
    for name, sql in sorted(oracle.items()):
        dump = os.path.join(dump_dir, name)
        if not os.path.isdir(dump):
            problems.append(f"{name}: no result dump")
            continue
        try:
            p = _digest_problem(con, name, dump, sql)
        except Exception as e:  # a failing oracle query is a failed check
            p = f"{name}: {e}"
        if p:
            problems.append(p)
    con.close()
    return problems

"""The corpus_curate output check: each query's output, written as parquet
by the harness, must hash-match DuckDB running the query's oracle SQL on
the same generated tables (columns sorted by name, rows sorted, cells
compared as text)."""
import hashlib
import json
import os

import duckdb


def _cell(v):
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical_hash(cols, rows):
    """Hash of a result with columns sorted by name and rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\t".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\t".join(cols[i] for i in order).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest(), len(lines)


def _result(con, sql):
    rel = con.sql(sql)
    return rel.columns, rel.fetchall()


def compare(con, got_sql, want_sql):
    got, n_got = canonical_hash(*_result(con, got_sql))
    want, n_want = canonical_hash(*_result(con, want_sql))
    return got == want, f"{n_got} rows vs oracle {n_want}"


def check_dir(out_dir):
    """Returns ({query: matched}, [problem, ...]) for the outputs in out_dir."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(out_dir, "tables.json")) as f:
        tables = json.load(f)
    con = duckdb.connect()
    con.sql("SET enable_progress_bar = false")
    for name, path in tables.items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    matched, problems = {}, []
    for name, sql in sorted(oracles.items()):
        try:
            ok, detail = compare(con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'", sql)
        except Exception as e:  # a query the oracle cannot run is a failed check
            ok, detail = False, f"{type(e).__name__}: {e}"
        matched[name] = ok
        if not ok:
            problems.append(f"oracle mismatch {name}: {detail}")
    return matched, problems


def selftest():
    """The checker passes an exact output and fails a planted wrong one."""
    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT i AS id, i % 7 AS g, round(i / 3.0, 4) AS x FROM range(200) r(i)")
    want = "SELECT g, count(*) AS n, sum(x) AS s FROM t GROUP BY g"
    fails = []
    if not compare(con, "SELECT * FROM (" + want + ") ORDER BY g DESC", want)[0]:
        fails.append("oracle checker rejects a correct output in another row order")
    planted = [
        ("a changed value", "SELECT g, n + (g = 3)::INT AS n, s FROM (" + want + ")"),
        ("a missing row", "SELECT * FROM (" + want + ") WHERE g <> 5"),
        ("a duplicated row", "SELECT * FROM (" + want + ") UNION ALL SELECT * FROM (" + want + ") WHERE g = 1"),
    ]
    for what, sql in planted:
        if compare(con, sql, want)[0]:
            fails.append(f"oracle checker accepts {what}")
    return fails

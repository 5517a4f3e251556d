"""DuckDB oracle check for query_suite: run each entry's `oracleSql` on the
same generated parquet tables and compare with the result Spark wrote.

Columns are compared by name, rows as a multiset; values must be equal
(the program makes its oracle-checked outputs exact, see graft.util.Exact).
"""
import datetime
import glob
import os

TABLES = ["nation", "supplier", "part", "orders", "lineitem", "events", "documents"]


def _norm(v):
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _key(row):
    return tuple((0, 0) if v is None else (1, v) for v in row)


def _rows(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    rows = [tuple(_norm(r[i]) for i in order) for r in cur.fetchall()]
    return [names[i] for i in order], sorted(rows, key=_key)


def check(tables_dir, checks):
    """[(name, error or None)] for each {"name", "result", "sql"} check."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in TABLES:
        src = f"read_parquet('{tables_dir}/{t}.parquet/*.parquet')"
        if t == "events":
            con.execute(f"CREATE VIEW events AS SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, "
                        f"user_id, event_type, value, props FROM {src}")
        else:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    out = []
    for c in checks:
        name = c["name"]
        try:
            if not glob.glob(os.path.join(c["result"], "*.parquet")):
                raise ValueError("no result written")
            got_cols, got = _rows(con, f"SELECT * FROM read_parquet('{c['result']}/*.parquet')")
            exp_cols, exp = _rows(con, c["sql"])
            if got_cols != exp_cols:
                raise ValueError(f"columns {got_cols} != oracle {exp_cols}")
            if len(got) != len(exp):
                raise ValueError(f"{len(got)} rows != oracle {len(exp)}")
            bad = [(a, b) for a, b in zip(got, exp) if a != b]
            if bad:
                raise ValueError(f"{len(bad)} rows differ, first {bad[0][0]} != {bad[0][1]}")
            out.append((name, None))
        except Exception as e:  # every failure is a counted, named check failure
            out.append((name, f"{type(e).__name__}: {e}"))
    return out

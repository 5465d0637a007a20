"""DuckDB oracle comparison for the streaming gate's result dumps.

For each query the run dumped, runs the query's oracle SQL on DuckDB
over the same generated `events` table and compares row count, column
names and an order-free value hash (floats to 12 significant digits),
the same rule the engine's own oracle gate applies.
"""
import math
import os

import duckdb


def canon(v):
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(float(f"{v + 0.0:.12g}") + 0.0)
    return str(v)


def table_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def compare(tables_dir, dumps_dir, oracle_sql):
    """Returns {query: None if it matches else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{tables_dir}/events.parquet')")
    out = {}
    for name in sorted(os.listdir(dumps_dir)) if os.path.isdir(dumps_dir) else []:
        try:
            duck = con.execute(oracle_sql[name])
            dcols = [d[0] for d in duck.description]
            drows = duck.fetchall()
            sp = con.execute(f"SELECT * FROM read_parquet('{dumps_dir}/{name}/*.parquet')")
            scols = [d[0] for d in sp.description]
            srows = sp.fetchall()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            out[name] = f"oracle error: {e}"
            continue
        if sorted(dcols) != sorted(scols):
            out[name] = f"columns duckdb={sorted(dcols)} engine={sorted(scols)}"
        elif len(drows) != len(srows):
            out[name] = f"rows duckdb={len(drows)} engine={len(srows)}"
        else:
            dk, sk = table_key(drows, dcols), table_key(srows, scols)
            diffs = [i for i, (a, b) in enumerate(zip(dk, sk)) if a != b]
            out[name] = (f"{len(diffs)} rows differ; first duckdb={dk[diffs[0]]} "
                         f"engine={sk[diffs[0]]}") if diffs else None
    return out

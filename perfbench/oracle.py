"""DuckDB replay of the etl_api query variants.

Each case carries the first result Spark produced for one variant and the
SQL of the same composition over the generated parquet tables. Rows are
compared with the repository's oracle rules (tools/compare.py: columns
sorted by name, rows sorted by all columns, exact float equality).
"""
import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _connect(input_dir):
    """DuckDB with one view per generated `<name>.parquet` directory."""
    import duckdb
    con = duckdb.connect()
    names = []
    for entry in sorted(os.listdir(input_dir)):
        if entry.endswith(".parquet"):
            names.append(entry[: -len(".parquet")])
            con.execute(f"CREATE VIEW {names[-1]} AS SELECT * FROM "
                        f"'{os.path.join(input_dir, entry)}/*.parquet'")
    return con, names


def input_summary(input_dir):
    """Row count per generated table and one order-independent signature
    over all of their contents: equal seeds must give equal signatures."""
    con, names = _connect(input_dir)
    rows, digest = {}, hashlib.sha256()
    for name in names:
        n, h = con.sql(f"SELECT count(*), sum(hash(t)) FROM {name} t").fetchone()
        rows[name] = n
        digest.update(f"{name}:{n}:{h};".encode())
    con.close()
    return {"rows": rows, "signature": digest.hexdigest()[:16]}


def failed_variants(input_dir, cases):
    """{variant key: reason} for every case whose replay disagrees."""
    if not cases:
        return {}
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from compare import norm, values_equal

    con, _ = _connect(input_dir)
    bad = {}
    for case in cases:
        got = norm(pd.DataFrame(case["rows"], columns=case["columns"]))
        want = norm(con.sql(case["sql"]).df())
        if list(got.columns) != list(want.columns):
            bad[case["key"]] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            bad[case["key"]] = f"{len(got)} rows, DuckDB has {len(want)}"
        else:
            for c in got.columns:
                diff = [i for i, (a, b) in enumerate(zip(got[c], want[c])) if not values_equal(a, b)]
                if diff:
                    i = diff[0]
                    bad[case["key"]] = f"{c}[{i}]: {got[c][i]!r} != {want[c][i]!r} ({len(diff)} cells)"
                    break
    con.close()
    return bad

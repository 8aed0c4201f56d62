"""Registry correctness check: each query's Spark result against its DuckDB
oracle, with the repository's exact compare (`tools/check_oracle.py`:
columns sorted by name, values normalised bitwise and type-strict, rows
compared in order).
"""
import glob
import importlib.util
import json
import os


def load_check_oracle(root):
    path = os.path.join(root, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare_tables(norm, spark_tbl, duck_tbl):
    """None when equal, else a message naming the first difference."""
    s_cols = sorted(spark_tbl.column_names)
    d_cols = sorted(duck_tbl.column_names)
    if s_cols != d_cols:
        return f"columns differ spark={s_cols} duck={d_cols}"
    s_rows = [tuple(norm(r[c]) for c in s_cols) for r in spark_tbl.to_pylist()]
    d_rows = [tuple(norm(r[c]) for c in d_cols) for r in duck_tbl.to_pylist()]
    if len(s_rows) != len(d_rows):
        return f"row count spark={len(s_rows)} duck={len(d_rows)}"
    for i, (a, b) in enumerate(zip(s_rows, d_rows)):
        if a != b:
            col = next(c for c, x, y in zip(s_cols, a, b) if x != y)
            return f"row {i} column {col}: spark={a[s_cols.index(col)]!r} duck={b[s_cols.index(col)]!r}"
    return None


def check(root, tables_dir, dump_dir, names):
    """Check every query in `names`; returns {name: failure message}."""
    import duckdb
    import pyarrow.parquet as pq
    co = load_check_oracle(root)
    con = duckdb.connect()
    for t in co.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(os.path.join(dump_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = {}
    for name in names:
        try:
            if name not in oracle:
                failures[name] = "no oracle SQL"
                continue
            files = sorted(glob.glob(f"{dump_dir}/{name}/*.parquet"))
            if len(files) != 1:
                failures[name] = f"{len(files)} result files (expected 1)"
                continue
            msg = compare_tables(co.norm, pq.read_table(files),
                                 con.execute(oracle[name]).fetch_arrow_table())
            if msg:
                failures[name] = msg
        except Exception as e:  # noqa: BLE001 - every error fails the query
            failures[name] = f"{type(e).__name__}: {e}"
    return failures

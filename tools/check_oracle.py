#!/usr/bin/env python3
"""Local pre-check of the driver's t2 gate: for each query dumped by
graft.Verify, run the oracle SQL in DuckDB over the same parquet tables
and diff values exactly (columns sorted by name, like the driver).

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>
"""
import decimal
import json
import struct
import sys

import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        # bitwise-exact: the driver hashes raw values, so a 1-ulp
        # engine difference is a FAIL — no rounding tolerance here
        return "f:" + struct.pack("<d", v).hex()
    if isinstance(v, decimal.Decimal):
        # r1 driver run proved decimal-vs-int64 mismatches FAIL its hash
        # (DuckDB SUM(BIGINT) -> HUGEINT) even though Decimal == int in
        # Python — keep the type visible so we catch them locally
        return "dec:" + str(v)
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return "i:" + str(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]  # µs precision
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def main(sf_dir, out_dir):
    con = duckdb.connect()
    import os
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):  # ScaleUp writes directory-style tables
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    if not oracle:
        # an empty dump (e.g. a Verify run that selected no query) must
        # not read as a clean "0/0 queries match"
        print(f"FAIL: {out_dir}/oracle_sql.json has no entries")
        return 1
    failures = 0
    for name, sql in sorted(oracle.items()):
        try:
            import glob
            files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
            if not files:
                print(f"FAIL {name}: no spark output written")
                failures += 1
                continue
            if len(files) > 1:
                # Verify coalesce(1) should emit one part file; more
                # would make row order across files meaningless
                print(f"FAIL {name}: {len(files)} part files (expected 1)")
                failures += 1
                continue
            spark_tbl = pq.read_table(files)
            duck = con.execute(sql).fetch_arrow_table()
            s_cols = sorted(spark_tbl.column_names)
            d_cols = sorted(duck.column_names)
            if s_cols != d_cols:
                print(f"FAIL {name}: columns differ spark={s_cols} duck={d_cols}")
                failures += 1
                continue
            s_rows = [tuple(norm(r[c]) for c in s_cols)
                      for r in spark_tbl.to_pylist()]
            d_rows = [tuple(norm(r[c]) for c in d_cols)
                      for r in duck.to_pylist()]
            if len(s_rows) != len(d_rows):
                print(f"FAIL {name}: row count spark={len(s_rows)} duck={len(d_rows)}")
                failures += 1
                continue
            bad = [(i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows))
                   if a != b]
            if bad:
                print(f"FAIL {name}: {len(bad)}/{len(s_rows)} rows differ; first:")
                i, a, b = bad[0]
                for c, x, y in zip(s_cols, a, b):
                    mark = " <---" if x != y else ""
                    print(f"    row {i} {c}: spark={x!r} duck={y!r}{mark}")
                failures += 1
            else:
                print(f"OK   {name} ({len(s_rows)} rows)")
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            failures += 1
    print(f"\n{len(oracle) - failures}/{len(oracle)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

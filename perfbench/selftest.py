"""Self-tests of the registry check: a planted wrong query row, or a float
one ulp off, fails the oracle compare and names the query."""
import json
import os
import struct

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen_tables
import oracle

PROBE_SQL = ("SELECT n_nationkey, n_name, CAST(n_regionkey AS DOUBLE) / 3 AS third "
             "FROM nation ORDER BY n_nationkey")


def _dump(dump, table):
    os.makedirs(os.path.join(dump, "q_probe"), exist_ok=True)
    pq.write_table(table, os.path.join(dump, "q_probe", "part-0.parquet"))


def _replace(table, column, row, value):
    values = table.column(column).to_pylist()
    values[row] = value
    i = table.column_names.index(column)
    return table.set_column(i, column, pa.array(values, table.schema.field(column).type))


def main(root, work):
    tables = os.path.join(work, "py-tables")
    dump = os.path.join(work, "py-dump")
    os.makedirs(dump, exist_ok=True)
    gen_tables.generate(tables, 5, 0.0001)
    with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
        json.dump({"q_probe": PROBE_SQL}, f)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW nation AS SELECT * FROM '{tables}/nation.parquet'")
    truth = con.execute(PROBE_SQL).fetch_arrow_table()

    cases = []
    _dump(dump, truth)
    cases.append(("the oracle's own rows pass",
                  oracle.check(root, tables, dump, ["q_probe"]) == {}))
    _dump(dump, _replace(truth, "n_name", 7, "NATION_X"))
    got = oracle.check(root, tables, dump, ["q_probe"])
    cases.append(("a planted wrong row fails, naming query, row and column",
                  "row 7 column n_name" in got.get("q_probe", "")))
    third = truth.column("third").to_pylist()[4]
    ulp = struct.unpack("<d", struct.pack("<q", struct.unpack("<q", struct.pack("<d", third))[0] + 1))[0]
    _dump(dump, _replace(truth, "third", 4, ulp))
    cases.append(("a double one ulp off fails",
                  "q_probe" in oracle.check(root, tables, dump, ["q_probe"])))
    _dump(dump, truth.slice(0, 24))
    cases.append(("a missing row fails",
                  "row count" in oracle.check(root, tables, dump, ["q_probe"]).get("q_probe", "")))
    for name, ok in cases:
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    ok = all(ok for _, ok in cases)
    print("python self-tests passed" if ok else "python self-tests FAILED")
    return ok

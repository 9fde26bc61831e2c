#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: run Verify's parquet
outputs against DuckDB executions of oracle_sql.json over the same
testdata tables, compare row counts, schemas (loosely) and values.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir> [gate,gate,...]
"""
import json, sys, math
import duckdb
import pyarrow.parquet as pq
import pyarrow as pa

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm_value(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # match on repr at double precision
        return repr(v)
    return str(v)

def table_to_rows(tbl: pa.Table):
    # sort columns by name (driver behavior), then rows
    cols = sorted(tbl.column_names)
    tbl = tbl.select(cols)
    rows = [tuple(norm_value(v) for v in row) for row in zip(*[tbl.column(c).to_pylist() for c in cols])]
    return cols, sorted(rows)

def main(sf_dir, out_dir, gates=None):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name in sorted((gates or set()) - oracle.keys()):
        print(f"FAIL {name}: no oracle SQL")
        n_fail += 1
    for name, sql in sorted(oracle.items()):
        if gates and name not in gates:
            continue
        try:
            got_tbl = pq.read_table(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: engine output missing ({e})")
            n_fail += 1
            continue
        try:
            exp_tbl = con.execute(sql).arrow()
        except Exception as e:
            print(f"FAIL {name}: oracle SQL error: {e}")
            n_fail += 1
            continue
        gc, gr = table_to_rows(got_tbl)
        ec, er = table_to_rows(exp_tbl)
        if gc != ec:
            print(f"FAIL {name}: columns differ: engine={gc} oracle={ec}")
            n_fail += 1
            continue
        if len(gr) != len(er):
            print(f"FAIL {name}: row count {len(gr)} vs {len(er)}")
            n_fail += 1
            continue
        if gr != er:
            bad = [(a, b) for a, b in zip(gr, er) if a != b][:3]
            print(f"FAIL {name}: values differ, first diffs: {bad}")
            n_fail += 1
            continue
        # schema type check (informative)
        gtypes = {f.name: str(f.type) for f in got_tbl.schema}
        etypes = {f.name: str(f.type) for f in exp_tbl.schema}
        mismatch = {c: (gtypes[c], etypes[c]) for c in gtypes if gtypes[c] != etypes.get(c)}
        note = f"  [type-diff {mismatch}]" if mismatch else ""
        print(f"PASS {name} ({len(gr)} rows){note}")
        n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed")
    return 1 if n_fail else 0

if __name__ == "__main__":
    # with a gate list only those gates are checked (a subset Verify
    # dump); a listed gate without engine output or oracle SQL still fails
    gates = set(sys.argv[3].split(",")) - {""} if len(sys.argv) > 3 else None
    sys.exit(main(sys.argv[1], sys.argv[2], gates))

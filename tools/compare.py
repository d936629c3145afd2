#!/usr/bin/env python3
"""Dev-only local replica of the driver's correctness gate: for each query
result parquet dumped by graft.Verify, run the corresponding oracle SQL in
DuckDB over the same testdata parquet tables and compare row sets.
Usage: python3 tools/compare.py <sfDir> <verifyOutDir>
       python3 tools/compare.py --against <parentVerifyOutDir> <verifyOutDir>

With --against, no oracle runs: the two graft.Verify dumps are compared entry
by entry over every entry directory of either dump (rows-only entries
included) — row sets, column names and column types must be identical.
"""
import sys, json, glob, os
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def norm(rows):
    out = []
    for r in rows:
        out.append(tuple(str(v) for v in r))
    return sorted(out)

def col_types(con, sql):
    """Map column name -> DuckDB logical type (e.g. BIGINT vs HUGEINT).
    The driver's hash is type-sensitive, so a value-equal HUGEINT/BIGINT
    mismatch must fail here too."""
    return {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for name in sorted(oracle):
        res_dir = os.path.join(out_dir, name)
        files = glob.glob(os.path.join(res_dir, "*.parquet"))
        if not files:
            print(f"FAIL {name}: no result parquet"); n_fail += 1; continue
        try:
            spark_rows = con.execute(
                f"SELECT * FROM read_parquet({files!r})").fetchall()
            spark_cols = [d[0] for d in con.description]
            duck = con.execute(oracle[name])
            duck_rows = duck.fetchall()
            duck_cols = [d[0] for d in duck.description]
            s_types = col_types(con, f"SELECT * FROM read_parquet({files!r})")
            d_types = col_types(con, f"({oracle[name]})")
        except Exception as e:
            print(f"FAIL {name}: {e}"); n_fail += 1; continue
        # driver sorts columns by name before hashing
        s_idx = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
        d_idx = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
        if sorted(spark_cols) != sorted(duck_cols):
            print(f"FAIL {name}: columns {sorted(spark_cols)} vs {sorted(duck_cols)}")
            n_fail += 1; continue
        type_mismatch = {c: (s_types[c], d_types[c]) for c in s_types
                         if c in d_types and s_types[c] != d_types[c]}
        if type_mismatch:
            print(f"FAIL {name}: column type mismatch {type_mismatch}")
            n_fail += 1; continue
        s = norm([[r[i] for i in s_idx] for r in spark_rows])
        d = norm([[r[i] for i in d_idx] for r in duck_rows])
        if s == d:
            print(f"PASS {name} ({len(s)} rows)"); n_pass += 1
        else:
            print(f"FAIL {name}: {len(s)} vs {len(d)} rows")
            only_s = [r for r in s if r not in d][:3]
            only_d = [r for r in d if r not in s][:3]
            print(f"  spark-only: {only_s}")
            print(f"  duck-only:  {only_d}")
            n_fail += 1
    print(f"== {n_pass} pass / {n_fail} fail ==")
    return 1 if n_fail else 0

def dump_entries(out_dir):
    return {os.path.basename(d) for d in glob.glob(os.path.join(out_dir, "*"))
            if os.path.isdir(d)}

def read_dump(con, files):
    rel = f"SELECT * FROM read_parquet({files!r})"
    rows = con.execute(rel).fetchall()
    cols = [d[0] for d in con.description]
    return cols, col_types(con, f"({rel})"), rows

def against(parent_dir, out_dir):
    """Compare two Verify dumps entry by entry: rows, column names, types."""
    con = duckdb.connect()
    a, b = dump_entries(parent_dir), dump_entries(out_dir)
    n_same = n_diff = 0
    for name in sorted(a | b):
        if name not in a or name not in b:
            side = "parent" if name not in a else "change"
            print(f"DIFF {name}: missing from the {side} dump"); n_diff += 1; continue
        fa = glob.glob(os.path.join(parent_dir, name, "*.parquet"))
        fb = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not fa or not fb:
            if bool(fa) != bool(fb):
                print(f"DIFF {name}: result parquet in one dump only"); n_diff += 1
            else:
                print(f"SAME {name} (no result files)"); n_same += 1
            continue
        ca, ta, ra = read_dump(con, fa)
        cb, tb, rb = read_dump(con, fb)
        # column order is free (the gate sorts columns by name before hashing)
        if sorted(ca) != sorted(cb) or ta != tb:
            print(f"DIFF {name}: columns {sorted(ta.items())} vs {sorted(tb.items())}")
            n_diff += 1; continue
        ia = sorted(range(len(ca)), key=lambda i: ca[i])
        ib = sorted(range(len(cb)), key=lambda i: cb[i])
        if norm([[r[i] for i in ia] for r in ra]) != norm([[r[i] for i in ib] for r in rb]):
            print(f"DIFF {name}: {len(ra)} vs {len(rb)} rows differ"); n_diff += 1; continue
        print(f"SAME {name} ({len(ra)} rows)"); n_same += 1
    print(f"== {n_same} same / {n_diff} differ ==")
    return 1 if n_diff else 0

if __name__ == "__main__":
    if sys.argv[1] == "--against":
        sys.exit(against(sys.argv[2], sys.argv[3]))
    sys.exit(main(sys.argv[1], sys.argv[2]))

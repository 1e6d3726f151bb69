#!/usr/bin/env python3
"""Local pre-validation of SparkEntry.queries vs oracleSql, mimicking the
driver's DuckDB compare: run `sbt runMain graft.Verify <sfDir> <outDir>`
first, then this script compares each query's parquet dump against its
oracle SQL result (schema names, row count, and value hash after sorting
columns by name and rows by value).

With `--against <otherOutDir>` it compares two Verify dumps instead (say,
of a change and of its parent commit, both on the same sfDir): each query's
schema (column names and types) and its sorted rows, plus the two
oracle_sql.json files byte for byte. It prints one line per mismatch and a
count, and exits 1 if anything differs. Recall gates pass on floors, so a
drift in trained centroids can pass the oracle compare; this one catches it.

Dev tool only (driver-side python/duckdb) — not part of the library.
Usage: python3 tools/check_correctness.py <sfDir> <outDir> [--against <otherOutDir>]
"""
import sys, json, glob, os
import duckdb

def norm(rows):
    out = []
    for r in rows:
        out.append(tuple(str(x) for x in r))
    return sorted(out)

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for p in glob.glob(f"{sf_dir}/*.parquet"):
        name = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    results = {}
    for qdir in sorted(glob.glob(f"{out_dir}/*/")):
        qname = qdir.rstrip("/").split("/")[-1]
        try:
            got = con.execute(f"SELECT * FROM '{qdir}/*.parquet'").df()
        except Exception as e:
            results[qname] = f"READ-FAIL {e}"
            continue
        if qname not in oracle:
            results[qname] = f"rows-only ({len(got)} rows)"
            continue
        try:
            exp = con.execute(oracle[qname]).df()
        except Exception as e:
            results[qname] = f"ORACLE-FAIL {type(e).__name__}: {e}"
            continue
        g_cols, e_cols = sorted(got.columns), sorted(exp.columns)
        if g_cols != e_cols:
            results[qname] = f"SCHEMA-MISMATCH got={g_cols} exp={e_cols}"
            continue
        if len(got) != len(exp):
            results[qname] = f"ROWCOUNT got={len(got)} exp={len(exp)}"
            continue
        gv = norm(got[g_cols].values.tolist())
        ev = norm(exp[e_cols].values.tolist())
        if gv != ev:
            diff = next((i, a, b) for i, (a, b) in enumerate(zip(gv, ev)) if a != b)
            results[qname] = f"VALUE-MISMATCH first diff at sorted row {diff[0]}: got={diff[1]} exp={diff[2]}"
        else:
            results[qname] = "OK"
    bad = {k: v for k, v in results.items()
           if not (v == "OK" or v.startswith("rows-only"))}
    for k in sorted(results):
        print(f"{'PASS' if k not in bad else 'FAIL':4} {k}: {results[k]}")
    print(f"\n{len(results) - len(bad)}/{len(results)} pass")
    return 1 if bad else 0

def dump(con, out_dir, qname):
    """(schema, sorted rows) of one query's dump, or None if it is absent."""
    qdir = f"{out_dir}/{qname}"
    if not os.path.isdir(qdir):
        return None
    try:
        src = f"'{qdir}/*.parquet'"
        schema = [(c[0], c[1]) for c in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        return schema, norm(con.execute(f"SELECT * FROM {src}").fetchall())
    except Exception as e:
        return f"READ-FAIL {type(e).__name__}: {e}"

def against(out_dir, other_dir):
    con = duckdb.connect()
    names = sorted({d.rstrip("/").split("/")[-1]
                    for o in (out_dir, other_dir) for d in glob.glob(f"{o}/*/")})
    bad = 0
    for qname in names:
        a, b = dump(con, out_dir, qname), dump(con, other_dir, qname)
        if a is None or b is None:
            msg = f"missing in {out_dir if a is None else other_dir}"
        elif isinstance(a, str) or isinstance(b, str):
            msg = f"{a if isinstance(a, str) else 'ok'} vs {b if isinstance(b, str) else 'ok'}"
        elif a[0] != b[0]:
            msg = f"SCHEMA-MISMATCH {a[0]} vs {b[0]}"
        elif len(a[1]) != len(b[1]):
            msg = f"ROWCOUNT {len(a[1])} vs {len(b[1])}"
        elif a[1] != b[1]:
            i = next(i for i, (x, y) in enumerate(zip(a[1], b[1])) if x != y)
            msg = f"VALUE-MISMATCH first diff at sorted row {i}: {a[1][i]} vs {b[1][i]}"
        else:
            continue
        bad += 1
        print(f"DIFF {qname}: {msg}")
    oracles = [f"{o}/oracle_sql.json" for o in (out_dir, other_dir)]
    same_oracle = all(os.path.exists(o) for o in oracles) and \
        open(oracles[0], "rb").read() == open(oracles[1], "rb").read()
    if not same_oracle:
        print("DIFF oracle_sql.json: files differ or one is missing")
    print(f"\n{len(names) - bad}/{len(names)} identical (schema and sorted rows); "
          f"oracle_sql.json {'identical' if same_oracle else 'DIFFERS'}")
    return 1 if bad or not same_oracle else 0

if __name__ == "__main__":
    args = sys.argv[1:]
    if len(args) == 4 and args[2] == "--against":
        sys.exit(against(args[1], args[3]))
    if len(args) != 2:
        sys.exit(__doc__)
    sys.exit(main(args[0], args[1]))

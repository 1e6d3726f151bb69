"""Verifies the pipeline entries' outputs against their DuckDB oracles and
writes the fingerprints run.py checks every run against.

  python3 perfbench/oracle_check.py            # verify, print the verdicts
  python3 perfbench/oracle_check.py --write    # ... and rewrite fingerprints.json

Runs perfbench.DumpEntries on the committed sf0.01 tables, then compares each
output with its oracle SQL the way tools/check_correctness.py does (column
names, row count, rows as sorted strings). Only verified fingerprints are
written.
"""
import json
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402
import run  # noqa: E402

DATA = HERE / "data" / "sf0.01"


def norm(rows):
    return sorted(tuple(str(x) for x in r) for r in rows)


def verdict(con, out, sql):
    got = con.execute(f"SELECT * FROM '{out}/*.parquet'").df()
    if not sql:
        return "no oracle"
    exp = con.execute(sql).df()
    if sorted(got.columns) != sorted(exp.columns):
        return f"SCHEMA got={sorted(got.columns)} exp={sorted(exp.columns)}"
    if len(got) != len(exp):
        return f"ROWCOUNT got={len(got)} exp={len(exp)}"
    cols = sorted(got.columns)
    if norm(got[cols].values.tolist()) != norm(exp[cols].values.tolist()):
        return "VALUES differ"
    return "OK"


def main():
    out = build.OUT / "oracle"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cmd = ["java", *run.JAVA_OPENS, "-Xmx3g", f"-Djava.io.tmpdir={out}",
           "-cp", build.jvm_classpath(*build.build()), "perfbench.DumpEntries",
           str(DATA), str(out)]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    entries = json.loads((out / "entries.json").read_text())
    con = duckdb.connect()
    for p in DATA.glob("*.parquet"):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    verified = {}
    for name, e in sorted(entries.items()):
        v = verdict(con, out / name, e["oracle"])
        print(f"{name}: {v} (rows={e['rows']} hash={e['hash']})")
        if v == "OK":
            verified[name] = {"rows": e["rows"], "hash": e["hash"]}
    if "--write" in sys.argv:
        (HERE / "fingerprints.json").write_text(json.dumps(verified, indent=2, sort_keys=True) + "\n")
    return 0 if len(verified) == len(entries) else 1


if __name__ == "__main__":
    sys.exit(main())

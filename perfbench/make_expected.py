"""Regenerates expected_rows.json: the oracle row count of every workload key.

  python3 perfbench/make_expected.py SCRATCH_DIR

1. graft.Verify writes each key's Spark result over perfbench/data/sf0.1
   to SCRATCH_DIR, with oracle_sql.json (SparkEntry.oracleSql). A Verify
   output already in SCRATCH_DIR is reused.
2. tools/compare_oracle.py compares those results with DuckDB.
3. DuckDB counts the rows of each oracle query; that count is the
   expected row count. A key where Spark and DuckDB disagree keeps
   DuckDB's count and is listed under "disagree", so the benchmark fails
   it rather than hiding it.
"""
import json
import os
import subprocess
import sys

import duckdb

import build

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.1")


def main():
    out = os.path.abspath(sys.argv[1])
    with open(os.path.join(HERE, "workloads.json")) as fh:
        keys = sorted({k for w in json.load(fh).values() for k in w["keys"]})
    classes, _ = build.build()
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    if not os.path.exists(os.path.join(out, "oracle_sql.json")):
        subprocess.run(build.java(classes, tmp, "4g", "graft.Verify", [DATA, out, ",".join(keys)]),
                       env=env, check=True, cwd=out)
    compare = subprocess.run(
        [sys.executable, os.path.join(build.ROOT, "tools", "compare_oracle.py"), DATA, out, ",".join(keys)],
        capture_output=True, text=True)
    verdicts = {line.split()[1].rstrip(":"): line for line in compare.stdout.splitlines()
                if line.startswith(("PASS ", "FAIL "))}
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in sorted(f[:-len(".parquet")] for f in os.listdir(DATA)):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
    rows = {k: con.sql(f"SELECT count(*) FROM ({oracle[k]})").fetchone()[0] for k in keys}
    disagree = {k: verdicts.get(k, "FAIL no verdict") for k in keys
                if not verdicts.get(k, "").startswith("PASS")}
    record = {
        "command": "python3 perfbench/make_expected.py SCRATCH_DIR "
                   "(graft.Verify + tools/compare_oracle.py + DuckDB count over SparkEntry.oracleSql)",
        "data": "perfbench/data/sf0.1",
        "disagree": disagree,
        "rows": rows,
    }
    with open(os.path.join(HERE, "expected_rows.json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(rows)} keys, {len(disagree)} disagree: {sorted(disagree)}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Record the expected output of every gate query the workloads run.

    python3 perfbench/record.py

Run from the root of a full checkout (it uses tools/compare.py). For each
scale factor the gate workloads use, it generates the gate tables, dumps the
queries' outputs with graft.Verify and checks them against the DuckDB
oracle with tools/compare.py. Only when every query agrees does it run the
queries once through the benchmark harness and write their row counts and
row hashes to perfbench/expected.json. A query that disagrees is reported
and the file is left unchanged.
"""
import json
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402


def java(classpath, main, args, log_path, cwd):
    cmd = run.java_cmd(classpath, main, args, cwd)
    with open(log_path, "w") as f:
        return subprocess.run(cmd, cwd=cwd, stdout=f, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL).returncode


def main():
    os.makedirs(run.WORK, exist_ok=True)
    classpath = run.build(run.fingerprint())
    by_sf = {}
    for name, w in sorted(run.WORKLOADS.items()):
        if "queries" in w:
            by_sf.setdefault(w["sf"], []).extend(w["queries"])
    expected, oracle = {}, {}
    for sf, queries in sorted(by_sf.items()):
        data = gen.gate_tables_cached(run.WORK, sf)
        rec = os.path.join(run.WORK, f"record-sf{sf}")
        shutil.rmtree(rec, ignore_errors=True)
        os.makedirs(rec)
        dump = os.path.join(rec, "verify")
        java(classpath, "graft.Verify", [data, dump, ",".join(queries)],
             os.path.join(rec, "verify.log"), rec)
        cmp = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "compare.py"),
                              data, dump], capture_output=True, text=True)
        print(cmp.stdout, end="")
        m = re.search(r"== (\d+) ok, (\d+) failed ==", cmp.stdout)
        if not m or int(m.group(2)) != 0 or int(m.group(1)) != len(queries):
            sys.exit(f"sf{sf}: the DuckDB oracle disagrees; expected.json left unchanged")
        oracle[str(sf)] = m.group(0).strip("= ")
        out = os.path.join(rec, "result.json")
        code = java(classpath, "perfbench.Main",
                    ["--workload", "record", "--seed", "0", "--seconds", "0", "--min-warm", "0",
                     "--cores", str(run.cores()), "--work", rec, "--out", out,
                     "--data", data, "--queries", ",".join(queries)],
                    os.path.join(rec, "main.log"), rec)
        if code != 0:
            sys.exit(f"sf{sf}: harness run failed; see {rec}/main.log")
        with open(out) as f:
            for e in json.load(f)["execs"]:
                if e["error"]:
                    sys.exit(f"{e['query']} failed: {e['error']}")
                expected[e["query"]] = {"sf": sf, "rows": e["observed"]["rows"],
                                        "hash": e["observed"]["hash"]}
        shutil.rmtree(rec, ignore_errors=True)
    body = {
        "about": "Row count and order-independent row hash (sum of xxhash64 over all "
                 "columns) of each gate query on the generated gate tables. Recorded by "
                 "record.py after graft.Verify + tools/compare.py agreed with the DuckDB "
                 "oracle on the same tables.",
        "gate_generator_version": gen.GATE_VERSION,
        "oracle_check": oracle,
        "queries": dict(sorted(expected.items())),
    }
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(body, f, indent=1)
        f.write("\n")
    print(f"recorded {len(expected)} queries")


if __name__ == "__main__":
    main()

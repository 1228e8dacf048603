#!/usr/bin/env python3
"""Derive `expected_digests.json`, the answers the benchmark checks against.

    python3 perfbench/derive_digests.py

Run from the repository root, on a commit whose outputs are trusted. For
every key the workloads use it runs the harness's untimed `digests` mode
twice, in two JVMs, and requires both runs to give the same digest. Keys
with oracle SQL must also match DuckDB under the `tools/check.py` protocol
on the benchmark's fixture; their digest is recorded with source "duckdb".
Keys without oracle SQL record the digest this commit gives, with source
"seed". Any key that fails either check stops the derivation: no key is
dropped silently.
"""
import json
import os
import re
import shutil
import subprocess
import sys
import time

import run
import bench_lib as B


def digests(keys, tag):
    run_dir = os.path.join(run.WORK, f"derive_{tag}")
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, out_dir = os.path.join(run_dir, "in"), os.path.join(run_dir, "out")
    os.makedirs(in_dir)
    os.makedirs(out_dir)
    with open(os.path.join(in_dir, "keys.txt"), "w") as fh:
        fh.writelines(f"{k}\n" for k in keys)
    run.JVM_TIMEOUT_S = 1800
    run.run_jvm("digests", in_dir, out_dir, 1, 0, run.cores())
    by_key = {}
    for o in run.read_jsonl(os.path.join(out_dir, "ops.jsonl")):
        by_key.setdefault(o["key"], []).append(o)
    return run_dir, by_key


def main():
    run.build()
    keys = sorted(set(B.OLAP_READ_POOL + B.OLAP_WRITE_POOL + B.HEAVY_KEYS))
    # each key twice per JVM: a write op must give the same answer on every
    # call in one session, as it does in olap_mix
    dir_a, a = digests(keys + keys, "a")
    _, b = digests(list(reversed(keys)), "b")
    out = os.path.join(dir_a, "out", "out")
    r = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "check.py"),
                        os.path.join(run.HERE, "fixture"), out, ",".join(keys)],
                       capture_output=True, text=True)
    passed = set(re.findall(r"^pass (\S+)", r.stdout, re.M))
    oracle = set(json.load(open(os.path.join(out, "oracle_sql.json"))))
    expected, bad = {}, []
    for k in keys:
        calls = a[k] + b[k]
        errors = [o["error"] for o in calls if o["error"]]
        seen = sorted({o["digest"] for o in calls})
        if errors:
            bad.append(f"{k}: {errors[0]}")
        elif len(seen) != 1:
            bad.append(f"{k}: digest differs between calls: {seen}")
        elif k in oracle and k not in passed:
            bad.append(f"{k}: does not match the DuckDB oracle")
        else:
            expected[k] = {"digest": seen[0], "source": "duckdb" if k in oracle else "seed"}
    for tag in ("a", "b"):
        shutil.rmtree(os.path.join(run.WORK, f"derive_{tag}"), ignore_errors=True)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        print(r.stdout[-3000:], file=sys.stderr)
        return 1
    with open(os.path.join(run.HERE, "expected_digests.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(expected)} digests written ({sum(v['source'] == 'duckdb' for v in expected.values())} "
          f"checked against DuckDB) at {time.strftime('%Y-%m-%d %H:%M:%S')}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

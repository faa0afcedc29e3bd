#!/usr/bin/env python3
"""Record the expected `query_mix` outputs (row count + content hash per
query) into perfbench/expected/query_mix.json.

Run from the repository root at a commit whose outputs are known good:

    python3 perfbench/capture_expected.py --seeds 1 2 3

Each seed runs the workload once (different query order, so different
cache and JIT history). A query whose hash differs between any two
samples is recorded as `rows_only`: it is then checked by row count
alone. A query whose row count differs is refused outright.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2, 3])
    args = ap.parse_args()
    seen = {}
    for seed in args.seeds:
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "query_mix",
                            "--seed", str(seed), "--seconds", "10", "--trace", "0"],
                           stdout=subprocess.PIPE, text=True, check=True)
        report = json.loads(r.stdout.strip().splitlines()[-2])
        for name, q in report["queries"].items():
            s = seen.setdefault(name, {"rows": set(), "hash": set()})
            s["rows"].update(q["rows"])
            s["hash"].update(q["hash"])
    expected, rows_only = {}, []
    for name, s in sorted(seen.items()):
        if len(s["rows"]) != 1:
            raise SystemExit(f"{name}: row count differs between samples: {sorted(s['rows'])}")
        expected[name] = {"rows": s["rows"].pop(), "hash": sorted(s["hash"])[0]}
        if len(s["hash"]) != 1:
            rows_only.append(name)
    out = {"seeds": args.seeds, "queries": expected, "rows_only": rows_only}
    with open(os.path.join(HERE, "expected", "query_mix.json"), "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(f"{len(expected)} queries recorded; rows only: {rows_only}")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Write the committed records: a plain and a traced run of every workload
at seed 1 and BENCHMARK.json's run_seconds, plus the tracing overhead
(traced vs plain end-to-end values).

Usage, from the repository root:  python3 perfbench/records.py
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "records")
WORKLOADS = ("ingest_backlog", "dashboard", "ingest_live", "declared_mix")
SEED = 1


def main():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    os.makedirs(OUT, exist_ok=True)
    overhead = {}
    for w in WORKLOADS:
        e2e = {}
        for trace in ("0", "1"):
            rec = os.path.join(OUT, f"{w}-trace{trace}.json")
            code = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                   "--seed", str(SEED), "--seconds", str(seconds),
                                   "--trace", trace, "--record", rec]).returncode
            # a failed run still leaves its record, naming the failures
            if code != 0:
                print(f"{w} trace={trace} failed (exit {code}); see {rec}", file=sys.stderr)
            with open(rec) as fh:
                e2e[trace] = json.load(fh)["end_to_end"]
        overhead[w] = {k: {"plain": v, "traced": e2e["1"][k], "overhead": e2e["1"][k] / v - 1}
                       for k, v in e2e["0"].items() if k in e2e["1"]}
    with open(os.path.join(OUT, "overhead.json"), "w") as fh:
        json.dump(overhead, fh, indent=2)
        fh.write("\n")


if __name__ == "__main__":
    main()

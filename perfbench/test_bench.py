#!/usr/bin/env python3
"""Self-test of the benchmark. Run from the root of a graft checkout:

    python3 perfbench/test_bench.py [workload ...]

1. Seed discipline: for every workload, generating the inputs twice
   from one seed gives the same fingerprint, and another seed gives a
   different one.
2. Count metrics repeat exactly: two traced runs of one seed with the
   same fixed number of steps report identical count metrics (and
   `space_amp_rows` for store_upsert; its byte ratio `space_amp` to
   within 0.1%).

Naming workloads limits the test to them.

Exits non-zero on the first failure.
"""

import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"
COUNTS = {
    "census_daily": ["io.FileSync.files_new", "io.CsvIngest.rows_in",
                     "io.CsvIngest.rows_dropped"],
    "store_upsert": ["etl.write_amp", "io.DataSkipping.scan_ratio"],
    "corpus_prep": ["operators.Dedup.pair_yield", "operators.Pq.recall_at_k"],
}
# enough steps that every op kind has an untraced sample too
STEPS = {"census_daily": 4, "store_upsert": 1, "corpus_prep": 2}


def report(workload, seed, ops, trace=0):
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace), "--ops", str(ops)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    lines = [l for l in out.stdout.splitlines() if l.startswith('{"report"')]
    if out.returncode != 0 or not lines:
        sys.exit(f"FAIL {workload} seed {seed}: run exited {out.returncode}")
    return json.loads(lines[-1])["report"]


def main():
    only = set(sys.argv[1:])
    for w in ("census_daily", "store_upsert", "event_stream", "corpus_prep"):
        if only and w not in only:
            continue
        a = report(w, 7, 0)["input_fingerprint"]
        b = report(w, 7, 0)["input_fingerprint"]
        c = report(w, 8, 0)["input_fingerprint"]
        if a != b or a == c:
            sys.exit(f"FAIL {w}: fingerprints {a} {b} (other seed {c})")
        print(f"ok   {w}: inputs are a pure function of the seed")
    for w, ops in STEPS.items():
        if only and w not in only:
            continue
        runs = [report(w, 7, ops, trace=1) for _ in range(2)]
        got = [{k: r["per_layer"][k] for k in COUNTS[w]} for r in runs]
        if w == "store_upsert":
            for g, r in zip(got, runs):
                g["space_amp_rows"] = r["named"]["space_amp_rows"]
            # bytes depend on row order inside merge outputs, which Spark
            # does not fix; the ratio may move in its fifth digit
            amps = [r["named"]["space_amp"] for r in runs]
            if abs(amps[0] - amps[1]) > 1e-3 * amps[0]:
                sys.exit(f"FAIL {w}: space_amp {amps} differs by more than 0.1%")
        if got[0] != got[1]:
            sys.exit(f"FAIL {w}: count metrics differ between runs: {got}")
        print(f"ok   {w}: count metrics repeat exactly: {got[0]}")


if __name__ == "__main__":
    main()

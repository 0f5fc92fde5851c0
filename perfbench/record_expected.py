#!/usr/bin/env python3
"""Record the row-set digests the corpus_batch output check compares
with, from the result files of passing runs of the current engine:

    python3 perfbench/record_expected.py .bench_work/results/corpus_batch-s*-t0.json

Digests are kept per seed, with the input size they were taken at, in
``perfbench/expected/corpus_batch.json``. A result file whose other
checks failed is refused.
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402


def main(paths):
    out = os.path.join(HERE, "expected", "corpus_batch.json")
    rec = {"size": None, "digests": {}}
    if os.path.exists(out):
        with open(out) as f:
            rec = json.load(f)
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        bad = [c["name"] for c in checks.corpus_batch(r.get("observed", {}), None) if not c["ok"]]
        if r.get("workload") != "corpus_batch" or r.get("error") or bad:
            sys.exit(f"{p}: not a passing corpus_batch run ({r.get('error') or bad})")
        if rec["size"] != r["size"]:
            rec = {"size": r["size"], "digests": {}}
        rec["digests"][str(r["seed"])] = checks.observed_digests(r["observed"])
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"{len(rec['digests'])} seeds recorded in {os.path.relpath(out)}")


if __name__ == "__main__":
    main(sys.argv[1:])

"""Checker self-test: a damaged output must be reported.

    python3 perfbench/selftest.py

Runs each workload once with the first op's artifacts damaged after the
program wrote them (`run.py --mutate`: one review-sheet row, or one dedup
survivor, removed) and exits non-zero unless every run comes back with
`correct: false` and exactly that op failed.
"""

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["backfill_full", "monthly_increment", "corpus_dedup"]


def main():
    bad = 0
    for w in WORKLOADS:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "1",
             "--seconds", "1", "--trace", "0", "--mutate"],
            capture_output=True, text=True, cwd=os.path.dirname(HERE))
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"{w}: run failed ({p.returncode}): {p.stderr[-500:]}")
            bad += 1
            continue
        result, context = json.loads(lines[-1]), json.loads(lines[-2])["context"]
        caught = not result["correct"] and result["failed"] == 1 and list(context["problems"]) == ["1"]
        print(f"{w}: {'caught' if caught else 'NOT CAUGHT'}: {context['problems']}")
        bad += not caught
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

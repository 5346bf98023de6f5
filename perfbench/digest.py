"""Record per-kind canonical digests into digests.json.

    python3 perfbench/digest.py 0 40

Runs, in one Spark session, a batch job (``dedup_pages`` in memory mode)
over the whole corpus of every seed in the inclusive range and stores its
per-kind canonical counts under ``"<pages>:<seed>"``.  A seed whose job
fails the seed-independent output checks is reported and not recorded.
"""

from __future__ import annotations

import json
import os
import sys

import run


def main() -> int:
    lo, hi = (int(x) for x in sys.argv[1:3])
    path = os.path.join(run.HERE, "digests.json")
    with open(path) as f:
        digests = json.load(f)
    work = run.prepare()
    try:
        spark = run.start_spark(work)
        for seed in range(lo, hi + 1):
            corpus = run.Corpus(seed, os.path.join(work, str(seed)))
            wl = run.Workload("batch_mixed", spark, corpus, work, None)
            problems, counts = wl.check(wl.run_job(seed))
            if problems:
                print(f"seed {seed}: " + "; ".join(problems), file=sys.stderr)
                continue
            digests[f"{run.PAGES}:{seed}"] = counts
            print(f"seed {seed}: {counts}", flush=True)
    finally:
        run.shutdown(work)
    keyed = sorted(digests.items(), key=lambda kv: tuple(int(x) for x in kv[0].split(":")))
    with open(path, "w") as f:
        json.dump(dict(keyed), f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Regenerate perfbench/pins.json: expected-output digests per seed.

    python3 perfbench/pin.py 0 31

For each seed in the inclusive range: the digest of the chat_mix and
geo_dense outputs computed in this process with ``pipeline.extract_turn``
over every turn (independent of the Spark plan the benchmark times), and
the per-operator digests of the five corpus operators over the seeded
operator corpus, taken from one Spark run whose outputs pass the
structural checks.  Re-pin only when extraction or operator semantics
change on purpose.
"""

from __future__ import annotations

import json
import os
import shutil
import sys


def main(lo: int, hi: int) -> None:
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [os.path.dirname(here), here]
    import run
    import workloads

    work = os.path.join(os.getcwd(), ".perfbench_work")
    run_dir = os.path.join(work, f"pin-{os.getpid()}")
    run.environment(run_dir)
    path = os.path.join(here, "pins.json")
    with open(path) as fh:
        pins = json.load(fh)
    cores = len(os.sched_getaffinity(0))
    spark = run.start_session(cores)
    try:
        for seed in range(lo, hi + 1):
            for name in run.WORKLOADS:
                wl = workloads.make(name, os.path.join(work, "cache"))
                inp = wl.prepare(seed, os.path.join(run_dir, name, str(seed)),
                                 cores)
                pins.setdefault(name, {})[str(seed)] = \
                    wl.expected_digest(inp)
            corpus = workloads.OperatorCorpus(
                seed, os.path.join(run_dir, "ops", str(seed)), cores)
            failed, digests = corpus.check(corpus.outputs(spark))
            if failed:
                raise SystemExit(f"seed {seed}: {len(failed)} operator-corpus "
                                 f"documents fail the structural checks")
            pins.setdefault("operators", {})[str(seed)] = digests
            run.log(f"pinned seed {seed}")
    finally:
        spark.stop()
        run.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(path, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main(int(sys.argv[1]), int(sys.argv[2]))

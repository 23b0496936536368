"""Record a workload's expected output digests into
``perfbench/expected.json``.

    python3 perfbench/record_expected.py transit_batch 0 32   # seeds 0..31
    python3 perfbench/record_expected.py graph_corpus_llm     # fixed inputs

Run from the repository root, on a commit whose outputs are trusted.
The transit workload generates its inputs from the seed, so its digests
are recorded per seed; a workload over the fixed testdata tables is
recorded once, for every seed. ``run.py`` fails a unit whose digest
differs from the one recorded.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run
from tracing import Tracer
from workloads import WORKLOADS, TransitBatch


def main(name: str, lo: int = 0, hi: int = 1) -> None:
    sys.path.insert(0, os.getcwd())
    wl = WORKLOADS[name]
    work = os.path.join(os.getcwd(), ".perfbench_work", "record")
    shutil.rmtree(work, ignore_errors=True)
    run.pin_environment(work)
    spark = run.start_session(work)
    per_seed = isinstance(wl, TransitBatch)
    recorded = {}
    try:
        for seed in range(lo, hi) if per_seed else [0]:
            inp = wl.inputs(f"{work}/in{seed}", seed)
            units = wl.run_pass(spark, Tracer(), inp, f"{work}/out{seed}",
                                wl.order(seed), run.PlanProbe())
            failed = [u for u, (_, res) in units.items()
                      if isinstance(res, Exception)]
            if failed:
                raise RuntimeError(f"units failed: {failed}")
            key = str(seed) if per_seed else run.ALL_SEEDS
            recorded[key] = {u: list(wl.digest(res))
                             for u, (_, res) in units.items()}
            print(key, flush=True)
    finally:
        spark.stop()
        run.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    data = {}
    if os.path.exists(run.EXPECTED):
        with open(run.EXPECTED) as f:
            data = json.load(f)
    data.setdefault(wl.name, {}).update(recorded)
    with open(run.EXPECTED, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main(sys.argv[1], *map(int, sys.argv[2:]))

"""Record the kg_build triple-set checksums the benchmark checks against.

    python3 perfbench/record_expected.py 1 100

Run from the repository root. Builds the kg_build fixture of every seed
from the first to the last argument, in one session, and writes
perfbench/expected_kg_build.json. A kg_build run whose seed is recorded
there fails its check when its triple set differs. Re-record when a
change to kgforge is meant to change the triples it emits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("first", type=int)
    ap.add_argument("last", type=int)
    args = ap.parse_args()
    sys.path[:0] = [str(HERE), str(ROOT)]
    from run import Context, stop_processes
    from workloads import EXPECTED, KG_PAGES, triple_set_checksum, write_kg_fixture

    from kgforge.pipeline import run_pipeline

    ctx = Context(argparse.Namespace(workload="record", seed=args.first, seconds=0, trace=0))
    ctx.prepare_env()
    checksums = {}
    try:
        spark = ctx.start_session(ctx.cores, event_log=False)
        for seed in range(args.first, args.last + 1):
            work = os.path.join(ctx.work, str(seed))
            fx = write_kg_fixture(work, seed)
            out_dir = os.path.join(work, "build")
            run_pipeline(spark, fx["pages"], fx["dict"], out_dir)
            checksums[str(seed)] = list(triple_set_checksum(spark, out_dir))
            print(seed, checksums[str(seed)], flush=True)
            shutil.rmtree(work)
    finally:
        stop_processes(ctx)
        shutil.rmtree(ctx.work, ignore_errors=True)
    with open(EXPECTED, "w") as f:
        json.dump({"pages": KG_PAGES, "checksums": checksums}, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

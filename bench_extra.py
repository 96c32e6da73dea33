"""Per-query profiling harness for the optimization round (r06).

bench.py is FROZEN (the driver times the round with the round-start
copy), so isolation benchmarks live here per the optimization brief:
noop-sink timing (guide §1.4) of a selected subset of queries at a
selected scale factor, with optional plan capture.

Usage:
    python bench_extra.py --sf /root/testdata/sf1.0 --repeats 2 \
        sim_topk_bruteforce tx_bm25
    python bench_extra.py --sf /root/testdata/sf0.1 --explain plans/r06 \
        --suffix before dd_url

Prints one JSON line {"sf", "cpus", "queries": {name: best_sec}} and,
with --explain DIR, writes DIR/<name>_<suffix>.txt containing
df.explain("formatted") output.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--repeats", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--explain", default=None, help="dir to write plan files into")
    ap.add_argument("--suffix", default="before", help="plan file suffix (before/after)")
    ap.add_argument("--no-time", action="store_true", help="only capture plans")
    args = ap.parse_args()

    import __spark_entry__ as se
    from kgforge.conf import get_spark
    from kgforge.pipeline import reset_stages

    spark = get_spark("kgforge-bench-extra", cpus=args.cpus, shuffle_partitions=args.cpus)
    qs = se.all_queries()[0]

    # same warm protocol as bench.py: one scan query + one pandas-UDF job
    qs["rel_filtered_scan"](spark, args.sf).write.mode("overwrite").format("noop").save()
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.LongType())
    def _warm(x: pd.Series) -> pd.Series:
        return x

    spark.range(0, 4 * args.cpus, 1, numPartitions=4 * args.cpus).select(
        F.sum(_warm("id"))
    ).collect()

    timings: dict[str, float] = {}
    if args.explain:
        for name in args.names:
            df = qs[name](spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            out = Path(args.explain)
            out.mkdir(parents=True, exist_ok=True)
            (out / f"{name}_{args.suffix}.txt").write_text(buf.getvalue())
            reset_stages()
    if not args.no_time:
        # bench.py's protocol: the kg_* stage cache is cleared once per
        # PASS (queries within a pass share stages, in list order), and
        # per-query timings take best-of-k across passes
        for _ in range(max(1, args.repeats)):
            reset_stages()
            for name in args.names:
                fn = qs[name]
                spark.sparkContext.setJobDescription(f"bench_extra: {name}")
                t0 = time.time()
                df = fn(spark, args.sf)
                df.write.mode("overwrite").format("noop").save()
                dt = time.time() - t0
                spark.sparkContext.setJobDescription(None)
                if name not in timings or dt < timings[name]:
                    timings[name] = round(dt, 3)

    print(json.dumps({
        "sf": args.sf,
        "cpus": args.cpus,
        "load_avg": round(os.getloadavg()[0], 2),
        "queries": timings,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

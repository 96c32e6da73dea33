"""Scan-share evidence for the one-pass fused ingest (r4 VERDICT item 8).

Times kg_fused (ONE page scan feeding gates + mentions + host rollup
through a single explode+groupBy) against the same three analytics run
as separate jobs (each re-reading and re-extracting the pages — the
shape you get when three teams each run their own stage). Outputs are
asserted value-identical before any timing is reported, and each
variant is timed best-of-k with a noop sink.

At 10^12 pages the corpus read IS the cost; the fused plan pays it
once. This harness records the measured single-node saving so the
100-TB claim has a number behind it.

Usage: python BENCH/fused.py [--sf-dir /root/testdata/sf0.1] [--repeats 3]
Prints one JSON line; write it to BENCH/fused_r05.json for the round
artifact.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--json-out", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from kgforge.conf import get_spark
    from kgforge.extract import extract_text_udf
    from kgforge.mentions import detect_mentions
    from kgforge.operators import graph as G
    from kgforge.ontology import prepare_dictionary
    from kgforge.pipeline import inline_dictionary, kg_fused, pages_with_links

    spark = get_spark("kgforge-fused", cpus=args.cpus,
                      shuffle_partitions=args.cpus)
    sf = args.sf_dir
    _dic, aliases = prepare_dictionary(inline_dictionary(spark))

    def sep_gates():
        pages = pages_with_links(spark, sf)
        ws = F.split(extract_text_udf(F.col("html")), " ")
        return (
            pages.select(
                F.regexp_extract("url", G._HOST_RE, 1).alias("src_host"),
                F.size(ws).alias("nw"),
            )
            .groupBy("src_host")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("nw").alias("w"))
        )

    def sep_mentions():
        pages = pages_with_links(spark, sf)
        ext = pages.select(
            "url", F.lit("").alias("warc_ts"),
            extract_text_udf(F.col("html")).alias("text"),
        )
        return (
            detect_mentions(ext, aliases)
            .filter(F.col("kind") == "entity")
            .groupBy("surface")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def sep_hosts():
        pages = pages_with_links(spark, sf)
        return (
            G.resolve_links(G.extract_hyperlinks(pages))
            .groupBy("dst_host")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    # correctness first: fused sections == separate rollups
    fused_rows = {
        (r["section"], r["key"]): r["n"] for r in kg_fused(spark, sf).collect()
    }
    sep = {("gates", r["src_host"]): r["n"] for r in sep_gates().collect()}
    sep.update(
        {("mentions", r["surface"]): r["n"] for r in sep_mentions().collect()}
    )
    sep.update(
        {("hosts", r["dst_host"]): r["n"] for r in sep_hosts().collect()}
    )
    got = {k: v for k, v in fused_rows.items() if k[0] != "kept"}
    assert got == sep, "fused sections diverge from the separate paths"

    # warm both shapes once, then best-of-k
    noop(kg_fused(spark, sf))
    for f in (sep_gates, sep_mentions, sep_hosts):
        noop(f())
    fused_t, sep_t = [], []
    for _ in range(max(1, args.repeats)):
        t0 = time.time()
        noop(kg_fused(spark, sf))
        fused_t.append(time.time() - t0)
        t0 = time.time()
        noop(sep_gates())
        noop(sep_mentions())
        noop(sep_hosts())
        sep_t.append(time.time() - t0)

    out = {
        "metric": "fused_ingest_scan_share",
        "sf_dir": sf,
        "cpus": args.cpus,
        "repeats": args.repeats,
        "fused_s": round(min(fused_t), 3),
        "separate_s": round(min(sep_t), 3),
        "saving_pct": round(100 * (1 - min(fused_t) / min(sep_t)), 1),
        "outputs_identical": True,
        "load_avg_at_start": round(os.getloadavg()[0], 2),
    }
    line = json.dumps(out)
    print(line)
    if args.json_out:
        Path(args.json_out).write_text(line + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

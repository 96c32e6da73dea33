"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit": "sec", "queries": {name: sec}, "sf",
plus triples/sec for the flagship pipeline}.

Timing uses a noop write so the full plan (including UDF columns) is
materialized without driver-side collection cost.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
LOAD_AT_START = round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") else None

# r4 VERDICT item 4: BENCH_r04.json was captured in a load-4.61 window, 7%
# above the same-build quiet number. The box's co-tenant noise is measured
# at ±40-55%, so an artifact recorded under load misstates the engine. If
# the 1-min load is above the gate when bench starts, WAIT (bounded) for a
# quiet window instead of recording the neighbor's workload; if the wait
# budget expires, run anyway but self-label the artifact
# ("quiet_window": false) so a reader weights it correctly.
LOAD_GATE = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_GATE", "1.0"))
LOAD_RESUME = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_RESUME", "0.5"))
# bounded at 5 min: a 1-min load average decays e-fold per minute once the
# box is actually idle (4.6 -> <1 in ~3-4 min), and an unknown driver-side
# timeout must never kill the round artifact because bench was napping
WAIT_BUDGET_S = float(os.environ.get("SPARK_GRAFT_BENCH_WAIT_S", "300"))


def _wait_for_quiet() -> float:
    """Block until the 1-min load drops below LOAD_RESUME (or the wait
    budget expires). Returns the load at measurement start."""
    if not hasattr(os, "getloadavg"):
        return -1.0
    load = os.getloadavg()[0]
    if load <= LOAD_GATE:
        return round(load, 2)
    t0 = time.time()
    while time.time() - t0 < WAIT_BUDGET_S:
        time.sleep(15)
        load = os.getloadavg()[0]
        if load <= LOAD_RESUME:
            break
    return round(load, 2)

HEADLINE = [
    "rel_pricing_summary",
    "rel_broadcast_linker",
    "rel_modifier_pivot",
    "rel_dedup_rank",
    "rel_ntile_cohort",
    "rel_hierarchy_propagation",
    "rel_range_join",
    "dd_exact",
    "dd_passage",
    "dd_url",
    "dd_minhash_lsh",
    "dd_simhash",
    "dd_bloom",
    "dd_semdedup",
    "sim_topk_bruteforce",
    "sim_topk_pq",
    "sim_neardup_cosine",
    "tx_quality",
    "tx_fingerprint",
    "tx_repetition",
    "tx_decontam",
    "tx_sample",
    "tx_pack",
    "tx_redact",
    "tx_vocab",
    "tx_bpe",
    "tx_classify",
    "tx_winnow",
    "tx_dsir",
    "tx_bm25",
    "tx_lmscore",
    "tx_diversity",
    "tx_c4filter",
    "tx_gopher",
    "tx_mainext",
    "tx_colloc",
    "tx_postings",
    "dd_lines",
    "dd_substr",
    "dd_clusters",
    "dd_snapshots",
    "dd_robots",
    "dd_sitemap",
    "rel_scd2",
    "mm_meta",
    "mm_frames",
    "mm_audio",
    "st_tumbling_agg",
    "kg_extract",
    "kg_mentions",
    "kg_measurements",
    "kg_spans",
    "kg_relations",
    "kg_graph",
    "kg_assoc",  # after kg_graph: reuses the pass's cached candidates
    "kg_khop",  # likewise (same thresholded co-occurrence edge set)
    "kg_centrality",  # likewise (all-pairs BFS over the same edge set)
    "kg_linkgraph",  # web link graph: extract/resolve/host-aggregate
    "kg_hearst",  # Hearst-pattern taxonomy induction over planted pages
    "kg_diff",  # assertion-level changeset between crawl snapshots
    "kg_dictdiff",  # ontology-refresh impact diff with page counts
    "kg_typed",  # SHACL-lite range validation against induced scheme rules
    "kg_conf",  # Knowledge-Vault-style triple support/confidence features
    "kg_negsamples",  # filtered negative sampling + hash split (KGE prep)
    "kg_fused",  # one-pass fused ingest: gates+mentions+hosts, one scan
    "kg_triples",
]


def materialize(df) -> int:
    df.write.mode("overwrite").format("noop").save()
    return 0


def main() -> int:
    import __spark_entry__ as se
    from kgforge.conf import get_spark
    from kgforge.pipeline import reset_stages

    load_at_measure = _wait_for_quiet()
    spark = get_spark("kgforge-bench", cpus=CPUS, shuffle_partitions=CPUS)
    # the driver registry is consolidated to ~48 names (compound
    # bundles); the bench headline keeps the r01/r02 standalone queries
    # for round-over-round comparability, which all_queries() carries
    qs = se.all_queries()[0]
    timings: dict[str, float] = {}
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # warm the JVM/Arrow paths once so per-query numbers measure the plan,
    # not first-call initialization: one scan-shaped query, plus one
    # trivial pandas-UDF job so python workers are spawned with
    # pandas/numpy imported before the measured loop (same protocol as
    # BENCH/run_one.py — worker spin-up is a per-boot constant, not an
    # operator cost)
    materialize(qs["rel_filtered_scan"](spark, SF_DIR))
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(T.LongType())
    def _warm(x: pd.Series) -> pd.Series:
        return x

    spark.range(0, 4 * CPUS, 1, numPartitions=4 * CPUS).select(
        F.sum(_warm("id"))
    ).collect()

    # Best-of-k per query: the box is co-tenant (measured ±40-55% swings
    # between identical runs, BENCH/BASELINE.md noise section), so a
    # single pass measures the neighbor's load as often as the plan.
    # The kg_* session stage cache is CLEARED before every pass, so each
    # pass re-runs the pipeline from the Arrow extraction on — kg_*
    # timings are honest recomputations and take best-of-k like every
    # other query (they were single-sample pass-1 numbers before).
    # Guarded: skip the repeat if the first pass already spent the
    # budget.
    # 4 passes by default (r03 VERDICT: best-of-2 wasn't enough to dodge
    # the box's noise windows); two budget guards keep the worst case
    # bounded — stop if a single pass blows 100s or the suite has already
    # spent 240s across passes.
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "4"))
    n_triples = 0
    passes: list[dict[str, float]] = []
    bench_t0 = time.time()
    for it in range(max(1, repeats)):
        reset_stages()
        cur: dict[str, float] = {}
        for name in HEADLINE:
            fn = qs[name]
            t0 = time.time()
            df = fn(spark, SF_DIR)
            if name == "kg_triples":
                n_triples = df.count()
            else:
                materialize(df)
            cur[name] = time.time() - t0
        passes.append(cur)
        # The box shows hypervisor preemption windows (hrtimer-interrupt
        # dmesg lines, guest-idle stalls) that degrade an ENTIRE pass
        # 2-5x, so a one-pass artifact records the window, not the
        # plan. Always attempt a second pass — per-query best-of-k
        # needs >=2 samples to dodge a window — unless pass 1 was
        # hopeless (>300s) or the wall budget (420s) is spent; after
        # two passes, stop early once passes are slow (>150s).
        s = sum(cur.values())
        if s > 300.0 or time.time() - bench_t0 > 420.0 or (it >= 1 and s > 150.0):
            break
    timings = {
        name: round(min(p[name] for p in passes), 3) for name in HEADLINE
    }
    total = sum(timings.values())

    out = {
        "metric": "headline_suite_wall",
        "value": round(total, 3),
        "unit": "sec",
        "passes": len(passes),
        # r01/r02 reported kg_* as single-sample pass-1 times (the stage
        # cache made later passes invalid); from r03 the cache is cleared
        # per pass, so kg_* is an honest recomputation and takes
        # best-of-k like every other query. Compare kg_* round-over-round
        # with that in mind.
        "kg_timing": "best_of_k_recomputed_per_pass",
        # co-tenancy evidence: 1-min load average sampled before the
        # suite started — readers should weight this run accordingly
        # (BENCH/BASELINE.md noise section: ±40-55% swings under load)
        "load_avg_at_start": LOAD_AT_START,
        # load when measurement actually began (after the bounded
        # wait-for-quiet) and the self-label a reader should trust
        "load_avg_at_measure": load_at_measure,
        "quiet_window": load_at_measure <= LOAD_GATE,
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "kg_triples_count": n_triples,
        # the kg_* family shares one cached stage chain per session, so
        # the honest pipeline denominator is the sum of the kg timings
        # (extract pays the Arrow UDF, mentions pays detection, triples
        # pays link+canon+emit) — not kg_triples alone
        "kg_pipeline_wall": round(
            timings.get("kg_extract", 0.0)
            + timings.get("kg_mentions", 0.0)
            + timings.get("kg_triples", 0.0),
            3,
        ),
        "kg_triples_per_sec": round(
            n_triples
            / (
                timings.get("kg_extract", 0.0)
                + timings.get("kg_mentions", 0.0)
                + timings.get("kg_triples", 0.0)
            ),
            1,
        )
        if timings.get("kg_triples")
        else None,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

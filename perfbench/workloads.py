"""The benchmark's workloads over kgforge's public entry points.

kg_build     one `run_pipeline` over a `kgforge.synth` fixture into a
             fresh output directory (the paper's flagship path).
query_suite  one pass over a fixed subset of the `bench.HEADLINE` driver
             queries, in bench.py order, kg stage cache reset first.

Load model: a closed loop with one client. One process runs one
operation at a time on local[<cores>]. The timed operation is the first
of its kind in a fresh session (JVM, JIT, codegen cache and Python
workers all cold), which is what a `kgforge.cli run`, or a process
running the registered `__spark_entry__.queries()`, pays on every
invocation.

A traced run traces that cold operation, then times a traced and then
an untraced warm operation for the tracing overhead. The kg_build traced
run also applies a traced `incremental_update` to the cold build's
output first, and rebuilds the input at local[1] right after the
untraced warm build for the N->4N pair.
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd

from spans import PHASE_MARKERS, Tracer, layer_sums, read_event_log, span_table
from tables import write_tables

KG_PAGES = 2000
BATCH_PAGES = 100
BATCH_NEAR_DUPS = 10
QUERY_SF = 0.01
# triple-set checksums of the kg_build fixture per seed, written by
# record_expected.py
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_kg_build.json")

# A subset of bench.HEADLINE: one pass over all 66 leaves takes ~75 s warm
# and ~120 s cold on 4 cores, more than a run of this benchmark can spend.
# The subset keeps a leaf of every query group, the kg chain through the
# second pipeline wiring, and two of the costliest text leaves.
QUERIES = (
    "rel_pricing_summary",
    "dd_exact",
    "sim_topk_bruteforce",
    "tx_bm25",
    "tx_colloc",
    "mm_meta",
    "st_tumbling_agg",
    "kg_extract",
    "kg_mentions",
    "kg_triples",
)
GROUPS = {
    "rel": "relational",
    "tx": "textstats",
    "dd": "dedup",
    "sim": "similarity",
    "mm": "multimodal",
    "st": "streaming",
    "kg": "kg",
}
NAMED_QUERIES = ("tx_bm25", "tx_colloc", "kg_triples")
KG_LAYERS = {
    "extract": ("wall_s", "jobs", "py_s", "py_start_s", "idle_share"),
    "ontology": ("wall_s", "jobs"),
    "mentions": ("wall_s", "jobs", "py_s", "py_start_s", "shuffle_mb", "idle_share"),
    "link": ("wall_s", "jobs", "shuffle_mb", "idle_share"),
    "canon": ("wall_s", "jobs", "py_s", "py_start_s", "shuffle_mb", "spill_mb", "idle_share"),
    "emit": ("wall_s", "jobs", "shuffle_mb", "spill_mb", "idle_share"),
}
INCREMENT_PHASES = ("prep",) + tuple(phase for phase, _ in PHASE_MARKERS)
GROUP_KEYS = ("wall_s", "jobs", "py_s", "py_start_s", "shuffle_mb", "idle_share")


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 1]."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def triple_set_checksum(spark, out_dir: str) -> tuple[int, int, int]:
    """(rows, h_lo, h_hi): order-independent checksum over every column
    of the triple table."""
    from pyspark.sql import functions as F

    t = spark.read.parquet(os.path.join(out_dir, "triples"))
    h = F.xxhash64(*[F.col(c) for c in sorted(t.columns)])
    r = t.agg(
        F.count(F.lit(1)),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))),
        F.sum(F.shiftrightunsigned(h, 32)),
    ).collect()[0]
    return (int(r[0]), int(r[1] or 0), int(r[2] or 0))


def _overhead(pl: dict, untraced: float, traced: float) -> None:
    pl["trace.wall_s_untraced"] = untraced
    pl["trace.wall_s_traced"] = traced
    pl["trace.overhead_share"] = traced / untraced - 1.0


# -- kg_build ------------------------------------------------------------------

def write_kg_fixture(work: str, seed: int) -> dict:
    """The seed's kg_build fixture under `work`: paths to its pages and
    concept dictionary."""
    from kgforge.synth import write_fixture

    fixture = os.path.join(work, "fixture")
    write_fixture(fixture, n_pages=KG_PAGES, seed=seed)
    return {
        "pages": os.path.join(fixture, "pages.parquet"),
        "dict": os.path.join(fixture, "concept_dict.parquet"),
    }


def kg_build(ctx) -> dict:
    from kgforge.pipeline import run_pipeline

    spark = ctx.open_session(event_log=ctx.trace)
    t0 = time.perf_counter()
    fx = write_kg_fixture(ctx.work, ctx.seed)
    ctx.setup["input_s"] = time.perf_counter() - t0

    def build(out_dir: str) -> dict:
        return run_pipeline(spark, fx["pages"], fx["dict"], out_dir)

    out_dir = os.path.join(ctx.work, "build")
    tracer = Tracer(spark) if ctx.trace else None
    if tracer:
        with tracer.installed(layers=True), tracer.span("kg_build"):
            info = ctx.timed(lambda: build(out_dir))
    else:
        info = ctx.timed(lambda: build(out_dir))
    wall = ctx.ops[-1]["wall_s"]
    if info is None:
        return {"wall_s": wall, "triples_per_s": 0.0, "query_p50_s": wall, "query_p84_s": wall}
    checksum = triple_set_checksum(spark, out_dir)
    ctx.ops[-1].update(ok=info["n_triples"] > 0, n_triples=info["n_triples"],
                       checksum=list(checksum))
    _check_recorded_checksum(ctx, checksum)
    _check_precision_recall(ctx, out_dir, fx)
    # re-submit into the same output: every stage must be skipped and the
    # triple count must not change
    again = build(out_dir)
    skipped = all(s["skipped"] for s in again["stages"])
    ctx.check("resubmit_skips_all_stages",
              skipped and again["n_triples"] == info["n_triples"],
              {"skipped": skipped, "n_triples": again["n_triples"]})
    if tracer:
        _trace_kg_build(ctx, tracer, build, fx, info, out_dir, checksum)
    return {
        "wall_s": wall,
        "triples_per_s": info["n_triples"] / wall,
        # one operation per run: its wall is every percentile
        "query_p50_s": wall,
        "query_p84_s": wall,
    }


def _check_recorded_checksum(ctx, checksum: tuple[int, int, int]) -> None:
    """Compare with the checksum recorded for this seed, when there is one."""
    with open(EXPECTED) as f:
        rec = json.load(f)
    want = rec["checksums"].get(str(ctx.seed)) if rec["pages"] == KG_PAGES else None
    if want is None:
        ctx.extra["recorded_checksum"] = "none for this seed"
        return
    ctx.check("checksum_equals_recorded", list(checksum) == want,
              {"got": list(checksum), "recorded": want})


def _check_precision_recall(ctx, out_dir: str, fx: dict) -> None:
    from tests.oracle.reference_emitter import emit_triples, precision_recall

    t = ctx.spark.read.parquet(os.path.join(out_dir, "triples"))
    got = {
        (r[0], r[1], r[2], r[3])
        for r in t.select("subj", "pred", "obj", "src_url").distinct().collect()
    }
    want = emit_triples(pd.read_parquet(fx["pages"]), pd.read_parquet(fx["dict"]), ("en",))
    p, r = precision_recall(got, want)
    ctx.check("precision_recall_ge_0.95", p >= 0.95 and r >= 0.95,
              {"precision": p, "recall": r})


def _trace_kg_build(ctx, tracer, build, fx, info, out_dir, checksum) -> None:
    from kgforge.incremental import _ensure_signature_sidecar, incremental_update
    from kgforge.pipeline import run_pipeline

    spark = ctx.spark
    rows_out = {s["stage"]: s["rows_out"] for s in info["stages"]}
    canon = tracer.take_captured("verify")
    n_pairs = sum(p.count() for p, _ in canon)
    n_edges = sum(v.count() for _, v in canon)

    # the increment's base is the cold build's output plus its signature
    # sidecar, which the first increment would otherwise build inside the
    # traced call
    _ensure_signature_sidecar(spark, out_dir)
    batch = _make_batch(ctx, fx["pages"])
    with tracer.installed(layers=False), tracer.phased("incremental", "prep") as inc_span:
        inc = incremental_update(spark, out_dir, batch, fx["dict"])
    verify = tracer.take_captured("verify")
    bloom = tracer.take_captured("bloom")
    inc_pairs = sum(p.count() for p, _ in verify)
    inc_edges = sum(v.count() for _, v in verify)
    bloom_in = sum(a.count() for a, _ in bloom)
    bloom_out = sum(b.count() for _, b in bloom)
    ctx.check("increment_new_base_edges_gt_0", inc["n_new_base_edges"] > 0, inc)

    # tracing overhead on warm builds: traced first, so the untraced one
    # is the warmer of the two and the drift adds to the measured overhead
    def checked_build(name: str) -> str:
        """One warm build, ok when its triple set equals the cold build's."""
        path = os.path.join(ctx.work, name)
        if ctx.timed(lambda: build(path), kind="warm") is not None:
            ctx.ops[-1]["ok"] = triple_set_checksum(spark, path) == checksum
        return path

    with tracer.installed(layers=True), tracer.span("kg_build.warm") as warm_span:
        checked_build("build-traced")
    tracer.take_captured("verify")
    warm_dir = checked_build("build-warm")
    untraced = ctx.ops[-1]["wall_s"]

    # N -> 4N: the same input at local[1], in a new SparkContext of the
    # same JVM, right after the untraced local[cores] build
    spark.sparkContext.setJobDescription(None)
    ctx.stop_context()
    spark1 = ctx.start_session(cores=1, event_log=False)
    one_dir = os.path.join(ctx.work, "build-local1")
    t0 = time.perf_counter()
    info1 = run_pipeline(spark1, fx["pages"], fx["dict"], one_dir)
    wall1 = time.perf_counter() - t0
    a = spark1.read.parquet(os.path.join(one_dir, "triples"))
    b = spark1.read.parquet(os.path.join(warm_dir, "triples"))
    identical = a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    ctx.check("local1_local4_triples_identical", identical, info1["n_triples"])
    pl = ctx.per_layer
    tps1 = info1["n_triples"] / wall1
    tps4 = info["n_triples"] / untraced
    pl["scaling_eff_1to4"] = tps4 / (ctx.cores * tps1)
    ctx.extra["scaling"] = {"cores": ctx.cores, "wall_s_1": wall1, "wall_s_n": untraced,
                            "triples_per_s_1": tps1, "triples_per_s_n": tps4}

    rows = span_table(tracer, read_event_log(ctx.event_dir))
    ctx.spans = rows
    op_id = next(r["id"] for r in rows if r["name"] == "kg_build")
    build_rows = [r for r in rows if r["root"] == op_id]
    layers = layer_sums(build_rows, KG_LAYERS, ctx.cores)
    for layer, keys in KG_LAYERS.items():
        for k in keys:
            pl[f"{layer}.{k}"] = layers[layer][k]
    pl["extract.rows_out"] = rows_out.get("extracted", 0)
    pl["mentions.rows_out"] = rows_out.get("mentions", 0)
    pl["link.rows_out"] = rows_out.get("candidates", 0)
    pl["link.yield"] = rows_out.get("candidates", 0) / max(rows_out.get("mentions", 0), 1)
    pl["emit.rows_out"] = rows_out.get("triples", 0)
    pl["canon.pairs"] = n_pairs
    pl["canon.edges"] = n_edges
    pl["canon.verify_yield"] = n_edges / n_pairs if n_pairs else 0.0
    pl["kg_build.residual_s"] = next(r["self_s"] for r in rows if r["id"] == op_id)
    _overhead(pl, untraced, warm_span["t1"] - warm_span["t0"])

    phases = layer_sums(rows, [f"incremental.{p}" for p in INCREMENT_PHASES], ctx.cores)
    for p in INCREMENT_PHASES:
        for k in ("wall_s", "jobs", "py_s", "shuffle_mb", "idle_share"):
            pl[f"incremental.{p}.{k}"] = phases[f"incremental.{p}"][k]
    pl["incremental.anchor.spill_mb"] = phases["incremental.anchor"]["spill_mb"]
    pl["incremental.wall_s"] = inc_span["t1"] - inc_span["t0"]
    pl["incremental.bloom_keep_share"] = bloom_out / bloom_in if bloom_in else 0.0
    pl["incremental.verify_yield"] = inc_edges / inc_pairs if inc_pairs else 0.0
    pl["incremental.delta_rows"] = inc["n_delta_triples"]
    pl["incremental.new_base_edges"] = inc["n_new_base_edges"]


def _make_batch(ctx, base_pages_path: str) -> str:
    """A crawl batch with its own seed: fresh urls, plus near-duplicates
    of `en` base pages (one word appended) so the base-side anchoring
    path runs."""
    from kgforge.synth import make_pages

    new = make_pages(n_pages=BATCH_PAGES, seed=ctx.seed + 1_000_003)
    new = new.drop(columns=["true_text", "is_dup_of"])
    new["url"] = new["url"].str.replace("https://", "https://batch.", n=1, regex=False)
    base = pd.read_parquet(base_pages_path)
    src = base[base["lang"] == "en"].sample(n=BATCH_NEAR_DUPS, random_state=ctx.seed)
    near = src.copy()
    near["url"] = near["url"].str.replace("https://", "https://mirror.", n=1, regex=False)
    near["html"] = [h.replace(b"</p>", b" reposted</p>", 1) for h in near["html"]]
    batch = pd.concat([new, near], ignore_index=True)
    batch["warc_ts"] = batch["warc_ts"].astype("datetime64[us]")
    path = os.path.join(ctx.work, "batch.parquet")
    batch.to_parquet(path, index=False)
    return path


# -- query_suite ---------------------------------------------------------------

def _registry() -> tuple[dict, dict]:
    """The name -> query map bench.py assembles, and every oracle SQL
    (the set `tools/verify_local.py --all-rel` checks)."""
    import __spark_entry__ as se
    from kgforge import pipeline
    from kgforge.operators import dedup, relational, similarity, textstats

    qs = dict(relational.QUERIES)
    qs.update(textstats.QUERIES)
    qs.update(dedup.QUERIES)
    qs.update(pipeline.QUERIES)
    qs.update(similarity.QUERIES)
    qs.update(se.queries())
    oracles = dict(se.oracle_sql())
    for mod in (relational, textstats, dedup, similarity, pipeline):
        for name, sql in mod.ORACLES.items():
            oracles.setdefault(name, sql)
    return qs, oracles


def _reset_kg_cache() -> None:
    """bench.py's per-pass reset of the driver-query kg stage cache."""
    from kgforge import pipeline as P

    for stages in P._KG_STAGE_CACHE.values():
        for df in stages.values():
            if hasattr(df, "unpersist"):
                df.unpersist()
    P._KG_STAGE_CACHE.clear()


def query_suite(ctx) -> dict:
    import bench
    import duckdb
    from tools.verify_local import TABLES, canon

    spark = ctx.open_session(event_log=ctx.trace)
    names = [q for q in bench.HEADLINE if q in QUERIES]
    sf_dir = os.path.join(ctx.work, "sf")
    t0 = time.perf_counter()
    write_tables(sf_dir, QUERY_SF, ctx.seed)
    ctx.setup["input_s"] = time.perf_counter() - t0
    qs, oracles = _registry()

    def run_query(name: str) -> tuple[list, list]:
        df = qs[name](spark, sf_dir)
        return df.columns, [tuple(r) for r in df.collect()]

    def run_pass(tracer=None, record=False) -> dict:
        """One pass; per query (wall, columns, rows, error). The rows come
        from the one collect that is timed."""
        _reset_kg_cache()
        out = {}
        for name in names:
            load0 = os.getloadavg()[0]
            t0 = time.perf_counter()
            try:
                if tracer:
                    with tracer.span(f"q.{name}"):
                        cols, rows = run_query(name)
                else:
                    cols, rows = run_query(name)
                out[name] = (time.perf_counter() - t0, cols, rows, None)
            except Exception as e:  # one failing query must not end the pass
                out[name] = (time.perf_counter() - t0, None, None,
                             f"{type(e).__name__}: {e}"[:300])
            if record:
                ctx.ops.append({"query": name, "wall_s": out[name][0], "ok": False,
                                "error": out[name][3], "load_before": load0,
                                "load_after": os.getloadavg()[0]})
        return out

    tracer = Tracer(spark) if ctx.trace else None
    ctx.sampler.active.set()
    t0 = time.perf_counter()
    if tracer:
        with tracer.installed(layers=False), tracer.span("query_suite"):
            cold = run_pass(tracer, record=True)
    else:
        cold = run_pass(record=True)
    pass_wall = time.perf_counter() - t0
    ctx.sampler.active.clear()

    # check every query against its DuckDB oracle over the same tables
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    for op in ctx.ops:
        _wall, cols, rows, err = cold[op["query"]]
        if err is not None:
            continue
        res = con.execute(oracles[op["query"]])
        ocols = [d[0] for d in res.description]
        want = res.fetchall()
        op["rows"] = len(rows)
        op["ok"] = sorted(cols) == sorted(ocols) and canon(rows, cols) == canon(want, ocols)
    con.close()

    walls = [op["wall_s"] for op in ctx.ops]
    kg_rows = cold["kg_triples"][2]
    ctx.extra["per_query_s"] = {n: cold[n][0] for n in names}
    if tracer:
        _trace_query_suite(ctx, tracer, run_pass)
    return {
        "wall_s": pass_wall,
        # over the whole pass: the kg leaves alone last ~10 s, too short to
        # time steadily
        "triples_per_s": len(kg_rows) / pass_wall if kg_rows else 0.0,
        "query_p50_s": percentile(walls, 0.5),
        "query_p84_s": percentile(walls, 0.84),
    }


def _trace_query_suite(ctx, tracer, run_pass) -> None:
    # tracing overhead on warm passes: traced, then untraced, which is
    # then the warmer of the two, so the drift adds to the overhead
    with tracer.installed(layers=False), tracer.span("query_suite.warm") as warm_span:
        run_pass(tracer)
    t0 = time.perf_counter()
    run_pass()
    untraced = time.perf_counter() - t0
    ctx.spark.sparkContext.setJobDescription(None)
    ctx.stop_context()
    rows = span_table(tracer, read_event_log(ctx.event_dir))
    ctx.spans = rows
    op_id = next(r["id"] for r in rows if r["name"] == "query_suite")
    cold = [r for r in rows if r["root"] == op_id and r["name"].startswith("q.")]
    pl = ctx.per_layer
    for prefix, group in GROUPS.items():
        # a query span has no child spans, so its self time is its wall
        sel = [dict(r, name=group) for r in cold if r["name"][2:].split("_", 1)[0] == prefix]
        g = layer_sums(sel, [group], ctx.cores)[group]
        for k in GROUP_KEYS:
            pl[f"{group}.{k}"] = g[k]
    for n in NAMED_QUERIES:
        pl[f"q.{n}.wall_s"] = next(r["wall_s"] for r in cold if r["name"] == f"q.{n}")
    pl["query_suite.residual_s"] = next(r["self_s"] for r in rows if r["id"] == op_id)
    _overhead(pl, untraced, warm_span["t1"] - warm_span["t0"])


WORKLOADS = {"kg_build": kg_build, "query_suite": query_suite}

"""Golden triple-set gate (P/R >= 0.95 vs the independent pandas
reference emitter), reconciliation metrics, resume, determinism —
the re-expression of the reference's i2pReport acceptance discipline
(SURVEY.md §5, BASELINE.json)."""

import os
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kgforge.pipeline import run_pipeline
from tests.oracle.reference_emitter import emit_triples, precision_recall


@pytest.fixture(scope="module")
def run_out(spark, fixture_dir, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("kgf_run"))
    info = run_pipeline(
        spark,
        pages_path=f"{fixture_dir}/pages.parquet",
        dict_path=f"{fixture_dir}/concept_dict.parquet",
        out_dir=out,
        langs=("en",),
    )
    return out, info


def _triple_set(spark, out_dir):
    t = spark.read.parquet(f"{out_dir}/triples")
    return {
        (r["subj"], r["pred"], r["obj"], r["src_url"])
        for r in t.select("subj", "pred", "obj", "src_url").distinct().collect()
    }


def test_golden_precision_recall(spark, fixture_dir, run_out):
    out, _ = run_out
    got = _triple_set(spark, out)
    pages = pd.read_parquet(f"{fixture_dir}/pages.parquet")
    dic = pd.read_parquet(f"{fixture_dir}/concept_dict.parquet")
    want = emit_triples(pages, dic, langs=("en",))
    p, r = precision_recall(got, want)
    assert p >= 0.95, f"precision {p:.4f} < 0.95"
    assert r >= 0.95, f"recall {r:.4f} < 0.95"


def test_reconciliation_counts(spark, run_out):
    """Metrics table mirrors the actual triple output — the i2pReport
    source/dest/diff=0 discipline. Triple counts are exact; distinct
    subjects are the monitoring approx_count_distinct (SURVEY.md §2.4),
    asserted within its documented ~5% relative standard deviation."""
    out, _ = run_out
    t = spark.read.parquet(f"{out}/triples")
    m = spark.read.parquet(f"{out}/_metrics")
    per_pred = {
        r["pred"]: (r["n_triples"], r["n_subjects"])
        for r in m.select("pred", "n_triples", "n_subjects").collect()
    }
    actual = {
        r["pred"]: (r["cnt"], r["ns"])
        for r in t.groupBy("pred")
        .agg(F.count(F.lit(1)).alias("cnt"), F.countDistinct("subj").alias("ns"))
        .collect()
    }
    assert set(per_pred) == set(actual)
    for pred, (n_triples, n_subj_approx) in per_pred.items():
        n_triples_exact, n_subj_exact = actual[pred]
        assert n_triples == n_triples_exact, pred
        assert abs(n_subj_approx - n_subj_exact) <= max(0.1 * n_subj_exact, 2), pred


def test_canon_branch_metrics_recorded(spark, run_out):
    """run_pipeline persists the CC regime decision (round-4 VERDICT:
    'log which branch ran + edge count to metrics') — two rows in
    _metrics_canon: cc_branch carries the probed edge count, cc_threshold
    the memory-derived cutover, both tagged with the branch name."""
    out, _ = run_out
    m = {
        r["metric"]: r
        for r in spark.read.parquet(f"{out}/_metrics_canon").collect()
    }
    assert set(m) == {"cc_branch", "cc_threshold"}
    assert m["cc_branch"]["key"] in ("local", "distributed")
    assert m["cc_branch"]["value"] >= 0
    assert m["cc_threshold"]["value"] >= 10_000
    assert m["cc_branch"]["run_id"] == m["cc_threshold"]["run_id"]


def test_resume_skips_completed_stages(spark, fixture_dir, run_out):
    out, _ = run_out
    before = spark.read.parquet(f"{out}/_metrics_canon").count()
    info2 = run_pipeline(
        spark,
        pages_path=f"{fixture_dir}/pages.parquet",
        dict_path=f"{fixture_dir}/concept_dict.parquet",
        out_dir=out,
        langs=("en",),
    )
    assert all(s["skipped"] for s in info2["stages"])
    # a resumed canon stage records nothing: the branch decision belongs
    # to the run that computed the checkpoint
    assert spark.read.parquet(f"{out}/_metrics_canon").count() == before


def test_kill_and_rerun_produces_identical_triples(spark, fixture_dir, tmp_path_factory):
    """Simulated mid-run kill: wipe everything after stage 2, re-run,
    assert (a) early stages were not recomputed and (b) the final triple
    set is identical to the uninterrupted run."""
    out = str(tmp_path_factory.mktemp("kgf_kill"))
    info1 = run_pipeline(
        spark,
        pages_path=f"{fixture_dir}/pages.parquet",
        dict_path=f"{fixture_dir}/concept_dict.parquet",
        out_dir=out,
    )
    full = _triple_set(spark, out)
    # "kill" after mentions: remove later stage outputs + manifests
    for stage in ["candidates", "canon_mapping", "triples"]:
        shutil.rmtree(os.path.join(out, stage), ignore_errors=True)
        mp = os.path.join(out, "_checkpoints", f"{stage}.json")
        if os.path.exists(mp):
            os.remove(mp)
    info2 = run_pipeline(
        spark,
        pages_path=f"{fixture_dir}/pages.parquet",
        dict_path=f"{fixture_dir}/concept_dict.parquet",
        out_dir=out,
    )
    skipped = {s["stage"]: s["skipped"] for s in info2["stages"]}
    assert skipped["extracted"] and skipped["mentions"]
    assert not skipped["candidates"] and not skipped["triples"]
    assert _triple_set(spark, out) == full
    assert info1["n_triples"] == info2["n_triples"]


def test_input_change_invalidates_checkpoints(spark, fixture_dir, tmp_path_factory):
    """A changed input fingerprint forces recompute (stale checkpoints
    are never silently reused)."""
    import kgforge.checkpoint as cp

    out = str(tmp_path_factory.mktemp("kgf_fp"))
    run_pipeline(
        spark,
        pages_path=f"{fixture_dir}/pages.parquet",
        dict_path=f"{fixture_dir}/concept_dict.parquet",
        out_dir=out,
    )
    orig = cp.fingerprint_input
    try:
        cp.fingerprint_input = lambda p: "changed!"
        import kgforge.pipeline as pl

        old = pl.fingerprint_input
        pl.fingerprint_input = lambda p: "changed!"
        try:
            info = run_pipeline(
                spark,
                pages_path=f"{fixture_dir}/pages.parquet",
                dict_path=f"{fixture_dir}/concept_dict.parquet",
                out_dir=out,
            )
        finally:
            pl.fingerprint_input = old
    finally:
        cp.fingerprint_input = orig
    assert not any(s["skipped"] for s in info["stages"])


def test_measurement_triples_end_to_end(spark, run_out):
    """Numeric observations surface as first-class hasMeasurement triples
    (pmnVITAL/pmnLAB analog, Oracle/PCORNetLoader_ora.sql:1644-1660,
    :1901-1929): comparator codes mapped (tval_char E/NE/L/LE/G/GE
    analog, :1915), values carried, and the value-domain guard (:1687)
    nulls outliers > 1e7 instead of dropping the assertion."""
    out, _ = run_out
    rows = (
        spark.read.parquet(f"{out}/triples")
        .filter(F.col("pred") == "hasMeasurement")
        .collect()
    )
    assert rows, "synthetic fixture plants metric:temp observations"
    for r in rows:
        assert r["obj"] == "METRIC:TEMP"
        assert r["qual_kind"] == "numeric"
        assert r["qual_comparator"] in {"E", "NE", "L", "LE", "G", "GE"}
    vals = [r["qual_value_num"] for r in rows]
    assert any(v is None for v in vals), "outlier values must be suppressed"
    assert any(v is not None and 0.0 <= v <= 100.0 for v in vals)


def test_triples_partitioned_by_pred(run_out):
    out, _ = run_out
    subdirs = [d for d in os.listdir(f"{out}/triples") if d.startswith("pred=")]
    assert len(subdirs) >= 3  # hasLang, sameAs, at least one concept pred


def test_periods_override_end_to_end_and_invalidation(
    spark, fixture_dir, tmp_path_factory
):
    """run_pipeline with a curated-periods table: the curated subject's
    hasSpan triple carries the curated interval (basis 'A'), others stay
    observed ('E'); and changing --periods invalidates ONLY the triples
    stage on re-run into the same --out (the fingerprint contract for
    the new CLI input). Stage fingerprints derive from the inputs and
    stages each stage reads, so a new dictionary then recomputes only
    mentions, candidates and triples, and a new threshold only
    canon_mapping and triples."""
    from pyspark.sql import functions as F

    out = str(tmp_path_factory.mktemp("kgf_periods"))
    # pick a real subject: any en page url (identity canon likely at
    # fixture scale; pick one that canonicalizes to itself)
    pages = spark.read.parquet(f"{fixture_dir}/pages.parquet")
    subj = pages.filter("lang = 'en'").orderBy("url").first()["url"]
    p1 = str(tmp_path_factory.mktemp("periods1") / "periods.parquet")
    spark.createDataFrame(
        [(subj, "2024-01-01 00:00:00", "2024-03-01 00:00:00")],
        "subj string, ps string, pe string",
    ).selectExpr(
        "subj",
        "CAST(ps AS TIMESTAMP) AS period_start",
        "CAST(pe AS TIMESTAMP) AS period_end",
    ).write.parquet(p1)

    run_pipeline(
        spark,
        pages_path=f"{fixture_dir}/pages.parquet",
        dict_path=f"{fixture_dir}/concept_dict.parquet",
        out_dir=out,
        periods_path=p1,
    )
    t = spark.read.parquet(f"{out}/triples")
    spans = {
        r["subj"]: r
        for r in t.filter(F.col("pred") == "hasSpan").collect()
    }
    if subj in spans:  # subject survives canon as its own representative
        assert spans[subj]["qual_kind"] == "A"
        assert spans[subj]["obj"].startswith("2024-01-01T00:00:00Z/")
    others = [r for s, r in spans.items() if s != subj]
    assert others and all(r["qual_kind"] == "E" for r in others)

    # different periods table -> triples stage recomputes, earlier stages skip
    p2 = str(tmp_path_factory.mktemp("periods2") / "periods.parquet")
    spark.createDataFrame(
        [(subj, "2025-01-01 00:00:00", "2025-02-01 00:00:00")],
        "subj string, ps string, pe string",
    ).selectExpr(
        "subj",
        "CAST(ps AS TIMESTAMP) AS period_start",
        "CAST(pe AS TIMESTAMP) AS period_end",
    ).write.parquet(p2)
    info2 = run_pipeline(
        spark,
        pages_path=f"{fixture_dir}/pages.parquet",
        dict_path=f"{fixture_dir}/concept_dict.parquet",
        out_dir=out,
        periods_path=p2,
    )
    skipped = {s["stage"]: s["skipped"] for s in info2["stages"]}
    assert skipped["extracted"] and skipped["mentions"] and skipped["canon_mapping"]
    assert not skipped["triples"]
    if subj in spans:
        t2 = spark.read.parquet(f"{out}/triples")
        new = t2.filter(
            (F.col("pred") == "hasSpan") & (F.col("subj") == subj)
        ).first()
        assert new["obj"].startswith("2025-01-01T00:00:00Z/")

    # one more input changed per re-run
    dict2 = str(tmp_path_factory.mktemp("dict2") / "concept_dict.parquet")
    pd.read_parquet(f"{fixture_dir}/concept_dict.parquet").iloc[:-1].to_parquet(
        dict2, index=False
    )
    for change, recomputed in [
        ({}, {"mentions", "candidates", "triples"}),
        ({"threshold": 0.85}, {"canon_mapping", "triples"}),
    ]:
        info = run_pipeline(
            spark,
            pages_path=f"{fixture_dir}/pages.parquet",
            dict_path=dict2,
            out_dir=out,
            periods_path=p2,
            **change,
        )
        assert {s["stage"] for s in info["stages"] if not s["skipped"]} == recomputed


def test_session_stages_are_lazy_and_reset(spark, sf001):
    """The kg_* queries build only the stages they read: kg_extract
    leaves `extracted` alone in the session's map — no dictionary, no
    canonicalization, whose eager CC probe would charge canon jobs to
    kg_extract; kg_triples fills in what it reads; reset_stages empties
    the map."""
    from kgforge import pipeline as P

    P.reset_stages()
    P.kg_extract(spark, sf001).collect()
    key = (spark.sparkContext.applicationId, sf001)
    assert list(P._KG_STAGE_CACHE) == [key]
    assert set(P._KG_STAGE_CACHE[key]) == {"extracted"}
    P.kg_triples(spark, sf001)
    assert set(P._KG_STAGE_CACHE[key]) == {
        "extracted", "dictionary", "mentions", "candidates", "canon_mapping", "triples"
    }
    P.reset_stages()
    assert P._KG_STAGE_CACHE == {}


def test_kg_diff_changeset_semantics(spark, sf001):
    """The planted v2 mutations fully explain the diff: every added row
    is the ORG:SPARK assertion on a doc_id%10==3 page that lacked
    'spark' in v1, every removed row is TOPIC:JOIN on a %10==6 page."""
    import re

    from kgforge.pipeline import kg_diff

    rows = kg_diff(spark, sf001).collect()
    assert rows, "diff must be non-empty"
    for r in rows:
        did = int(re.search(r"/doc/(\d+)$", r.subj).group(1))
        if r.status == "added":
            assert r.obj == "ORG:SPARK" and did % 10 == 3
        else:
            assert r.status == "removed"
            assert r.obj == "TOPIC:JOIN" and did % 10 == 6
    assert {r.status for r in rows} == {"added", "removed"}


def test_kg_dictdiff_change_classes(spark, sf001):
    """The ontology-refresh diff carries all three change classes with
    non-zero page impact, and every surface in the diff is one of the
    three planted mutations."""
    from kgforge.pipeline import kg_dictdiff

    rows = {r.surface: r for r in kg_dictdiff(spark, sf001).collect()}
    assert set(rows) == {"batch", "line", "table"}
    assert rows["batch"].change == "removed" and rows["batch"].new_id is None
    assert rows["table"].change == "added" and rows["table"].old_id is None
    assert rows["line"].change == "remapped"
    assert rows["line"].old_id == "PLACE:AREA1"
    assert rows["line"].new_id == "PLACE:AREA2"
    for r in rows.values():
        assert r.n_pages > 0


def test_kg_conf_support_features(spark, sf001):
    """Triple support features obey their defining invariants: mention
    evidence dominates page support, page support dominates host
    support, the confidence is exactly the smoothed ratio of the
    support products, and the corpus actually exercises multi-page
    agreement (some assertion is supported by >1 page)."""
    from kgforge.pipeline import kg_conf

    rows = kg_conf(spark, sf001).collect()
    assert rows
    for r in rows:
        assert r.n_mentions >= r.n_pages >= r.n_hosts >= 1
        expect = (r.n_pages * r.n_hosts) / (
            (r.n_pages + 1) * (r.n_hosts + 1)
        )
        assert r.conf == expect  # one IEEE division of exact integers
        assert 0.0 < r.conf < 1.0
    assert any(r.n_pages > 1 for r in rows), "no multi-page agreement"


def test_kg_negsamples_protocol(spark, sf001):
    """The negative-sampling table implements the filtered protocol:
    exactly NEG_K corruptions per positive, every corrupted tail drawn
    from the entity vocabulary, the collision flag exactly marks
    corruptions that reconstruct a true triple, and the hash split is
    a function of the triple (constant across its j rows)."""
    from collections import Counter

    from kgforge.pipeline import NEG_K, kg_negsamples

    rows = kg_negsamples(spark, sf001).collect()
    assert rows
    pos = {(r.subj, r.pred, r.obj) for r in rows}
    vocab = {r.obj for r in rows}
    per_triple = Counter((r.subj, r.pred, r.obj) for r in rows)
    assert set(per_triple.values()) == {NEG_K}
    splits = {}
    for r in rows:
        assert r.obj_neg in vocab
        assert (r.collides == "y") == (
            (r.subj, r.pred, r.obj_neg) in pos
        )
        key = (r.subj, r.pred, r.obj)
        assert splits.setdefault(key, r.split) == r.split
    seen = {r.split for r in rows}
    assert "train" in seen and len(seen) >= 2, seen


def test_kg_typed_range_validation(spark, sf001):
    """The induced range rules grade assertion groups correctly: the
    V-misfiled 'vector' alias yields a guaranteed (hasTopic, V)
    violation row, the majority TOPIC assertions stay ok, and every
    row's status is exactly the scheme comparison."""
    from kgforge.pipeline import kg_typed

    rows = kg_typed(spark, sf001).collect()
    assert rows
    by = {(r.pred, r.obj_scheme): r for r in rows}
    v = by[("hasTopic", "V")]
    assert v.status == "violation" and v.expected_scheme == "TOPIC"
    assert v.n_triples > 0
    ok = by[("hasTopic", "TOPIC")]
    assert ok.status == "ok"
    for r in rows:
        assert (r.status == "ok") == (r.obj_scheme == r.expected_scheme)
    assert {r.status for r in rows} == {"ok", "violation"}


def test_kg_fused_matches_separate_paths(spark, sf001):
    """r4 VERDICT item 8: the one-pass fused ingest's three sections are
    value-identical to the separate-path compositions over the SAME page
    frame — extract_pages -> detect_mentions rollup (mentions),
    extract_hyperlinks -> resolve_links rollup (hosts), and the per-page
    quality rule (gates/kept)."""
    from kgforge.operators import graph as G
    from kgforge.mentions import detect_mentions
    from kgforge.ontology import prepare_dictionary
    from kgforge.pipeline import inline_dictionary, kg_fused, pages_with_links
    from kgforge.extract import extract_text_udf

    fused = {
        (r["section"], r["key"]): (r["n"], r["w"])
        for r in kg_fused(spark, sf001).collect()
    }
    assert {s for s, _ in fused} == {"gates", "kept", "mentions", "hosts"}

    pages = pages_with_links(spark, sf001)
    # mentions: separate UDF pass over separately-extracted text
    ext = pages.select(
        "url", F.lit("").alias("warc_ts"), extract_text_udf(F.col("html")).alias("text")
    )
    sep_m = {
        ("mentions", r["surface"]): r["n"]
        for r in detect_mentions(ext, prepare_dictionary(inline_dictionary(spark))[1])
        .filter(F.col("kind") == "entity")
        .groupBy("surface")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {k: v[0] for k, v in fused.items() if k[0] == "mentions"} == sep_m
    # hosts: separate regex+resolve pass
    sep_h = {
        ("hosts", r["dst_host"]): r["n"]
        for r in G.resolve_links(G.extract_hyperlinks(pages))
        .groupBy("dst_host")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {k: v[0] for k, v in fused.items() if k[0] == "hosts"} == sep_h
    # gates: per-source page counts and word totals from a separate scan
    ws = F.split(extract_text_udf(F.col("html")), " ")
    sep_g = {
        ("gates", r["src_host"]): (r["n"], r["w"])
        for r in pages.select(
            F.regexp_extract("url", G._HOST_RE, 1).alias("src_host"),
            F.size(ws).alias("nw"),
        )
        .groupBy("src_host")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("nw").alias("w"))
        .collect()
    }
    assert {k: v for k, v in fused.items() if k[0] == "gates"} == sep_g
    # kept <= gates per host, and the fused plan is ONE exchange deep:
    # no section recomputes the scan (plan contains exactly one
    # BatchEvalPython/ArrowEval chain — asserted structurally: the
    # explain string names the parquet relation once)
    plan = kg_fused(spark, sf001)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("parquet") <= 2  # one scan (+ its reuse tag at most)

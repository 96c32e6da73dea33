"""Spans around calls into kgforge, and their Spark-side cost.

A traced operation opens one span per call into a layer. Each span sets
the Spark job description to `pb:<span id>`, so every job started while
it is the innermost open span carries that id into the event log. After
the run, `span_table` joins the spans with the event log: jobs, task
run time, Python-worker time, shuffle bytes and spill per span.

Layers are the kgforge modules, wrapped from outside:

- `CheckpointManager.run_stage` by stage name (extract, mentions, link,
  canon, emit) and the two ontology entry points run_pipeline calls;
- inside `incremental_update`, which cannot be wrapped piecewise, the
  PySpark actions (`count collect take localCheckpoint` and writer
  `save parquet`): each action names its calling kgforge file and line,
  and the line decides the phase (prep, sigs, anchor, cc, commit,
  recount) from markers in the source of kgforge/incremental.py;
- in the query suite, each query call.

`verify_pairs_jaccard` and `bloom_prune` are wrapped to keep their input
and output frames; the counts over them run after the operation ends, so
they do not perturb its timing.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
from collections import defaultdict

# Phase markers: a phase starts at the first line of kgforge/incremental.py
# holding its marker. Actions above the first marker belong to `prep`.
PHASE_MARKERS = [
    ("sigs", "minhash_signatures(ext"),
    ("anchor", "url_anchor = ("),
    ("cc", "comps = C.connected_components("),
    ("commit", "delta.write."),
    ("recount", "n_delta = "),
]
STAGE_LAYER = {
    "extracted": "extract",
    "mentions": "mentions",
    "candidates": "link",
    "canon_mapping": "canon",
    "triples": "emit",
}


def _phase_lines(path: str) -> list[tuple[int, str]]:
    with open(path) as f:
        lines = f.read().splitlines()
    out = []
    for phase, marker in PHASE_MARKERS:
        hit = next((i + 1 for i, ln in enumerate(lines) if marker in ln), None)
        if hit is None:
            raise RuntimeError(f"phase marker {marker!r} not found in {path}")
        out.append((hit, phase))
    return sorted(out)


class Tracer:
    """Span tree of a traced run plus the frames kept for counts."""

    def __init__(self, spark):
        import kgforge

        self.sc = spark.sparkContext
        self.pkg_dir = os.path.dirname(os.path.abspath(kgforge.__file__))
        self.incr_file = os.path.join(self.pkg_dir, "incremental.py")
        self.phase_lines: list[tuple[int, str]] = []
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.captured: dict[str, list] = defaultdict(list)
        self.sites: dict[int, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        self._phase: int | None = None

    # -- spans -------------------------------------------------------------
    def _open(self, name: str) -> int:
        sid = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append(
            {"id": sid, "name": name, "parent": parent,
             "t0": time.perf_counter(), "t1": None}
        )
        self.stack.append(sid)
        self.sc.setJobDescription(f"pb:{sid}")
        return sid

    def _close(self, sid: int) -> None:
        assert self.stack and self.stack[-1] == sid, "spans must nest"
        self.spans[sid]["t1"] = time.perf_counter()
        self.stack.pop()
        self.sc.setJobDescription(f"pb:{self.stack[-1]}" if self.stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self._open(name)
        try:
            yield self.spans[sid]
        finally:
            self._close(sid)

    @contextlib.contextmanager
    def phased(self, name: str, first_phase: str):
        """Span `name` whose children are sequential phases; an action
        whose call line sits in a later phase closes the open phase."""
        self.phase_lines = _phase_lines(self.incr_file)
        with self.span(name) as rec:
            self._phase = self._open(f"{name}.{first_phase}")
            try:
                yield rec
            finally:
                self._close(self._phase)
                self._phase = None

    # -- call sites ----------------------------------------------------------
    def _site(self) -> tuple[str, str | None]:
        site, phase = "", None
        f = sys._getframe(2)
        while f is not None:
            fn = f.f_code.co_filename
            if fn.startswith(self.pkg_dir):
                if not site:
                    site = f"kgforge/{os.path.relpath(fn, self.pkg_dir)}:{f.f_lineno}"
                if fn == self.incr_file and f.f_code.co_name == "incremental_update":
                    phase = "prep"
                    for line, name in self.phase_lines:
                        if f.f_lineno >= line:
                            phase = name
                    break
            f = f.f_back
        return site, phase

    def _action(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer.stack:
                return fn(*args, **kwargs)
            site, phase = tracer._site()
            if tracer._phase is not None and phase is not None:
                cur = tracer.spans[tracer._phase]["name"]
                want = cur.rsplit(".", 1)[0] + "." + phase
                if want != cur:
                    tracer._close(tracer._phase)
                    tracer._phase = tracer._open(want)
            sid = tracer.stack[-1]
            tracer.sites[sid][site or "?"] += 1
            tracer.sc.setJobDescription(f"pb:{sid}|{site}")
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.sc.setJobDescription(f"pb:{sid}")

        return wrapped

    def _keep(self, key: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapped(df, *args, **kwargs):
            out = fn(df, *args, **kwargs)
            if tracer.stack:
                tracer.captured[key].append((df, out))
            return out

        return wrapped

    def _layer(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if not tracer.stack:
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapped

    @contextlib.contextmanager
    def installed(self, layers: bool):
        """Patch the action methods and the capture points; with `layers`,
        also the run_pipeline stage and ontology entry points."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from kgforge import canon, checkpoint, ontology
        from kgforge.operators import bloom

        patches = [
            (DataFrame, a) for a in ("count", "collect", "take", "localCheckpoint")
        ] + [(DataFrameWriter, a) for a in ("save", "parquet")]
        saved = []
        for owner, attr in patches:
            saved.append((owner, attr, owner.__dict__[attr]))
            setattr(owner, attr, self._action(owner.__dict__[attr]))
        for owner, attr, key in ((canon, "verify_pairs_jaccard", "verify"),
                                 (bloom, "bloom_prune", "bloom")):
            saved.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, self._keep(key, getattr(owner, attr)))
        if layers:
            for attr in ("propagate_hierarchy", "collect_aliases"):
                saved.append((ontology, attr, getattr(ontology, attr)))
                setattr(ontology, attr, self._layer("ontology", getattr(ontology, attr)))
            cm = checkpoint.CheckpointManager
            run_stage = cm.__dict__["run_stage"]
            saved.append((cm, "run_stage", run_stage))
            tracer = self

            @functools.wraps(run_stage)
            def traced_run_stage(mgr, stage, *args, **kwargs):
                with tracer.span(STAGE_LAYER.get(stage, stage)):
                    return run_stage(mgr, stage, *args, **kwargs)

            cm.run_stage = traced_run_stage
        try:
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def take_captured(self, key: str) -> list:
        return self.captured.pop(key, [])


# -- event log -----------------------------------------------------------------

def _acc(info: dict, name: str) -> float:
    return sum(
        float(a.get("Update") or 0)
        for a in info.get("Accumulables", [])
        if a.get("Name") == name
    )


def read_event_log(log_dir: str) -> dict[int, dict[str, float]]:
    """Per span id: jobs, task run time, Python worker time, shuffle and
    spill, from the uncompressed event log(s) in `log_dir`."""
    stage_span: dict[int, int] = {}
    per: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def span_of(props: dict | None) -> int | None:
        desc = (props or {}).get("spark.job.description") or ""
        if not desc.startswith("pb:"):
            return None
        return int(desc[3:].split("|", 1)[0])

    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    sid = span_of(ev.get("Properties"))
                    if sid is not None:
                        per[sid]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = span_of(ev.get("Properties"))
                    if sid is not None:
                        stage_span[ev["Stage Info"]["Stage ID"]] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev["Stage ID"])
                    if sid is None:
                        continue
                    tm = ev.get("Task Metrics") or {}
                    info = ev.get("Task Info") or {}
                    m = per[sid]
                    m["run_ms"] += tm.get("Executor Run Time", 0)
                    m["shuffle_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    m["py_run_ms"] += _acc(info, "time to run Python workers")
                    # pyspark's worker starts its init clock when it begins
                    # to wait for a task, so on a reused worker "initialize"
                    # holds its idle time in the pool: count it only for a
                    # worker started for this task
                    boot = _acc(info, "time to start Python workers")
                    if boot:
                        m["py_start_ms"] += boot + _acc(info, "time to initialize Python workers")
    return per


def span_table(tracer: Tracer, spark_side: dict[int, dict[str, float]]) -> list[dict]:
    """One row per span: its root span, wall, self time and the
    Spark-side sums."""
    child_s: dict[int, float] = defaultdict(float)
    for s in tracer.spans:
        if s["parent"] is not None:
            child_s[s["parent"]] += s["t1"] - s["t0"]
    rows = []
    for s in tracer.spans:
        wall = s["t1"] - s["t0"]
        m = spark_side.get(s["id"], {})
        root = s
        while root["parent"] is not None:
            root = tracer.spans[root["parent"]]
        rows.append(
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "root": root["id"],
                "wall_s": wall,
                "self_s": wall - child_s[s["id"]],
                "jobs": int(m.get("jobs", 0)),
                "run_s": m.get("run_ms", 0.0) / 1e3,
                "py_s": m.get("py_run_ms", 0.0) / 1e3,
                "py_start_s": m.get("py_start_ms", 0.0) / 1e3,
                "shuffle_mb": m.get("shuffle_bytes", 0.0) / 1e6,
                "spill_mb": m.get("spill_bytes", 0.0) / 1e6,
                "sites": dict(tracer.sites.get(s["id"], {})),
            }
        )
    return rows


def layer_sums(rows: list[dict], names, cores: int) -> dict[str, dict[str, float]]:
    """Sum the rows of each layer name; `idle_share` over its self time."""
    out = {}
    for name in names:
        sel = [r for r in rows if r["name"] == name]
        t = {
            "wall_s": sum(r["self_s"] for r in sel),
            "jobs": sum(r["jobs"] for r in sel),
            "py_s": sum(r["py_s"] for r in sel),
            "py_start_s": sum(r["py_start_s"] for r in sel),
            "shuffle_mb": sum(r["shuffle_mb"] for r in sel),
            "spill_mb": sum(r["spill_mb"] for r in sel),
            "run_s": sum(r["run_s"] for r in sel),
        }
        t["idle_share"] = (
            1.0 - t["run_s"] / (t["wall_s"] * cores) if t["wall_s"] > 0 else 0.0
        )
        out[name] = t
    return out

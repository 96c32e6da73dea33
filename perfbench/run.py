"""kgforge benchmark: one command, every metric, checked outputs.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

Run from the repository root. The workload's inputs are generated from
`--seed`. Each run times one operation, the first of its kind in a fresh
session, which on the reference box lasts longer than `--seconds`; its
output is checked. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones (see perfbench/METRICS.md). The line before it is a
JSON report: the environment (cores, memory, heap, spill directory,
shuffle partitions, git commit), set-up parts, every operation with the
1-min load before and after it, every check and the spans.

All files the run writes, Spark's spill and temp files included, go to
`.perfbench/` under the repository root and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent


def metric_units(kind: str) -> dict[str, str]:
    """name -> unit of the `end_to_end` or `per_layer` metrics BENCHMARK.json declares."""
    with open(ROOT / "BENCHMARK.json") as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


# -- process tree ----------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss pages) for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        out[int(name)] = (int(fields[1]), int(fields[21]))
    return out


def descendants(root: int) -> dict[int, int]:
    """pid -> rss bytes for `root` and every process below it."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    page = os.sysconf("SC_PAGE_SIZE")
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid][1] * page
            todo.extend(children.get(pid, []))
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of this process tree while `active` is set."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.active = threading.Event()
        self.done = threading.Event()
        self.peak = 0

    def run(self) -> None:
        while not self.done.is_set():
            if self.active.is_set():
                self.peak = max(self.peak, sum(descendants(os.getpid()).values()))
            self.done.wait(self.interval)


# -- run context -------------------------------------------------------------------

class Context:
    """One benchmark invocation: session, work directory, ops and checks."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = str(ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}")
        self.event_dir = os.path.join(self.work, "eventlog")
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.setup: dict[str, float] = {}
        self.ops: list[dict] = []
        self.checks: dict[str, dict] = {}
        self.extra: dict = {}
        self.spans: list[dict] = []
        self.per_layer: dict[str, float] = {}
        self.env: dict = {}
        self.sampler = RssSampler()

    # environment -------------------------------------------------------------------
    def prepare_env(self) -> None:
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        for d in (tmp, local, self.event_dir):
            os.makedirs(d, exist_ok=True)
        # keep every write inside the checkout: kgforge's spill default is
        # /dev/shm, the JVM's and Python's temp default /tmp
        os.environ["KGF_LOCAL_DIR"] = local
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        path = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    def start_session(self, cores: int, event_log: bool):
        from kgforge.conf import get_spark

        conf = {}
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark(f"perfbench-{self.workload}", cpus=cores, extra_conf=conf)
        return self.spark

    def open_session(self, event_log: bool):
        """Start the run's session on all its cores, timed as set-up, and
        record the environment."""
        t0 = time.perf_counter()
        self.start_session(self.cores, event_log)
        self.setup["session_s"] = time.perf_counter() - t0
        self.record_env()
        return self.spark

    def stop_context(self) -> None:
        """Stop the SparkContext (flushing the event log); the JVM stays."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def record_env(self) -> None:
        spark = self.spark
        sc = spark.sparkContext
        jconf = sc.getConf()
        mem_total_kb = None
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_total_kb = int(line.split()[1])
        self.env = {
            "nproc": self.cores,
            "mem_total_mb": mem_total_kb / 1024 if mem_total_kb else None,
            "master": sc.master,
            "spark_driver_memory": jconf.get("spark.driver.memory", None),
            "jvm_max_heap_mb": sc._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
            "spark_local_dir": jconf.get("spark.local.dir", None),
            "spark_local_dirs_env": os.environ.get("SPARK_LOCAL_DIRS"),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark_version": spark.version,
            "git_commit": git_commit(),
        }

    # operations ---------------------------------------------------------------------
    def timed(self, fn, kind: str = "measured"):
        """Run one operation with RSS sampling on; record its wall, the load
        around it and whether it raised. Returns fn's result, or None when
        it raised."""
        op = {"kind": kind, "load_before": os.getloadavg()[0], "ok": False}
        self.sampler.active.set()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as e:  # a failed operation is counted, not fatal
            result = None
            op["error"] = f"{type(e).__name__}: {e}"[:300]
        op["wall_s"] = time.perf_counter() - t0
        self.sampler.active.clear()
        op["load_after"] = os.getloadavg()[0]
        self.ops.append(op)
        return result

    def check(self, name: str, ok: bool, detail) -> None:
        self.checks[name] = {"ok": bool(ok), "detail": detail}


def git_commit() -> str | None:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=str(ROOT.parent))
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def stop_processes(ctx: Context) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    from pyspark import SparkContext

    tree = set(descendants(os.getpid())) - {os.getpid()}
    ctx.stop_context()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.time() + 20
    while time.time() < deadline:
        alive = [p for p in tree if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in tree:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import kgforge  # noqa: F401
        import tests.oracle.reference_emitter  # noqa: F401

        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: kgforge sources not found under {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    started = time.perf_counter()
    ctx = Context(args)
    ctx.prepare_env()
    ctx.sampler.start()
    try:
        steal0 = cpu_ticks()
        result = WORKLOADS[args.workload](ctx)
        steal1 = cpu_ticks()
        # CPU time the host gave other guests: on a shared VM the main
        # source of run-to-run spread
        ctx.env["cpu_steal_share"] = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    finally:
        ctx.sampler.done.set()
        ctx.sampler.join(timeout=5)
        stop_processes(ctx)
        shutil.rmtree(ctx.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(ctx.work))
        except OSError:  # another run's work directory is still there
            pass

    ctx.extra["run_wall_s"] = time.perf_counter() - started
    result["setup_s"] = sum(ctx.setup.values())
    result["peak_rss_mb"] = ctx.sampler.peak / 1e6
    failed = sum(1 for o in ctx.ops if not o["ok"])
    correct = failed == 0 and all(c["ok"] for c in ctx.checks.values())
    if args.trace:
        metrics = {n: {"value": float(ctx.per_layer.get(n, 0.0)), "unit": u}
                   for n, u in metric_units("per_layer").items()}
    else:
        metrics = {n: {"value": float(result[n]), "unit": u}
                   for n, u in metric_units("end_to_end").items()}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": ctx.env,
        "setup_s": ctx.setup,
        "failed_ops": failed / len(ctx.ops) if ctx.ops else 1.0,
        "ops": ctx.ops,
        "checks": ctx.checks,
        "measured": result,
        "extra": ctx.extra,
        "spans": ctx.spans,
    }
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": len(ctx.ops),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

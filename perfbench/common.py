"""Shared plumbing for the perfbench workloads: arguments, the Spark
session, the per-run work directory, op timing and the result line."""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench")
DATA_ENV = "SPARK_GRAFT_SF_DIR"
DATA_SUBDIR = os.path.join("testdata", "sf0.1")


def parse_args(workloads: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=workloads)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def data_dir() -> str:
    """The sf0.1 tables: ``$SPARK_GRAFT_SF_DIR`` (as bench.py), else the
    nearest ``testdata/sf0.1`` at or above the checkout (TESTDATA.md)."""
    if os.environ.get(DATA_ENV):
        return os.environ[DATA_ENV]
    d = ROOT
    while True:
        cand = os.path.join(d, DATA_SUBDIR)
        if os.path.isdir(cand):
            return cand
        parent = os.path.dirname(d)
        if parent == d:
            raise SystemExit(f"no {DATA_SUBDIR} found; set {DATA_ENV}")
        d = parent


def _cpu_ticks() -> list[int]:
    """System-wide CPU ticks from /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal); empty where there is no /proc."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


_TICKS0 = _cpu_ticks()


def facts() -> dict:
    """Sandbox facts printed with every run, including the share of CPU
    time the hypervisor stole from this machine since the run started:
    a busy host slows every timing together."""
    t1 = _cpu_ticks()
    d = [b - a for a, b in zip(_TICKS0, t1)]
    return {
        "steal_share": round(d[7] / max(1, sum(d)), 3) if len(d) == 8
        else None,
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "clients": 1,
        "loop": "closed",
        "flush": "os.replace, no fsync (catalog commits and parquet files)",
    }


class Work:
    """Per-run work directory inside the checkout; every temp file the
    run (or Spark) makes lands here and is removed at exit."""

    def __init__(self):
        self.dir = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self._n = 0

    def path(self, stem: str) -> str:
        self._n += 1
        return os.path.join(self.dir, f"{stem}-{self._n}")

    def trace_path(self, args) -> str:
        """Span JSONL of a traced run; kept after the run for inspection."""
        d = os.path.join(WORK_ROOT, "traces")
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, f"{args.workload}-seed{args.seed}.jsonl")

    def cleanup(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def start_session(work: Work):
    """The engine's own tuned session (heracles_spark.session), with every
    temp and warehouse dir kept inside the work directory."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    tmp = os.path.join(work.dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    import tempfile
    tempfile.tempdir = tmp

    from heracles_spark.session import get_session

    spark = get_session("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work.dir, "warehouse"),
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    write: bool = False
    rows: int = 0           # user rows committed by a write op
    traced: bool = False


class Alternate:
    """Picks the traced ops of a traced run: every other op of each kind,
    starting with the first, so a kind that runs once is traced and a kind
    that runs more often also runs untraced, giving the tracing
    overhead."""

    def __init__(self, on: bool):
        self.on, self.seen = on, Counter()

    def __call__(self, kind: str) -> bool:
        self.seen[kind] += 1
        return self.on and self.seen[kind] % 2 == 1


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def kind_medians(ops: list[Op]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for o in ops:
        by.setdefault(o.kind, []).append(o.seconds)
    return {k: median(v) for k, v in by.items()}


def end_to_end(ops: list[Op], window_s: float, setup_s: float,
               stored_bytes_per_row: float) -> dict:
    return {
        "setup_s": (setup_s, "s"),
        # Sum over op kinds of each kind's median latency: insensitive to
        # how many ops of each kind a run happened to finish.
        "headline_s": (sum(kind_medians(ops).values()), "s"),
        "ops_per_s": (len(ops) / window_s, "1/s"),
        # Geometric mean over read kinds of each kind's median latency:
        # every read kind weighs the same, and unlike a median pooled
        # over all reads it cannot jump from one kind's latency to
        # another's when one op is slower.
        "read_gmean_s": (geomean(kind_medians(
            [o for o in ops if not o.write]).values()), "s"),
        "stored_bytes_per_row": (stored_bytes_per_row, "B/row"),
    }


def emit(correct: bool, attempted: int, failed: int,
         metrics: dict[str, tuple[float, str]]) -> None:
    """The result line: last line of stdout."""
    print(json.dumps({
        "correct": bool(correct), "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }), flush=True)


def note(op_log: list[Op], **kw) -> None:
    """Human-readable lines ahead of the result: seed, sample counts,
    set-up breakdown, sandbox facts, and each op kind's median latency."""
    print("# " + " ".join(f"{k}={v}" for k, v in kw.items()), flush=True)
    print("# kind_median_s " + " ".join(
        f"{k}={v:.4f}" for k, v in sorted(kind_medians(
            [o for o in op_log if o.ok]).items(), key=lambda kv: kv[1])),
        flush=True)


def files_bytes_rows(files: list[dict]) -> tuple[int, int]:
    return (sum(os.path.getsize(f["path"]) for f in files),
            sum(int(f.get("rows", 0)) for f in files))


def now() -> float:
    return time.perf_counter()

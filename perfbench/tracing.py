"""In-memory span tracing for the traced (``--trace 1``) run.

Spans come from timing wrappers the benchmark installs around public
module attributes of ``heracles_spark`` (nothing inside the package
changes), plus Spark's own Catalyst phase times. Each span records name,
start, end, span id, parent id and op id; a layer's self time is its
span's duration minus the part its child spans cover. Per-op Spark
counts come from ``statusTracker()`` under a per-op job group and from
the executed plan's SQL metrics (``AdaptiveSparkPlanExec`` unwrapped).
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import Counter, defaultdict

# (module, attribute, span name): module functions are rebound in every
# heracles_spark module that imported them by name; "Class.method"
# attributes are patched on the class.
HOOKS = [
    ("heracles_spark.session", "HeraclesSession.sql", "sql.dispatch"),
    ("heracles_spark.pruning", "prune_files", "pruning.prune_files"),
    ("heracles_spark.pruning", "scan", "pruning.scan"),
    ("heracles_spark.catalog", "HeraclesCatalog.get_table",
     "catalog.get_table"),
    ("heracles_spark.catalog", "HeraclesCatalog.update_file_index",
     "catalog.commit"),
    ("heracles_spark.writer", "write_key_organized", "writer.write"),
    ("heracles_spark.writer", "harvest_file_index", "writer.harvest"),
    ("heracles_spark.index", "indexed_lookup", "index.lookup"),
    ("heracles_spark.dml", "delete_from", "dml.delete"),
    ("heracles_spark.merge", "merge_into", "merge.merge"),
]
PHASES = ("parsing", "analysis", "optimization", "planning")
# Spans whose self time is reported, by metric name.
SELF_METRICS = {
    "queries.build_s": ("queries.build",),
    "exec.collect_s": ("exec.collect",),
    "sql.dispatch_s": ("sql.dispatch",),
    "pruning.self_s": ("pruning.prune_files", "pruning.scan"),
    "index.lookup_s": ("index.lookup",),
    "catalog.get_table_s": ("catalog.get_table",),
    "catalog.commit_s": ("catalog.commit",),
    "writer.write_s": ("writer.write", "writer.harvest"),
    "dml.delete_s": ("dml.delete",),
    "merge.merge_s": ("merge.merge",),
    "bench.self_s": ("op",),
    **{f"catalyst.{p}_s": (f"catalyst.{p}",) for p in PHASES},
}
_TOL = 0.002   # JVM phase times are whole milliseconds


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.op_id: int | None = None
        self.counts: Counter = Counter()
        self.prunes: list[tuple[list[str], object]] = []
        self._next = 0

    # -- spans --------------------------------------------------------------
    def _open(self, name: str) -> dict:
        self._next += 1
        sp = {"name": name, "start": time.time(), "end": None,
              "id": self._next,
              "parent": self.stack[-1]["id"] if self.stack else None,
              "op": self.op_id}
        self.spans.append(sp)
        self.stack.append(sp)
        return sp

    def _close(self, sp: dict) -> None:
        sp["end"] = time.time()
        self.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        sp = self._open(name)
        try:
            yield sp
        finally:
            self._close(sp)

    def begin_op(self, op_id: int) -> dict:
        self.op_id = op_id
        return self._open("op")

    def end_op(self, root: dict) -> None:
        self._close(root)
        self.op_id = None

    def add_timed(self, name: str, start: float, end: float,
                  root: dict) -> None:
        """Place an externally timed interval (a Catalyst phase) under the
        innermost span of its op that contains it, clipped so it overlaps
        neither its parent's bounds nor its siblings."""
        mine = [s for s in self.spans if s["op"] == root["op"]]
        parent = root
        for s in mine:
            if (s["start"] - _TOL <= start and end <= s["end"] + _TOL
                    and s["end"] - s["start"]
                    <= parent["end"] - parent["start"]):
                parent = s
        start, end = max(start, parent["start"]), min(end, parent["end"])
        kids = sorted((c for c in mine if c["parent"] == parent["id"]),
                      key=lambda c: c["start"])
        for c in kids:
            if c["start"] <= start < c["end"]:
                start = c["end"]
            if c["start"] < end <= c["end"]:
                end = c["start"]
            if start < c["start"] and c["end"] < end:
                end = c["start"]
        if end <= start:
            return
        self._next += 1
        self.spans.append({"name": name, "start": start, "end": end,
                           "id": self._next, "parent": parent["id"],
                           "op": root["op"]})

    # -- wrappers -----------------------------------------------------------
    def install(self) -> None:
        import heracles_spark.dml  # noqa: F401  (load every hooked module)
        import heracles_spark.index  # noqa: F401
        import heracles_spark.merge  # noqa: F401
        import heracles_spark.session  # noqa: F401
        import heracles_spark.writer  # noqa: F401

        for modname, attr, name in HOOKS:
            mod = sys.modules[modname]
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                setattr(cls, meth, self._wrap(orig, name))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, name)
            for m in list(sys.modules.values()):
                if (getattr(m, "__name__", "").startswith("heracles_spark")
                        and getattr(m, attr, None) is orig):
                    setattr(m, attr, wrapped)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.op_id is None:
                return fn(*args, **kwargs)
            with tracer.span(name):
                out = fn(*args, **kwargs)
            tracer.counts[name] += 1
            if name == "pruning.prune_files":
                files = args[0] if args else kwargs["files"]
                pred = args[1] if len(args) > 1 else kwargs.get("pred")
                tracer.counts["pruning.files_total"] += len(files)
                tracer.counts["pruning.files_read"] += len(out)
                if pred is not None and out:
                    tracer.prunes.append(([f["path"] for f in out], pred))
            return out
        return wrapper

    # -- reporting ----------------------------------------------------------
    def self_times(self) -> dict[int, dict[str, float]]:
        """op id -> span name -> self seconds."""
        by_id = {s["id"]: s for s in self.spans if s["end"] is not None}
        child = defaultdict(float)
        for s in by_id.values():
            if s["parent"] in by_id:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[int, dict[str, float]] = defaultdict(Counter)
        for s in by_id.values():
            out[s["op"]][s["name"]] += max(
                0.0, s["end"] - s["start"] - child[s["id"]])
        return out

    def misnested_ops(self) -> int:
        """Ops whose spans do not nest: a span that starts before or ends
        after its parent, or two siblings that overlap (as when the package
        calls a wrapped function from a second thread, since the span
        stack is shared). Only when every op nests do its layer self times
        sum to at most its traced wall time."""
        by_op: dict = defaultdict(list)
        for s in self.spans:
            by_op[s["op"]].append(s)
        bad = 0
        for spans in by_op.values():
            by_id = {s["id"]: s for s in spans}
            kids: dict = defaultdict(list)
            for s in spans:
                if s["parent"] is not None:
                    kids[s["parent"]].append(s)
            ok = all(s["end"] is not None for s in spans)
            for pid, cs in kids.items():
                if not ok:
                    break
                p = by_id.get(pid)
                cs = sorted(cs, key=lambda c: c["start"])
                ok = (p is not None and p["start"] <= cs[0]["start"]
                      and max(c["end"] for c in cs) <= p["end"]
                      and all(a["end"] <= b["start"]
                              for a, b in zip(cs, cs[1:])))
            bad += not ok
        return bad

    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        """Mean self seconds per traced op, per layer metric."""
        total = Counter()
        for st in self.self_times().values():
            for metric, names in SELF_METRICS.items():
                total[metric] += sum(st.get(n, 0.0) for n in names)
        return {m: total[m] / max(1, n_ops) for m in SELF_METRICS}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# -- Spark-side counters ------------------------------------------------------

def _seq(x) -> list:
    return [x.apply(i) for i in range(x.size())]


def phases(df) -> dict[str, tuple[float, float]]:
    """Catalyst phase intervals (epoch seconds) of ``df``'s execution."""
    out = {}
    ph = df._jdf.queryExecution().tracker().phases()
    for kv in _seq(ph.toSeq()):
        name, summ = kv._1(), kv._2()
        if name in PHASES:
            out[name] = (summ.startTimeMs() / 1000.0,
                         summ.endTimeMs() / 1000.0)
    return out


def plan_counts(df) -> Counter:
    """SQL metrics summed over the executed plan's operators (reused
    exchanges and subqueries are leaves, so nothing counts twice)."""
    c: Counter = Counter()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if "Exchange" in cls and not cls.startswith("Reused"):
            c["exchanges"] += 1
        metrics = {kv._1(): kv._2().value()
                   for kv in _seq(node.metrics().toSeq())}
        if "Scan" in name:
            c["scan_files"] += metrics.get("numFiles", 0)
            c["scan_bytes"] += metrics.get("filesSize", 0)
        c["shuffle_bytes"] += metrics.get("shuffleBytesWritten", 0)
        c["spill_bytes"] += metrics.get("spillSize", 0)
        c["agg_fallback_tasks"] += metrics.get("numTasksFallBacked", 0)
        stack.extend(_seq(node.children()))
        stack.extend(_seq(node.subqueries()))
    return c


def job_counts(sc, group: str) -> Counter:
    c: Counter = Counter()
    st = sc.statusTracker()
    for jid in st.getJobIdsForGroup(group):
        c["jobs"] += 1
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            c["stages"] += 1
            si = st.getStageInfo(sid)
            c["tasks"] += si.numTasks if si else 0
    return c


class SparkOp:
    """Per-op Spark counters for one traced op: job group in, counts out."""

    def __init__(self, spark, tracer: Tracer, op_id: int):
        self.spark, self.tracer, self.op_id = spark, tracer, op_id
        self.group = f"perfbench-{op_id}"

    def __enter__(self):
        self.spark.sparkContext.setJobGroup(self.group, "perfbench op")
        self.root = self.tracer.begin_op(self.op_id)
        return self

    def __exit__(self, *exc):
        self.tracer.end_op(self.root)
        return False

    def collect(self, df):
        with self.tracer.span("exec.collect"):
            return df.collect()

    def finish(self, df, counts: Counter) -> None:
        """After the op: phases into the span tree, counters into
        ``counts``. Runs outside the op's own wall time."""
        counts.update(job_counts(self.spark.sparkContext, self.group))
        if df is None:
            return
        try:
            for name, (s, e) in phases(df).items():
                self.tracer.add_timed(f"catalyst.{name}", s, e, self.root)
            counts.update(plan_counts(df))
        except Exception as e:  # noqa: BLE001 - a plan we cannot walk
            counts["plan_walk_errors"] += 1
            print(f"# plan walk failed: {type(e).__name__}", file=sys.stderr)

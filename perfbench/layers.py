"""The per-layer metrics of the traced run, shared by every workload.

Every traced run prints every metric below; a layer a workload does not
enter reads 0 there. ``_s`` metrics are mean self seconds per traced op
unless noted; counts are per traced op unless noted.
"""

from __future__ import annotations

import statistics
from collections import Counter

from perfbench import tracing
from perfbench.common import Op, now
from perfbench.headline import QUERIES

PER_LAYER = {
    # layout (analytic_headline): a fresh mirror build, whole run
    "layout.prepare_s": "s",
    "layout.files": "count",
    "layout.files.documents": "count",
    "layout.files.events": "count",
    "layout.files.embeddings": "count",
    "layout.files.lineitem": "count",
    "layout.files.orders": "count",
    # queries (analytic_headline): py4j DataFrame construction, and each
    # timed query's median latency over the whole run
    "queries.build_s": "s",
    **{f"headline.{q}_s": "s" for q in QUERIES},
    # Catalyst phases of the op's result plan
    "catalyst.parsing_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    # execution
    "exec.collect_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.scan_files": "count",
    "exec.scan_bytes": "B",
    "exec.shuffle_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.exchanges": "count",
    "exec.agg_fallback_tasks": "count",
    "exec.floor_s": "s",
    # sql router (keyed_ingest_mixed)
    "sql.dispatch_s": "s",
    "sql.routed_share": "ratio",
    "sql.declined": "count",
    # pruning
    "pruning.self_s": "s",
    "pruning.prune_calls": "count",
    "pruning.files_total": "count",
    "pruning.files_read": "count",
    "pruning.files_read_share": "ratio",
    "pruning.files_useful_share": "ratio",
    # secondary index
    "index.lookups": "count",
    "index.lookup_s": "s",
    # catalog
    "catalog.get_table_s": "s",
    "catalog.commit_s": "s",
    "catalog.commits": "count",
    "catalog.live_files": "count",
    # writer, dml, merge (keyed_ingest_mixed)
    "writer.write_s": "s",
    "writer.files_written": "count",
    "writer.bytes_written": "B",
    "writer.write_amp": "ratio",
    "dml.delete_s": "s",
    "merge.merge_s": "s",
    # the write class of keyed_ingest_mixed, whole run
    "ingest.write_p50_s": "s",
    "ingest.rows_per_s": "1/s",
    # the benchmark's own share and the cost of tracing
    "bench.self_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
    "trace.misnested_ops": "count",
}
_EXEC = ("jobs", "stages", "tasks", "scan_files", "scan_bytes",
         "shuffle_bytes", "spill_bytes", "exchanges", "agg_fallback_tasks")
_USEFUL_CAP = 40     # prune outcomes re-read for the useful-files share


def _floor_s(spark, sf_dir: str) -> float:
    """bench.py's fixed per-query floor: a fresh trivial plan over the
    smallest table, median of five."""
    src = f"{sf_dir}/nation.parquet"
    runs = []
    for _ in range(5):
        t = now()
        spark.read.parquet(src).groupBy().count().collect()
        runs.append(now() - t)
    return statistics.median(runs)


def _useful_share(spark, prunes) -> float:
    """Files holding at least one matching row over files read."""
    from pyspark.sql import functions as F

    from heracles_spark import pruning

    read = useful = 0
    for paths, pred in prunes[:_USEFUL_CAP]:
        hit = (spark.read.parquet(*paths).where(pruning.to_sql(pred))
               .select(F.input_file_name()).distinct().count())
        read += len(paths)
        useful += hit
    return useful / read if read else 0.0


def _overhead(ops: list[Op]) -> float:
    """Tracing overhead per op: traced minus untraced median latency, the
    median over the op kinds that ran both ways."""
    by: dict[str, tuple[list, list]] = {}
    for o in ops:
        if o.ok:
            by.setdefault(o.kind, ([], []))[o.traced].append(o.seconds)
    diffs = [statistics.median(t) - statistics.median(u)
             for u, t in by.values() if u and t]
    return statistics.median(diffs) if diffs else 0.0


def traced_metrics(spark, tracer: tracing.Tracer, ops: list[Op],
                   counts: Counter, sf_dir: str,
                   extra: dict[str, tuple[float, str]] | None = None,
                   trace_path: str | None = None
                   ) -> dict[str, tuple[float, str]]:
    n = max(1, len([o for o in ops if o.traced]))
    out: dict[str, tuple[float, str]] = {k: (0.0, u)
                                         for k, u in PER_LAYER.items()}
    for k, v in tracer.layer_metrics(n).items():
        out[k] = (v, "s")
    for k in _EXEC:
        out[f"exec.{k}"] = (counts[k] / n, PER_LAYER[f"exec.{k}"])
    out["exec.floor_s"] = (_floor_s(spark, sf_dir), "s")
    selects = counts["sql.selects"]
    out["sql.routed_share"] = (counts["sql.routed"] / selects
                               if selects else 0.0, "ratio")
    out["sql.declined"] = (counts["sql.declined"] / n, "count")
    tc = tracer.counts
    total, read = tc["pruning.files_total"], tc["pruning.files_read"]
    out["pruning.prune_calls"] = (tc["pruning.prune_files"] / n, "count")
    out["pruning.files_total"] = (total / n, "count")
    out["pruning.files_read"] = (read / n, "count")
    out["pruning.files_read_share"] = (read / total if total else 0.0,
                                       "ratio")
    out["pruning.files_useful_share"] = (_useful_share(spark, tracer.prunes),
                                         "ratio")
    out["index.lookups"] = (tc["index.lookup"] / n, "count")
    out["catalog.commits"] = (tc["catalog.commit"] / n, "count")
    out["trace.overhead_s"] = (_overhead(ops), "s")
    out["trace.spans"] = (len(tracer.spans), "count")
    out["trace.misnested_ops"] = (tracer.misnested_ops(), "count")
    out.update(extra or {})
    if trace_path:
        tracer.dump(trace_path)
    if set(out) != set(PER_LAYER):
        raise RuntimeError(
            f"unlisted layer metrics: {set(out) ^ set(PER_LAYER)}")
    return out

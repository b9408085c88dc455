"""analytic_headline: fresh plans of bench.py's headline queries on the
``layout.prepare`` mirror, checked against their DuckDB oracles."""

from __future__ import annotations

import hashlib
import os
import random
import sys
from collections import Counter

import pandas as pd

from perfbench import common
from perfbench.common import Op, now

# The subset of bench.HEADLINE one run can afford: one pass of all 38
# queries takes ~70 s warm on 4 cores, so the run times these 7. They
# cover the relational core (scan/agg, join/agg, key point, window) and
# the row-heavy mirror tables (events, documents, embeddings), and stay
# under ~1.5 s each.
QUERIES = [
    "q6_forecast_revenue",
    "q18_large_orders",
    "point_lookup",
    "window_row_number",
    "events_sessionize",
    "doc_dedup_exact_text",
    "embedding_knn_brute",
]
# Five warm-up passes: the JIT keeps speeding passes up until about
# the ninth (one 70 s run after two warm-up passes timed 3.78, 3.37,
# 2.88, 2.98, 2.67, 2.48, 2.42, 2.50, 2.30 s, then 2.2-2.5 s). With two,
# the timed passes still drifted and headline_s spread 0.10 over five
# seeds; more than five do not fit the time budget.
WARM_PASSES = 5
MIN_PASSES = 3
MIRRORED = ("documents", "events", "embeddings", "lineitem", "orders")
ORACLE_TABLES = ("region nation customer supplier part orders lineitem "
                 "events documents embeddings").split()


def _oracle_frames(sf_dir: str, names: list[str]) -> dict[str, pd.DataFrame]:
    """DuckDB oracle results, cached in the checkout by (query, oracle SQL,
    source files): the data is read-only, so the answer cannot change."""
    import duckdb

    from heracles_spark.queries import all_oracles

    oracles = all_oracles()
    cache = os.path.join(common.WORK_ROOT, "oracle")
    os.makedirs(cache, exist_ok=True)
    stamp = "".join(f"{t}:{os.path.getmtime(p)}:{os.path.getsize(p)};"
                    for t in ORACLE_TABLES
                    for p in [os.path.join(sf_dir, f"{t}.parquet")]
                    if os.path.exists(p))
    out, con = {}, None
    for name in names:
        key = hashlib.sha1(f"{name}\0{oracles[name]}\0{sf_dir}\0{stamp}"
                           .encode()).hexdigest()
        path = os.path.join(cache, f"{key}.pkl")
        if os.path.exists(path):
            out[name] = pd.read_pickle(path)
            continue
        if con is None:
            con = duckdb.connect()
            for t in ORACLE_TABLES:
                src = os.path.join(sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        out[name] = con.execute(oracles[name]).fetchdf()
        out[name].to_pickle(path + ".tmp")
        os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return out


def _mirror_dir() -> str:
    """Where the checkout keeps the mirror for the code checked out: keyed
    by a hash of every ``heracles_spark`` source file, so any change to
    the package builds a new mirror (``layout.prepare``'s own manifest
    covers the data)."""
    pkg = os.path.join(common.ROOT, "heracles_spark")
    h = hashlib.sha1()
    for d, subdirs, names in os.walk(pkg):
        subdirs.sort()
        for name in sorted(n for n in names if n.endswith(".py")):
            path = os.path.join(d, name)
            h.update(os.path.relpath(path, pkg).encode() + b"\0")
            with open(path, "rb") as fh:
                h.update(fh.read())
    return os.path.join(common.WORK_ROOT, f"layout-{h.hexdigest()[:16]}")


def _mirror(dest: str, sf_dir: str) -> tuple[dict[str, int], int, int]:
    """Files per table, and total bytes and rows, of the mirror's tables
    (a table the mirror leaves unsplit is read from its source file)."""
    import pyarrow.parquet as pq

    files, nbytes, nrows = {}, 0, 0
    for table in MIRRORED:
        d = os.path.join(dest, f"{table}.parquet")
        parts = ([os.path.join(d, f) for f in os.listdir(d)
                  if f.endswith(".parquet")] if os.path.isdir(d)
                 else [os.path.join(sf_dir, f"{table}.parquet")])
        files[table] = len(parts)
        nbytes += sum(os.path.getsize(p) for p in parts)
        nrows += sum(pq.ParquetFile(p).metadata.num_rows for p in parts)
    return files, nbytes, nrows


def run(spark, args, work, session_s: float, tracer=None) -> None:
    sys.path.insert(0, os.path.join(common.ROOT, "tools"))
    from bench import HEADLINE
    from check_correctness import compare

    from heracles_spark import layout
    from heracles_spark.queries import all_queries
    from perfbench import layers, tracing

    if not set(QUERIES) <= set(HEADLINE):
        raise RuntimeError("timed queries are no longer all in "
                           "bench.HEADLINE")
    sf_dir = common.data_dir()
    rng = random.Random(args.seed)

    # Set-up: the engine's bulk-load mirror for the code checked out
    # (built by the first run of a checkout and reused while current, as
    # bench.py does; its build time is the traced run's
    # layout.prepare_s), then warm-up passes so the JIT and codegen
    # caches settle before timing. setup_s leaves the mirror out, so it
    # reads the same on the run that built it.
    t = now()
    dest = layout.prepare(spark, sf_dir, dest=_mirror_dir())[0]
    mirror_s = now() - t
    os.environ["HERACLES_LAYOUT_DIR"] = dest
    t0 = now()
    registry = all_queries()
    fresh = {n: getattr(registry[n], "__wrapped_query__", registry[n])
             for n in QUERIES}
    for _ in range(WARM_PASSES):
        for name in rng.sample(QUERIES, len(QUERIES)):
            try:
                fresh[name](spark, sf_dir).collect()
            except Exception:  # noqa: BLE001 - the timed pass reports it
                pass
    setup_s = session_s + now() - t0

    ops: list[Op] = []
    failed: Counter = Counter()
    last: dict[str, tuple] = {}
    counts: Counter = Counter()
    pick = common.Alternate(bool(args.trace))
    passes, start, pass_s = 0, now(), []
    while True:
        for name in rng.sample(QUERIES, len(QUERIES)):
            op_id, df, t = len(ops), None, now()
            traced = pick(name)
            try:
                if traced:
                    with tracing.SparkOp(spark, tracer, op_id) as so:
                        t = now()
                        with tracer.span("queries.build"):
                            df = fresh[name](spark, sf_dir)
                        rows = so.collect(df)
                        dt = now() - t
                    so.finish(df, counts)
                else:
                    df = fresh[name](spark, sf_dir)
                    rows = df.collect()
                    dt = now() - t
                last[name] = (rows, df.schema)
                ops.append(Op(name, dt, True, traced=traced))
            except Exception as e:  # noqa: BLE001
                print(f"# {name} failed: {type(e).__name__}: {e}"[:300],
                      file=sys.stderr)
                failed[name] += 1
                ops.append(Op(name, now() - t, False, traced=traced))
        passes += 1
        pass_s.append(sum(o.seconds for o in ops[-len(QUERIES):]))
        # At least MIN_PASSES even on a slow host, so one pass slowed by a
        # busy host stays out of each query's median.
        if now() - start >= args.seconds and passes >= MIN_PASSES:
            break
    window_s = now() - start

    # Correctness, outside the timed window: the last timed result of
    # every query against its DuckDB oracle (tools/check_correctness.py).
    oracle = _oracle_frames(sf_dir, QUERIES)
    for name in QUERIES:
        if name not in last:
            continue
        rows, schema = last[name]
        sdf = spark.createDataFrame(rows, schema).toPandas()
        problems = compare(name, sdf, oracle[name])
        if problems:
            print(f"# WRONG {name}: {'; '.join(problems)}"[:400],
                  file=sys.stderr)
            # every timed run of the query returned this plan's rows
            failed[name] = sum(1 for o in ops if o.kind == name)

    _, nbytes, nrows = _mirror(dest, sf_dir)
    good = [o for o in ops if o.ok]
    common.note(ops, workload=args.workload, seed=args.seed, ops=len(ops),
                passes=passes, pass_s=[round(p, 2) for p in pass_s],
                session_s=round(session_s, 2),
                mirror_s=round(mirror_s, 2),
                setup_s=round(setup_s, 2), window_s=round(window_s, 2),
                failed=sum(failed.values()), **common.facts())
    if not args.trace:
        metrics = common.end_to_end(good, window_s, setup_s,
                                    nbytes / max(1, nrows))
    else:
        # The mirror layer: a fresh build, timed, into the run's own dir.
        t = now()
        files, _, _ = _mirror(layout.prepare(
            spark, sf_dir, dest=work.path("layout"))[0], sf_dir)
        extra = {"layout.prepare_s": (now() - t, "s"),
                 "layout.files": (sum(files.values()), "count")}
        for table, n in files.items():
            extra[f"layout.files.{table}"] = (n, "count")
        for name in QUERIES:
            extra[f"headline.{name}_s"] = (common.median(
                [o.seconds for o in good if o.kind == name]), "s")
        metrics = layers.traced_metrics(spark, tracer, ops, counts, sf_dir,
                                        extra, work.trace_path(args))
    common.emit(not failed, len(ops), sum(failed.values()), metrics)

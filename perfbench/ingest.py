"""keyed_ingest_mixed: a seeded op log on one key table, rebuilt from an
identical base every run. Each cycle runs every write kind once (LOAD
DATA, INSERT VALUES, MERGE upsert, DELETE key range, then OPTIMIZE
COMPACT and REFRESH INDEX), and after every write two reads through
``HeraclesSession.sql``, each read kind three times a cycle: a point
get and a key range (the router's pruned scans), an indexed lookup on a
non-key column, and a non-key predicate the router declines. A DuckDB
replay of the same log checks every read and the end state."""

from __future__ import annotations

import datetime
import decimal
import os
import random
import sys
from collections import Counter
from dataclasses import dataclass

from perfbench import common
from perfbench.common import Op, now

SETUP_REPS = 3
MIN_CYCLES = 2
COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
DUCK_CSV_COLS = ("{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT', "
                 "'o_orderstatus': 'VARCHAR', 'o_totalprice': 'DOUBLE', "
                 "'o_orderdate': 'DATE', 'o_orderpriority': 'VARCHAR'}")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
# Batch sizes: a bulk LOAD of 20k rows and INSERT batches of 50 rows;
# a MERGE upserts a batch of the same 50 rows, half of them existing
# keys, and a DELETE removes a key range holding about 50 rows.
LOAD_ROWS, BATCH_ROWS = 20000, 50
# Range reads cover a key range of random width, up to 1% of the base
# table's key domain.
RANGE_SHARE = 0.01
# Writes run once per cycle, the data writes in seeded order and the
# maintenance pair after them. Every write is followed by two reads,
# drawn in seeded order from three rounds of the read kinds, so each
# read kind runs equally often.
DATA_WRITES = ("load", "insert", "merge", "delete")
MAINTENANCE = ("optimize", "refresh_index")
READS = ("point_read", "range_read", "indexed_read", "nonkey_read")
READS_PER_WRITE = 2
# End-state check: row count and key/value checksums, the same SQL on
# both engines. Each value term is weighted by a function of its key, so
# a value moved to another key changes the sum.
CHECKSUM = (
    "SELECT COUNT(*) AS n, SUM(o_orderkey) AS k, "
    "SUM(CAST(o_orderkey % 1009 AS BIGINT) * o_custkey) AS c, "
    "SUM(CAST(o_orderkey % 1013 AS BIGINT) "
    "* CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS p, "
    "SUM(CAST(o_orderkey % 1019 AS BIGINT) * (year(o_orderdate) * 10000 "
    "+ month(o_orderdate) * 100 + day(o_orderdate))) AS d, "
    "SUM(CAST(o_orderkey % 1021 AS BIGINT) * (ascii(o_orderstatus) * 1000 "
    "+ ascii(o_orderpriority) * 10 + length(o_orderpriority))) AS s "
    "FROM orders")
BUILD = (
    "CREATE TABLE orders TBLPROPERTIES('keyCols'='o_orderkey') "
    "AS SELECT * FROM src_orders",
    "CREATE INDEX o_cust ON orders (o_custkey)",
)


@dataclass
class Domain:
    sf_dir: str
    top: int                     # highest order key
    orderkeys: list[int]
    custkeys: list[int]
    order_custkeys: list[int]    # customers that have orders


def _src(sf_dir: str, table: str) -> str:
    return os.path.join(sf_dir, f"{table}.parquet")


def duck(sf_dir: str):
    """DuckDB over the raw parquet, shaped like the key table: timestamps
    as DATE (the key table's CTAS casts them too)."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE VIEW orders AS SELECT * REPLACE "
                "(CAST(o_orderdate AS DATE) AS o_orderdate) "
                f"FROM '{_src(sf_dir, 'orders')}'")
    con.execute("CREATE VIEW customer AS SELECT * "
                f"FROM '{_src(sf_dir, 'customer')}'")
    return con


def domain(sf_dir: str) -> Domain:
    """Read the key domain the generated statements draw from."""
    con = duck(sf_dir)

    def col(sql):
        return [r[0] for r in con.execute(sql).fetchall()]

    orderkeys = col("SELECT o_orderkey FROM orders ORDER BY 1")
    dom = Domain(
        sf_dir, orderkeys[-1], orderkeys,
        col("SELECT c_custkey FROM customer ORDER BY 1"),
        col("SELECT DISTINCT o_custkey FROM orders ORDER BY 1"))
    con.close()
    return dom


def register_sources(spark, sf_dir: str) -> None:
    """The src_orders temp view the set-up's CTAS statement reads."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(_src(sf_dir, "orders"))
    for c, ty in df.dtypes:
        if ty.startswith("timestamp"):
            df = df.withColumn(c, F.col(c).cast("date"))
    df.createOrReplaceTempView("src_orders")


def run_sql(session, stmt: str):
    df = session.sql(stmt)
    return df.collect() if df is not None else None


def traced_sql(spark, tracer, op_id: int, session, stmt: str, counts,
               read: bool = True):
    """One traced statement: (rows, seconds). Reads also count the
    router's verdict from ``session.last_select_route``."""
    from perfbench import tracing

    rows = df = None
    with tracing.SparkOp(spark, tracer, op_id) as so:
        t = now()
        df = session.sql(stmt)
        if df is not None:
            rows = so.collect(df)
        dt = now() - t
    so.finish(df, counts)
    if read:
        route = session.last_select_route
        counts["sql.selects"] += 1
        counts["sql.routed"] += bool(route.get("route"))
        counts["sql.declined"] += bool(route.get("reason"))
    return rows, dt


def _norm(v):
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    return v


def norm_rows(rows) -> list[tuple]:
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


class Log:
    """Generates the op log from the seed and a model of the live keys."""

    def __init__(self, rng: random.Random, dom: Domain, work):
        self.rng, self.dom, self.work = rng, dom, work
        self.live = set(dom.orderkeys)
        self.next_key = dom.top + 1
        self.max_width = max(1, int(dom.top * RANGE_SHARE))
        self.delete_width = round(BATCH_ROWS * dom.top / len(dom.orderkeys))

    def _row(self, key: int) -> tuple:
        r = self.rng
        day = datetime.date(1992, 1, 1) + datetime.timedelta(r.randrange(2400))
        return (key, r.choice(self.dom.custkeys), r.choice("OFP"),
                round(r.uniform(900, 500000), 2), day.isoformat(),
                r.choice(PRIORITIES))

    def _new_rows(self, n: int) -> list[tuple]:
        keys = range(self.next_key, self.next_key + n)
        self.next_key += n
        self.live.update(keys)
        return [self._row(k) for k in keys]

    @staticmethod
    def _csv(rows) -> str:
        return "".join(",".join(map(str, r)) + "\n" for r in rows)

    def _range(self) -> tuple[int, int]:
        w = self.rng.randint(1, self.max_width)
        a = self.rng.randrange(1, self.next_key - w)
        return a, a + w

    def _write(self, spark_sql: str, duck: list[str], rows=()) -> dict:
        return {"spark": spark_sql, "duck": duck, "rows": len(rows),
                "user_bytes": len(self._csv(rows))}

    def op(self, kind: str) -> dict:
        """{spark: statement, duck: replay statements, read | rows and
        user_bytes}."""
        r = self.rng
        if kind == "load":
            rows = self._new_rows(LOAD_ROWS)
            path = self.work.path("load") + ".csv"
            with open(path, "w") as fh:
                fh.write(self._csv(rows))
            return self._write(
                f"LOAD DATA LOCAL INPATH '{path}' INTO TABLE orders",
                [f"INSERT INTO orders SELECT * FROM read_csv('{path}', "
                 f"header=false, columns={DUCK_CSV_COLS})"], rows)
        if kind == "insert":
            rows = self._new_rows(BATCH_ROWS)
            stmt = "INSERT INTO orders VALUES " + ", ".join(
                f"({k}, {c}, '{s}', {p}, '{d}', '{q}')"
                for k, c, s, p, d, q in rows)
            return self._write(stmt, [stmt], rows)
        if kind == "merge":
            old = r.sample(sorted(self.live), BATCH_ROWS // 2)
            rows = ([self._row(k) for k in old]
                    + self._new_rows(BATCH_ROWS - len(old)))
            vals = ", ".join(f"({k}, {c}, '{s}', {p}, DATE '{d}', '{q}')"
                             for k, c, s, p, d, q in rows)
            keys = ", ".join(str(row[0]) for row in rows)
            return self._write(
                f"MERGE INTO orders t USING (SELECT * FROM VALUES {vals} "
                f"AS v({', '.join(COLS)})) s ON t.o_orderkey = s.o_orderkey "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *",
                # DuckDB 1.0 has no MERGE: the same upsert as delete+insert
                [f"DELETE FROM orders WHERE o_orderkey IN ({keys})",
                 f"INSERT INTO orders VALUES {vals}"], rows)
        if kind == "delete":
            a = r.randrange(1, self.next_key - self.delete_width)
            b = a + self.delete_width
            self.live.difference_update(range(a, b + 1))
            stmt = f"DELETE FROM orders WHERE o_orderkey BETWEEN {a} AND {b}"
            return self._write(stmt, [stmt])
        if kind == "optimize":
            return self._write("OPTIMIZE orders COMPACT", [])
        if kind == "refresh_index":
            return self._write("REFRESH INDEX o_cust ON orders", [])
        if kind == "point_read":
            stmt = ("SELECT * FROM orders WHERE o_orderkey = "
                    f"{r.choice(sorted(self.live))}")
        elif kind == "range_read":
            a, b = self._range()
            stmt = ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
                    f"WHERE o_orderkey BETWEEN {a} AND {b}")
        elif kind == "indexed_read":
            stmt = ("SELECT o_orderkey, o_totalprice, o_orderstatus "
                    "FROM orders WHERE o_custkey = "
                    f"{r.choice(self.dom.order_custkeys)}")
        elif kind == "nonkey_read":
            stmt = ("SELECT o_orderkey, o_totalprice FROM orders WHERE "
                    f"o_orderstatus = '{r.choice('OFP')}' AND "
                    f"o_orderpriority = '{r.choice(PRIORITIES)}'")
        else:
            raise ValueError(kind)
        return {"spark": stmt, "duck": [stmt], "read": True}


def _replay(dom: Domain, done: list[tuple[dict, list | None]],
            end_sums: list) -> tuple[int, str]:
    """Replay the completed log on DuckDB: wrong reads plus a wrong end
    state, and the end state's row count and key sum."""
    con = duck(dom.sf_dir)
    con.execute("CREATE TABLE orders_base AS SELECT * FROM orders")
    con.execute("DROP VIEW orders")
    con.execute("ALTER TABLE orders_base RENAME TO orders")
    wrong = 0
    for spec, rows in done:
        if spec.get("read"):
            want = norm_rows(con.execute(spec["duck"][0]).fetchall())
            if norm_rows(rows) != want:
                wrong += 1
                print(f"# WRONG read: {spec['spark'][:160]}", file=sys.stderr)
            continue
        for stmt in spec["duck"]:
            con.execute(stmt)
    want = norm_rows(con.execute(CHECKSUM).fetchall())
    got = norm_rows(end_sums)
    if got != want:
        wrong += 1
        print(f"# WRONG end state: spark={got} duckdb={want}",
              file=sys.stderr)
    con.close()
    return wrong, f"{got[0][0]}rows/keysum={got[0][1]}"


def run(spark, args, work, session_s: float, tracer=None) -> None:
    from heracles_spark.session import HeraclesSession
    from perfbench import layers

    sf_dir = common.data_dir()
    rng = random.Random(args.seed)
    t = now()
    dom = domain(sf_dir)
    register_sources(spark, sf_dir)
    domain_s = now() - t

    # Set-up, repeated: the identical base table and index in a fresh
    # metastore each time; the last one takes the run's writes.
    builds, sessions = [], []
    for _ in range(SETUP_REPS):
        t = now()
        sessions.append(HeraclesSession(spark,
                                        metastore_dir=work.path("meta")))
        for stmt in BUILD:
            run_sql(sessions[-1], stmt)
        builds.append(now() - t)
    session = sessions[-1]
    # Warm-up on the first build's table, in its own metastore: every
    # write kind, then every read kind. Without it the first timed MERGE
    # ran 1.5x and the first LOAD 1.6x slower than later ones.
    t = now()
    warm = Log(rng, dom, work)
    for kind in (*DATA_WRITES, *MAINTENANCE, *READS):
        run_sql(sessions[0], warm.op(kind)["spark"])
    warm_s = now() - t
    # Set-up as a user pays it once: session, sources, one build (the
    # median of the repeats) and the warm-up.
    setup_s = session_s + domain_s + common.median(builds) + warm_s

    log = Log(rng, dom, work)
    ops: list[Op] = []
    done: list[tuple[dict, list | None]] = []
    counts: Counter = Counter()
    written: Counter = Counter()
    seen = {f["path"] for f in session.catalog.get_table("orders").files}
    pick = common.Alternate(bool(args.trace))
    cycles, cycle_s, start = 0, [], now()
    while True:
        t_cycle = now()
        cycle = []
        order = rng.sample(DATA_WRITES, len(DATA_WRITES)) + [*MAINTENANCE]
        reads = [k for _ in range(len(order) * READS_PER_WRITE // len(READS))
                 for k in rng.sample(READS, len(READS))]
        for i, w in enumerate(order):
            cycle += [w, *reads[i * READS_PER_WRITE:(i + 1) * READS_PER_WRITE]]
        for kind in cycle:
            spec = log.op(kind)
            write, op_id, rows, t = kind not in READS, len(ops), None, now()
            traced = pick(kind)
            try:
                if traced:
                    rows, dt = traced_sql(spark, tracer, op_id, session,
                                          spec["spark"], counts,
                                          read=not write)
                else:
                    df = session.sql(spec["spark"])
                    if df is not None:
                        rows = df.collect()
                    dt = now() - t
            except Exception as e:  # noqa: BLE001
                print(f"# {kind} failed: {type(e).__name__}: {e}"[:300],
                      file=sys.stderr)
                ops.append(Op(kind, now() - t, False, write, traced=traced))
                continue
            ops.append(Op(kind, dt, True, write, spec.get("rows", 0), traced))
            done.append((spec, rows))
            if write:
                new = [f for f in session.catalog.get_table("orders").files
                       if f["path"] not in seen]
                seen.update(f["path"] for f in new)
                written["files"] += len(new)
                written["bytes"] += sum(os.path.getsize(f["path"])
                                        for f in new)
                written["user_bytes"] += spec["user_bytes"]
        cycles += 1
        cycle_s.append(now() - t_cycle)
        # Whole cycles only, so every kind runs; at least MIN_CYCLES, so
        # each write kind has more than one sample; no further cycle
        # once it would be expected to end past --seconds.
        if (cycles >= MIN_CYCLES and now() - start
                + common.median(cycle_s) > args.seconds):
            break
    window_s = now() - start

    t = now()
    wrong, summary = _replay(dom, done, run_sql(session, CHECKSUM))
    check_s = now() - t
    failed = sum(1 for o in ops if not o.ok) + wrong
    tbl = session.catalog.get_table("orders")
    nbytes, nrows = common.files_bytes_rows(tbl.files)
    good = [o for o in ops if o.ok]
    reads = [o for o in good if not o.write]
    writes = [o for o in good if o.write]
    common.note(ops, workload=args.workload, seed=args.seed, ops=len(ops),
                cycles=cycles, reads=len(reads), writes=len(writes),
                session_s=round(session_s, 2),
                domain_s=round(domain_s, 2),
                builds=[round(b, 2) for b in builds],
                warm_s=round(warm_s, 2), window_s=round(window_s, 2),
                cycle_s=[round(c, 2) for c in cycle_s],
                check_s=round(check_s, 2), end_state=summary, wrong=wrong,
                live_files=len(tbl.files), **common.facts())
    if not args.trace:
        metrics = common.end_to_end(good, window_s, setup_s,
                                    nbytes / max(1, nrows))
    else:
        extra = {
            "catalog.live_files": (len(tbl.files), "count"),
            "writer.files_written": (written["files"], "count"),
            "writer.bytes_written": (written["bytes"], "B"),
            "writer.write_amp": (written["bytes"]
                                 / max(1, written["user_bytes"]), "ratio"),
            "ingest.write_p50_s": (common.median(
                [o.seconds for o in writes]), "s"),
            "ingest.rows_per_s": (sum(o.rows for o in writes)
                                  / sum(o.seconds for o in writes), "1/s"),
        }
        metrics = layers.traced_metrics(spark, tracer, ops, counts, sf_dir,
                                        extra, work.trace_path(args))
    common.emit(failed == 0, len(ops), failed, metrics)

"""heracles_spark benchmark: one seeded, closed-loop, single-client workload
per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (perfbench/README.md). The last line of
stdout is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORKLOADS = ("analytic_headline", "keyed_ingest_mixed")


def main() -> None:
    from perfbench import common

    args = common.parse_args(list(WORKLOADS))
    t0 = time.perf_counter()
    # The engine and its harness pieces must be present: a directory
    # holding only the benchmark fails here, before any result.
    import heracles_spark.session  # noqa: F401

    from perfbench import headline, ingest, tracing

    work = common.Work()
    spark = None
    try:
        spark = common.start_session(work)
        session_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            tracer = tracing.Tracer()
            tracer.install()
        mod = {"analytic_headline": headline,
               "keyed_ingest_mixed": ingest}[args.workload]
        mod.run(spark, args, work, session_s, tracer)
    finally:
        if spark is not None:
            common.stop_session(spark)
        work.cleanup()


if __name__ == "__main__":
    main()

"""Benchmark server process: the engine's HTTP server fronting one
workload's datasets, composed from the same public calls that
``python -m arrow_experiments_spark serve`` makes.

    python3 perfbench/server.py --workload NAME --data DIR [--trace-out PATH]

Prints ``READY {"port": ...}`` once it accepts requests, then serves
until its standard input closes, and prints ``DONE`` as its last line.
With ``--trace-out``, the lines ``trace on`` and ``trace off`` on standard
input put the span wrappers in place or take them out (see
layers.Tracing), each acknowledged by printing it back; at the end the
spans and Spark's status-store rows are written to ``--trace-out``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

BATCH_ROWS = 4096  # the serve CLI's default --batch-rows


def register_queries(registry, hooks, sf_dir: str) -> None:
    """Register the egress queries; ``hooks()`` gives the layer calls in
    use when a request arrives."""
    from arrow_experiments_spark.registry import all_queries
    from arrow_experiments_spark.sources.arrow_ipc import spilled_files_reader
    from mixes import EGRESS_QUERIES

    queries = all_queries()

    # df_to_reader's spill mode, one call per layer
    def factory(q):
        def reader():
            h = hooks()
            tmp, files, schema = h.spill(h.build(q, sf_dir))
            return h.read(spilled_files_reader(files, schema, BATCH_ROWS, cleanup_dir=tmp))

        return reader

    for name in EGRESS_QUERIES:
        q = queries[name]
        registry.register(f"query.{name}", factory(q), meta={"category": q.category})


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=("query_egress", "ingest_churn"))
    ap.add_argument("--data", required=True)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args(argv)

    from arrow_experiments_spark.session import build_session
    from arrow_experiments_spark.transport.server import DatasetRegistry, serve
    from layers import Tracing

    registry = DatasetRegistry()
    spark = None
    # ingest never touches Spark, so its server starts no session
    if args.workload == "query_egress":
        spark = build_session(app_name=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
    tracing = Tracing(spark)
    if spark is not None:
        register_queries(registry, lambda: tracing.hooks, args.data)
    httpd = serve(registry)
    print("READY " + json.dumps({"port": httpd.server_address[1]}), flush=True)

    for line in sys.stdin:
        cmd = line.strip()
        if args.trace_out and cmd in ("trace on", "trace off"):
            tracing.switch(cmd == "trace on")
            print(cmd, flush=True)  # acknowledged: the switch is in place
    httpd.shutdown()
    httpd.server_close()
    if args.trace_out:
        from layers import spark_rows

        with open(args.trace_out, "w") as f:
            json.dump({**tracing.rec.dump(), "spark": spark_rows(spark) if spark else []}, f)
    if spark is not None:
        spark.stop()
    print("DONE", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Serving process for the benchmark: one ShaperServer over the benchmark tables.

Run by ``run.py`` as its own process, so the load generator's threads never
share this interpreter's GIL. It builds the documented serving profile
(``interactive_session(get_spark(...))`` plus ``register_sf_tables``),
starts the HTTP server, prints ``{"port": N}`` on stdout once it listens,
and serves until its stdin closes. With ``--trace FILE`` it first installs
the span recorders of ``spans.py`` and writes the spans to FILE on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

# A payload shaped like the ingest workload's rows: creating the live table
# from it gives exactly the schema the first real batch would create.
LIVE_SAMPLE = {"kind": "a", "amount": 1.0, "seq": 0.0}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--live-table", default="")
    ap.add_argument("--trace", default="")
    args = ap.parse_args()

    from shaper_spark.api import ShaperServer
    from shaper_spark.session import get_spark, interactive_session, register_sf_tables

    recorder = None
    if args.trace:
        import spans

        recorder = spans.Recorder()
        recorder.install()

    t0 = time.monotonic()
    spark = get_spark("perfbench", cpus=args.cpus)
    t1 = time.monotonic()
    serving = interactive_session(spark)
    register_sf_tables(serving, args.sf_dir)
    t2 = time.monotonic()
    srv = ShaperServer(serving)
    if recorder is not None:
        recorder.install_handler(srv)
    if args.live_table:
        srv.ingest.ensure_table_schema(args.live_table, [LIVE_SAMPLE])
    srv.start()
    sys.stderr.write(
        f"perfbench setup: get_spark {t1 - t0:.2f}s, tables {t2 - t1:.2f}s, "
        f"server {time.monotonic() - t2:.2f}s\n"
    )
    print(
        json.dumps(
            {
                "port": srv.port,
                "defaultParallelism": spark.sparkContext.defaultParallelism,
                "spark": spark.version,
            }
        ),
        flush=True,
    )
    try:
        sys.stdin.read()
    finally:
        srv.stop()
        if recorder is not None:
            recorder.dump(args.trace)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

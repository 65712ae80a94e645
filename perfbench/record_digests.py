#!/usr/bin/env python3
"""Record the expected results the benchmark checks against.

    python3 perfbench/record_digests.py

Runs each request of every shape's parameter domain (inputs.SHAPES)
through `MetricsRequestPlanner.response` on the events fixture and
writes the response digests to perfbench/digests.json.  It first checks
the 8 catalog requests against their DuckDB oracles and writes nothing
if one fails.  Then it runs the DuckDB oracles of the graph pass's
entries (graphs.ENTRIES) over their fixture tables and writes their
result digests to perfbench/oracle_digests.json.  Re-record only when a
change to the engine or the catalog is meant to change results.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    work = os.path.join(run.HERE, ".work", f"record-{os.getpid()}")
    run._environment(work)
    sys.path[:0] = [run.ROOT, run.HERE]
    from metrics_service_spark.session import get_spark

    import graphs
    import inputs
    from api_mix import DIGESTS, ApiMix, response_digest
    from spans import Tracer

    spark = get_spark("perfbench-record")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = ApiMix(spark, Tracer(spark), work, 0)
        wl.generate()
        wl.prepare()
        failed = [name for name, ok in wl.checks() if not ok]
        if failed:
            print(f"oracle mismatch: {failed}; nothing recorded", file=sys.stderr)
            return 1
        digests = {
            inputs.request_key(r): response_digest(wl.planner.response(r))
            for shape in inputs.SHAPES.values()
            for r in shape
        }
    finally:
        run._stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(DIGESTS, "w") as fh:
        json.dump(digests, fh, indent=0, sort_keys=True)
        fh.write("\n")
    print(f"{len(digests)} digests written to {DIGESTS}", file=sys.stderr)
    oracles = graphs.oracle_digests(inputs.GRAPH_DIR)
    with open(graphs.ORACLE_DIGESTS, "w") as fh:
        json.dump(oracles, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{len(oracles)} oracle digests written to {graphs.ORACLE_DIGESTS}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python
"""Construct/execute decomposition of the HEADLINE suite (guide §1).

For every HEADLINE query, in one warm tuned session, measures
  construct = wall of fn(spark, SF_DIR)   (driver-side plan building;
              for eager=True queries this includes their Spark jobs)
  execute   = wall of the noop-sink write (the distributed compute)
  compiles  = generated classes Janino compiled over both, the delta of
              CodegenMetrics' exact compile count (a cache hit compiles
              nothing; in local mode the count covers the executors too)
and, when PY4J_COUNT=1, the number of py4j commands issued during
construction (the round-trip chatter the construction fixes target).

Prints one line per run sorted by construct desc, then totals. Runs
are under the exact bench.py conditions (tuned engine session,
python-worker warmup, full noop-sink materialization), so this is also
the per-query timing harness behind the BASELINE.md anchors. This is
the round-16/17 optimization instrument: the driver runs each query
ONCE in one long session, so construction seconds are bench seconds at
1:1.

Usage:
    python tools/decompose.py [q_name ...]     # default: all HEADLINE
    WARM=3 python tools/decompose.py q_tree5 q_logrank   # cold + 3 warm

Env:
    SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
    PY4J_COUNT=1         also count py4j commands per construction
    WARM                 warm re-runs per query after the first (default
                         0); each run prints its own line

Methodology notes (the BASELINE.md rules in practice):
- always run a CONTROL query with a known anchor in the same session
  (e.g. q_tree5, q_logrank) — this box swings 1.0-1.5x with state, and
  the control ratio is how a reading is deflated to anchor truth;
- the driver pays roughly the cold-in-warm-session price (it runs each
  query once in one long session), so quote driver-equivalents between
  the cold and warm readings;
- repeated same-session runs of checkpoint-heavy queries accumulate
  block-manager state — if warm times RISE run-over-run, restart the
  session before believing them.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM = int(os.environ.get("WARM", "0"))


def main() -> None:
    from bench import HEADLINE, warmup
    from fraud_detection_spark.registry import load_all
    from fraud_detection_spark.session import get_spark

    names = sys.argv[1:] or HEADLINE
    registry = load_all()
    spark = get_spark("fds-decompose")
    warmup(spark)

    count_py4j = os.environ.get("PY4J_COUNT") == "1"
    counter = {"n": 0}
    if count_py4j:
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def counted(*a, **kw):
            counter["n"] += 1
            return orig(*a, **kw)

        client.send_command = counted
    compile_time = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    rows = []
    for name in names:
        q = registry[name]
        for run in range(1 + WARM):
            c0 = compile_time.getCount()
            counter["n"] = 0
            t0 = time.perf_counter()
            df = q.fn(spark, SF_DIR)
            t1 = time.perf_counter()
            py4j = counter["n"]
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            compiles = compile_time.getCount() - c0
            rows.append(
                {
                    "name": name if run == 0 else f"{name} warm{run}",
                    "construct": round(t1 - t0, 3),
                    "execute": round(t2 - t1, 3),
                    "compiles": compiles,
                    "eager": q.eager,
                    "py4j": py4j if count_py4j else None,
                }
            )

    rows.sort(key=lambda r: -r["construct"])
    for r in rows:
        py = f" py4j={r['py4j']}" if r["py4j"] is not None else ""
        eager = " EAGER" if r["eager"] else ""
        print(
            f"{r['name']}: construct {r['construct']:7.3f}  "
            f"execute {r['execute']:7.3f}  "
            f"compiles {r['compiles']:4d}{py}{eager}"
        )
    tc = sum(r["construct"] for r in rows)
    te = sum(r["execute"] for r in rows)
    print(
        json.dumps(
            {
                "n_queries": len(names),
                "construct_total": round(tc, 1),
                "execute_total": round(te, 1),
                "total": round(tc + te, 1),
                "compiles_total": sum(r["compiles"] for r in rows),
            }
        )
    )


if __name__ == "__main__":
    main()

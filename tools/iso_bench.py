#!/usr/bin/env python
"""Isolated per-query benchmark — the BASELINE.md measurement harness.

Runs named declared queries cold + N warm under the EXACT bench.py
conditions (tuned engine session, python-worker warmup, full noop-sink
materialization), printing one line per query:

    q_name: cold 12.93 warm [3.27, 3.05, 3.13]

Usage:
    python tools/iso_bench.py q_name [q_name ...]

Env:
    SPARK_GRAFT_SF_DIR   parquet dir (default /root/testdata/sf0.1)
    WARM                 warm-run count (default 3)

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

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WARM = int(os.environ.get("WARM", "3"))


def main() -> None:
    from bench import warmup
    from fraud_detection_spark.registry import load_all
    from fraud_detection_spark.session import get_spark

    registry = load_all()
    spark = get_spark("fds-iso-bench")
    warmup(spark)

    for name in sys.argv[1:]:
        q = registry[name]
        runs = []
        for _ in range(1 + WARM):
            t0 = time.perf_counter()
            q.fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
        print(f"{name}: cold {runs[0]} warm {runs[1:]}", flush=True)


if __name__ == "__main__":
    main()

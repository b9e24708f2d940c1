"""Seeded request files for the ``serve-stream`` workload.

Requests are built from the events table the suites read: one event is
one request, with the same feature mapping as the serving scale test
(``f_value`` = value, ``f_k`` = user_id mod 100, ``f_hour`` = hour of
day). Batch 0 holds only new transaction ids. In every later batch,
``replay_share`` of the records repeat a request of an earlier batch,
byte for byte, as an at-least-once queue redelivers it; they take the
upsert's overwrite branch. One file is one micro-batch; modification
times increase with the file number, so the file source reads them in
order.
"""

from __future__ import annotations

import json
import os
import random

import pyarrow.compute as pc
import pyarrow.parquet as pq


def write_requests(
    events_path: str,
    out_dir: str,
    seed: int,
    batches: int,
    batch_rows: int,
    replay_share: float,
) -> dict:
    """Writes ``batches`` JSON-lines files of ``batch_rows`` records and
    returns the counts the benchmark reports and checks against."""
    t = pq.read_table(events_path, columns=["event_id", "user_id", "value", "ts"])
    ts_sec = pc.divide(pc.cast(pc.cast(t["ts"], "timestamp[us]"), "int64"), 1_000_000)
    rows = list(
        zip(
            t["event_id"].to_pylist(),
            t["user_id"].to_pylist(),
            t["value"].to_pylist(),
            ts_sec.to_pylist(),
        )
    )
    rng = random.Random(seed)
    replays = round(batch_rows * replay_share)
    fresh_needed = batch_rows + (batches - 1) * (batch_rows - replays)
    if fresh_needed > len(rows):
        raise ValueError(f"{fresh_needed} requests asked of {len(rows)} events")
    fresh = iter(rng.sample(rows, fresh_needed))

    os.makedirs(out_dir)
    sent: list[str] = []
    n_replayed = 0
    for b in range(batches):
        lines = [sent[i] for i in rng.sample(range(len(sent)), replays)] if b else []
        n_replayed += len(lines)
        for _ in range(batch_rows - len(lines)):
            event_id, user_id, value, sec = next(fresh)
            line = json.dumps(
                {
                    "transaction_id": str(event_id),
                    "correlation_id": f"corr-{event_id}",
                    "f_value": float(value),
                    "f_k": float(user_id % 100),
                    "f_hour": (sec % 86400) / 3600,
                }
            )
            lines.append(line)
            sent.append(line)
        rng.shuffle(lines)
        path = os.path.join(out_dir, f"req-{b:05d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    return {
        "records": batches * batch_rows,
        "distinct": len(sent),
        "replayed": n_replayed,
    }

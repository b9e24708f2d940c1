"""Tracing used only by the traced run (``--trace 1``).

- :class:`Py4jCounter` counts py4j commands sent by the Python driver
  while it is switched on, by wrapping the gateway client's
  ``send_command``, as ``tools/decompose.py`` does.
- :func:`fold_event_log` reads Spark's uncompressed JSON event log and sums
  job, stage and task counters per job group. The benchmark sets the group
  around each call it makes into the engine, so a group names one query
  phase (``q_tree5|construct``) or one serving micro-batch (``serve|3``).
"""

from __future__ import annotations

import json
from collections import Counter, defaultdict

from py4j.protocol import MEMORY_COMMAND_NAME

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


class Py4jCounter:
    """Counts commands while ``on`` is true.

    Object-release commands are not counted: py4j's finalizer thread sends
    them whenever Python's garbage collector runs, so their number differs
    between runs of the same code."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self.on = False
        self.n = 0

        def counted(command, *args, **kwargs):
            if self.on and not command.startswith(MEMORY_COMMAND_NAME):
                self.n += 1
            return self._orig(command, *args, **kwargs)

        self._client.send_command = counted


def fold_event_log(path: str) -> dict[str, Counter]:
    """Per job group: jobs, executed stages, single-task stages, tasks and
    the summed task metrics. Jobs without a group land under ``""``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, Counter] = defaultdict(Counter)
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                groups[group]["jobs"] += 1
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                c = groups[stage_group.get(info["Stage ID"], "")]
                c["stages"] += 1
                c["single_task_stages"] += info["Number of Tasks"] == 1
            elif kind == "SparkListenerTaskEnd":
                c = groups[stage_group.get(e["Stage ID"], "")]
                m = e.get("Task Metrics") or {}
                shuffle_read = m.get("Shuffle Read Metrics", {})
                c["tasks"] += 1
                c["task_run_ms"] += m.get("Executor Run Time", 0)
                c["task_cpu_ns"] += m.get("Executor CPU Time", 0)
                c["gc_ms"] += m.get("JVM GC Time", 0)
                c["deser_ms"] += m.get("Executor Deserialize Time", 0)
                c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                c["shuffle_read_bytes"] += shuffle_read.get(
                    "Remote Bytes Read", 0
                ) + shuffle_read.get("Local Bytes Read", 0)
                c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                for acc in e["Task Info"].get("Accumulables", []):
                    if acc["Name"] == PY_SENT:
                        c["py_sent_bytes"] += int(acc["Update"])
                    elif acc["Name"] == PY_RECEIVED:
                        c["py_received_bytes"] += int(acc["Update"])
    return groups


def spark_layer(total: Counter, wall_s: float, cores: int) -> dict[str, float]:
    """The ``spark.*`` and ``pyworker.*`` metrics of summed group counters."""
    mb = 2**20
    return {
        "spark.jobs": total["jobs"],
        "spark.stages": total["stages"],
        "spark.tasks": total["tasks"],
        "spark.task_run_s": total["task_run_ms"] / 1e3,
        "spark.task_cpu_s": total["task_cpu_ns"] / 1e9,
        "spark.gc_s": total["gc_ms"] / 1e3,
        "spark.deser_s": total["deser_ms"] / 1e3,
        "spark.input_mb": total["input_bytes"] / mb,
        "spark.shuffle_read_mb": total["shuffle_read_bytes"] / mb,
        "spark.shuffle_write_mb": total["shuffle_write_bytes"] / mb,
        "spark.spill_mb": total["spill_bytes"] / mb,
        "spark.occupancy": total["task_run_ms"] / 1e3 / (wall_s * cores),
        "spark.single_task_stage_frac": (
            total["single_task_stages"] / total["stages"] if total["stages"] else 0.0
        ),
        "pyworker.bytes_sent": total["py_sent_bytes"],
        "pyworker.bytes_received": total["py_received_bytes"],
    }

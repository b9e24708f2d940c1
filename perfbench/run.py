#!/usr/bin/env python3
"""The repository benchmark.

One process drives the engine through its public functions only: the
declared-query registry (``load_all``, ``Query.fn``, then a noop-sink write,
as ``bench.py`` does) and the serving stream (``run_serving_stream``,
``upsert_batch``, ``read_results``). Workloads, metrics and fixed settings
are described in ``perfbench/README.md``.

    python3 perfbench/run.py --workload suite-eager --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

The first form prints a table and, as its last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics untraced (``--trace 0``) or the per-layer metrics traced
(``--trace 1``). The second runs every workload untraced and traced, prints
both tables and the tracing overhead, and exits 1 if any output check
failed.

A run sets up the engine ``SETUPS`` times, then measures whole passes of
its workload's fixed work until ``--seconds`` have elapsed (at least one
pass), then checks outputs. All files it writes stay under
``.bench_work/`` and ``.bench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter
from contextlib import contextmanager, nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from proctree import TreeSampler, tree_cpu_s, tree_pids  # noqa: E402

WORKLOADS = ("suite-eager", "serve-stream")
CORES = len(os.sched_getaffinity(0))
DRIVER_MEM = "4g"
SETUPS = 3
# suite-eager: every EAGER_STRIDE-th eager query of bench.HEADLINE on the
# SUITE_SF tables next to bench.py's. SUITE_WARMUPS untimed passes warm the
# JVM (a second pass still ran ~10% slower than a third), then at least
# SUITE_PASSES timed passes; each query's latency is its median over them
EAGER_STRIDE = 6
SUITE_SF = "sf0.01"
SUITE_WARMUPS = 2
SUITE_PASSES = 2
# serve-stream: closed loop, one request file per micro-batch
SERVE_BATCHES = 7
SERVE_BATCH_ROWS = 1000
SERVE_REPLAY_SHARE = 0.1
SERVE_PASSES = 1


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- environment and session ------------------------------------------------


def configure(work: Path, trace: bool) -> None:
    """Fixed settings, and every scratch path inside ``work``. Must run
    before pyspark launches the JVM."""
    tmp, local = work / "tmp", work / "local"
    tmp.mkdir(parents=True)
    local.mkdir()
    conf = {
        "spark.local.dir": str(local),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file:{work / 'eventlog'}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    args = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()]
    os.environ |= {
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        # the launcher JVM that spark-submit starts first
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(args + ["pyspark-shell"]),
    }


def forget_program() -> None:
    """Drop the engine's modules so the next set-up imports them afresh."""
    for name in list(sys.modules):
        if name.split(".")[0] == "fraud_detection_spark":
            del sys.modules[name]


def setup_once() -> tuple:
    """``load_all`` + ``get_spark`` + the ``bench.py`` warmup, timed."""
    t0 = time.perf_counter()
    from fraud_detection_spark.registry import load_all
    from fraud_detection_spark.session import get_spark

    registry = load_all()
    t1 = time.perf_counter()
    spark = get_spark("fds-perfbench")
    t2 = time.perf_counter()
    spark.range(1000).summary().collect()
    spark.range(64).repartition(32).mapInPandas(
        lambda batches: batches, schema="id bigint"
    ).write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    return spark, registry, {
        "setup_s": t3 - t0,
        "registry.load_all_s": t1 - t0,
        "session.get_spark_s": t2 - t1,
        "session.warmup_s": t3 - t2,
    }


def setup(n: int) -> tuple:
    """Sets up ``n`` times, stopping the session in between; the first set-up
    also launches the JVM. Returns the last session and each timing's median."""
    spark, samples = None, []
    for _ in range(n):
        if spark is not None:
            spark.stop()
            forget_program()
        spark, registry, timing = setup_once()
        samples.append(timing)
    medians = {k: statistics.median(s[k] for s in samples) for k in samples[0]}
    return spark, registry, medians


def shutdown(spark) -> None:
    """Stops the session and the JVM, then waits until every process this
    run started has ended, killing stragglers after 60 s."""
    from pyspark import SparkContext

    started = set(tree_pids()) - {os.getpid()}
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 60
    while True:
        alive = {p for p in started if os.path.exists(f"/proc/{p}")}
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = math.inf
        time.sleep(0.1)


# -- tracing ----------------------------------------------------------------


class Tracer:
    """Job groups and the py4j counter around each call into the engine.
    The untraced run uses :class:`NoTracer`, which does nothing."""

    def __init__(self, spark) -> None:
        from tracefold import Py4jCounter

        self.sc = spark.sparkContext
        self.py4j = Py4jCounter(spark)
        self.app_id = self.sc.applicationId
        self.py4j_by_query: Counter = Counter()

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    @contextmanager
    def construct(self, query: str):
        self.group(f"{query}|construct")
        start, self.py4j.on = self.py4j.n, True
        try:
            yield
        finally:
            self.py4j.on = False
            self.py4j_by_query[query] += self.py4j.n - start


class NoTracer:
    def group(self, name: str) -> None:
        pass

    def construct(self, query: str):
        return nullcontext()


# -- workloads --------------------------------------------------------------


def measure_passes(
    seconds: float, one_pass, warmups: int, min_passes: int
) -> tuple[list, TreeSampler]:
    """Runs ``one_pass(i)`` untimed for ``i`` = -``warmups`` .. -1, then for
    ``i`` = 0, 1, .. at least ``min_passes`` times and until ``seconds``
    have elapsed. Each timed pass returns a dict, extended here with its
    wall and CPU."""
    for i in range(-warmups, 0):
        one_pass(i)
    sampler = TreeSampler()
    sampler.start()
    passes, t_start = [], time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - t_start < seconds:
        cpu0, t0 = tree_cpu_s(), time.perf_counter()
        result = one_pass(len(passes))
        result["wall_s"] = time.perf_counter() - t0
        result["cpu_s"] = tree_cpu_s() - cpu0
        passes.append(result)
    sampler.stop()
    return passes, sampler


def eager_set(registry, headline) -> list[str]:
    return [n for n in headline if registry[n].eager][::EAGER_STRIDE]


def run_suite(ctx) -> dict:
    from checks import Oracle

    spark, registry, tracer = ctx["spark"], ctx["registry"], ctx["tracer"]
    rng = random.Random(ctx["seed"])
    names = eager_set(registry, ctx["headline"])
    to_check = set(rng.sample(names, math.ceil(len(names) / 3)))

    def one_pass(i: int) -> dict:
        order = rng.sample(names, len(names))
        times, kept, failed = {}, {}, []
        tr = tracer if i >= 0 else NoTracer()
        for name in order:
            q = registry[name]
            try:
                t0 = time.perf_counter()
                with tr.construct(name):
                    df = q.fn(spark, ctx["sf_dir"])
                t1 = time.perf_counter()
                tr.group(f"{name}|execute")
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception:  # one failed query must not stop the pass
                log(f"{name} failed:\n{traceback.format_exc()}")
                failed.append(name)
                continue
            times[name] = (t1 - t0, t2 - t1)
            if i == 0 and name in to_check:
                kept[name] = df
        return {"times": times, "kept": kept, "failed": failed}

    passes, sampler = measure_passes(
        ctx["seconds"], one_pass, SUITE_WARMUPS, SUITE_PASSES
    )
    tracer.group("check")
    from fraud_detection_spark.sources import TABLES

    oracle = Oracle(ctx["sf_dir"], TABLES, str(ctx["work"] / "tmp"))
    wrong = []
    try:
        for name, df in sorted(passes[0]["kept"].items()):
            try:
                problem = oracle.check(registry[name], df)
            except Exception:  # a check that cannot run counts as failed
                problem = traceback.format_exc()
            log(f"check {name}: {problem or 'ok'}")
            if problem:
                wrong.append(name)
    finally:
        oracle.close()

    per_query = [
        statistics.median(sum(p["times"][n]) for p in passes if n in p["times"])
        for n in names
        if any(n in p["times"] for p in passes)
    ]
    n_failed = sum(len(p["failed"]) for p in passes) + len(wrong)
    return {
        "passes": passes,
        "sampler": sampler,
        "attempted": len(names) * len(passes),
        "failed": n_failed,
        "latencies_s": per_query,
        "samples": {"query": len(per_query), "check": len(passes[0]["kept"])},
    }


def run_serve(ctx) -> dict:
    from checks import serve_mismatches

    spark, work, tracer = ctx["spark"], ctx["work"], ctx["tracer"]
    from fraud_detection_spark.streaming import serving

    req_dir = str(work / "requests")
    sent = ctx["requests"]
    if ctx["trace"]:
        upserts = trace_upserts(serving, tracer)

    def one_pass(i: int) -> dict:
        results_dir = str(work / f"results-{i}")
        stats = serving.run_serving_stream(
            spark,
            req_dir,
            results_dir,
            checkpoint_dir=str(work / f"checkpoint-{i}"),
            max_files_per_trigger=1,
        )
        return {"stats": stats, "results_dir": results_dir}

    passes, sampler = measure_passes(ctx["seconds"], one_pass, 0, SERVE_PASSES)
    tracer.group("check")
    requests = spark.read.schema(serving.REQUEST_SCHEMA).json(req_dir)
    expected = (
        serving.score_requests(requests).dropDuplicates(["transaction_id"]).toPandas()
    )
    n_failed = 0
    for p in passes:
        got = serving.read_results(spark, p["results_dir"])
        bad = serve_mismatches(None if got is None else got.toPandas(), expected)
        rows = p["stats"]["rows"]
        if rows != sent["records"]:
            log(f"stream read {rows} of {sent['records']} request records")
            bad = max(bad, 1)
        log(f"check serving table: {bad} of {len(expected)} transactions wrong")
        n_failed += bad
    batch_s = [b["ms"] / 1e3 for p in passes for b in p["stats"]["batches"]]
    out = {
        "passes": passes,
        "sampler": sampler,
        "attempted": sent["distinct"] * len(passes),
        "failed": n_failed,
        "latencies_s": batch_s,
        "samples": {"query": len(batch_s), "check": len(passes)},
    }
    if ctx["trace"]:
        out["upserts"] = upserts
    return out


def trace_upserts(serving, tracer) -> list[dict]:
    """Wraps ``serving.upsert_batch`` with a timer and a job group; after
    each call, reads what the batch committed from the bucket directories."""
    import pyarrow.parquet as pq

    orig, records = serving.upsert_batch, []

    def timed(batch_df, batch_id, results_dir, *args, **kwargs):
        tracer.group(f"serve|{batch_id}")
        t0 = time.perf_counter()
        orig(batch_df, batch_id, results_dir, *args, **kwargs)
        ms = (time.perf_counter() - t0) * 1e3
        buckets = rows = size = 0
        for path in serving.current_result_paths(results_dir):
            if os.path.basename(path) != f"v{batch_id}":
                continue
            buckets += 1
            for f in Path(path).glob("*.parquet"):
                rows += pq.ParquetFile(f).metadata.num_rows
                size += f.stat().st_size
        records.append({"ms": ms, "buckets": buckets, "rows": rows, "bytes": size})

    serving.upsert_batch = timed
    return records


# -- metrics ----------------------------------------------------------------


def end_to_end(res: dict, setup_s: float) -> dict[str, float]:
    passes, latencies = res["passes"], res["latencies_s"]
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        "query_p50_s": statistics.median(latencies),
        "query_geomean_s": math.exp(statistics.fmean(math.log(s) for s in latencies)),
        "cpu_s": statistics.median(p["cpu_s"] for p in passes),
    }


def per_layer(ctx, res: dict, setup_timing: dict, module_of: dict) -> dict:
    """Every per-layer metric; a layer the workload does not use reads 0."""
    from tracefold import fold_event_log, spark_layer

    tracer, passes = ctx["tracer"], res["passes"]
    n = len(passes)
    wall = sum(p["wall_s"] for p in passes)
    groups = fold_event_log(str(ctx["event_log"]))
    for q, cmds in tracer.py4j_by_query.items():
        groups[f"{q}|construct"]["py4j_cmds"] = cmds
    (ctx["out"] / f"groups-{ctx['workload']}-{ctx['seed']}.json").write_text(
        json.dumps(groups, indent=1, sort_keys=True)
    )
    timed = Counter()
    for g, c in groups.items():
        if g.endswith(("|construct", "|execute")) or g.startswith("serve|"):
            timed += c
    m = {k: setup_timing[k] for k in sorted(setup_timing) if k != "setup_s"}

    # job groups already sum over passes; construction seconds do not
    construct = Counter()
    for p in passes:
        for q, (c_s, _) in p.get("times", {}).items():
            construct[q] += c_s
    module_jobs, module_construct, ladder = Counter(), Counter(), Counter()
    for q, c_s in construct.items():
        built = groups.get(f"{q}|construct", Counter())
        ran = groups.get(f"{q}|execute", Counter())
        module_construct[module_of[q]] += c_s
        module_jobs[module_of[q]] += built["jobs"] + ran["jobs"]
        if ctx["registry"][q].eager:
            ladder += Counter(jobs=built["jobs"], tasks=built["tasks"], runs=n)
            ladder["construct_s"] += c_s
    m["operators.construct_s"] = sum(construct.values()) / n
    m["operators.py4j_cmds"] = sum(tracer.py4j_by_query.values()) / n
    for mod in sorted(set(module_of.values())):
        m[f"operators.{mod}.construct_s"] = module_construct[mod] / n
        m[f"operators.{mod}.jobs"] = module_jobs[mod] / n
    jobs = ladder["jobs"]
    m["ladder.jobs"] = jobs / n
    m["ladder.jobs_per_query"] = jobs / ladder["runs"] if ladder["runs"] else 0.0
    m["ladder.s_per_job"] = ladder["construct_s"] / jobs if jobs else 0.0
    m["ladder.tasks_per_job"] = ladder["tasks"] / jobs if jobs else 0.0

    for k, v in spark_layer(timed, wall, CORES).items():
        m[k] = v if k in RATIOS else v / n

    ups = res.get("upserts", [])
    batches = [b for p in passes for b in p.get("stats", {}).get("batches", [])]
    serve_jobs = sum(c["jobs"] for g, c in groups.items() if g.startswith("serve|"))
    rows_in = sum(b["rows"] for b in batches)
    m["serving.upsert_ms_p50"] = statistics.median(u["ms"] for u in ups) if ups else 0.0
    m["serving.batch_overhead_ms_p50"] = (
        statistics.median(b["ms"] - u["ms"] for b, u in zip(batches, ups))
        if ups
        else 0.0
    )
    m["serving.jobs_per_batch"] = serve_jobs / len(ups) if ups else 0.0
    m["serving.buckets_touched_per_batch"] = (
        statistics.fmean(u["buckets"] for u in ups) if ups else 0.0
    )
    m["serving.write_amp"] = sum(u["rows"] for u in ups) / rows_in if rows_in else 0.0
    m["serving.bytes_written_mb"] = sum(u["bytes"] for u in ups) / 2**20 / n
    m["trace.wall_s"] = statistics.median(p["wall_s"] for p in passes)
    m["trace.cpu_s"] = statistics.median(p["cpu_s"] for p in passes)
    m["proctree.peak_rss_mb"] = res["sampler"].peak_rss_mb
    return m


RATIOS = ("spark.occupancy", "spark.single_task_stage_frac", "serving.write_amp")


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s_per_job")):
        return "s"
    if "_ms" in name:
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.startswith("pyworker."):
        return "bytes"
    return "ratio" if name in RATIOS else "count"


# -- entry points -----------------------------------------------------------


def program_missing() -> str | None:
    for rel in ("bench.py", "fraud_detection_spark/registry.py",
                "fraud_detection_spark/streaming/serving.py"):
        if not (ROOT / rel).is_file():
            return f"{rel} not found next to perfbench/"
    return None


def run_one(args) -> int:
    problem = program_missing()
    if problem:
        log(problem)
        return 2
    sys.path.insert(0, str(ROOT))
    import bench

    events = Path(bench.SF_DIR, "events.parquet")
    sf_dir = str(Path(bench.SF_DIR).parent / SUITE_SF)
    for path in (events, Path(sf_dir, "events.parquet")):
        if not path.is_file():
            log(f"no test data at {path}")
            return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    out = ROOT / ".bench_out"
    out.mkdir(exist_ok=True)
    configure(work, bool(args.trace))
    ctx = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "work": work, "out": out, "sf_dir": sf_dir,
        "headline": bench.HEADLINE,
    }
    spark = None
    try:
        if args.workload == "serve-stream":
            from reqgen import write_requests

            ctx["requests"] = write_requests(
                str(events), str(work / "requests"), args.seed,
                SERVE_BATCHES, SERVE_BATCH_ROWS, SERVE_REPLAY_SHARE,
            )
        spark, registry, setup_timing = setup(SETUPS)
        ctx |= {"spark": spark, "registry": registry}
        ctx["tracer"] = Tracer(spark) if args.trace else NoTracer()
        run = run_serve if args.workload == "serve-stream" else run_suite
        res = run(ctx)
        if args.trace:
            app_id = ctx["tracer"].app_id
            shutdown(spark)  # closes the event log
            spark = None
            ctx["event_log"] = work / "eventlog" / app_id
            module_of = {
                n: registry[n].fn.__module__.rsplit(".", 1)[-1]
                for n in eager_set(registry, bench.HEADLINE)
            }
            metrics = per_layer(ctx, res, setup_timing, module_of)
        else:
            metrics = end_to_end(res, setup_timing["setup_s"])
    finally:
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    samples = res["samples"]
    print(f"workload {args.workload}  seed {args.seed}  suite data {sf_dir}  "
          f"requests from {events}  "
          f"cores {CORES}  driver_mem {DRIVER_MEM}  passes {len(res['passes'])}  "
          f"setups {SETUPS}  query samples {samples['query']}  "
          f"checked {samples['check']}")
    for i, p in enumerate(res["passes"]):
        for name, (c_s, e_s) in p.get("times", {}).items():
            print(f"  pass {i} {name:33s} construct {c_s:8.3f} s  execute {e_s:8.3f} s")
        if "stats" in p:
            ms = " ".join(str(b["ms"]) for b in p["stats"]["batches"])
            print(f"  pass {i} micro-batch ms: {ms}")
    for k, v in metrics.items():
        n = samples["query"] if k.startswith("query_") else (
            SETUPS if k.startswith(("setup_s", "session.", "registry."))
            else len(res["passes"]))
        print(f"  {k:40s} {v:14.4f} {unit_of(k):6s} n={n}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Each workload untraced then traced, as child processes; prints their
    tables and the tracing overhead on wall and CPU."""
    ok, summary = True, {}
    for w in WORKLOADS:
        res = {}
        for trace in (0, 1):
            cmd = [sys.executable, str(Path(__file__)), "--workload", w,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]), flush=True)
            if proc.returncode or not lines:
                log(f"{w} trace={trace} exited {proc.returncode}")
                return 1
            res[trace] = json.loads(lines[-1])
            ok &= res[trace]["correct"]
        base, traced = res[0]["metrics"], res[1]["metrics"]
        overhead = {
            "wall_s": traced["trace.wall_s"]["value"] - base["wall_s"]["value"],
            "cpu_s": traced["trace.cpu_s"]["value"] - base["cpu_s"]["value"],
        }
        print(f"  tracing overhead on {w}: wall {overhead['wall_s']:+.3f} s, "
              f"cpu {overhead['cpu_s']:+.3f} s\n")
        summary[w] = {"correct": res[0]["correct"] and res[1]["correct"],
                      "trace_overhead": overhead}
    print(json.dumps(summary))
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    return run_all(args) if args.workload == "all" else run_one(args)


if __name__ == "__main__":
    sys.exit(main())

"""session.get_spark conf contract.

- ANSI mode stays on, so the exact BIGINT histogram sums of the Newton
  trainers (ml_metrics._sum_gu_dec / _sum_hu_dec, whose overflow bound
  is proven on paper) fail loudly instead of wrapping if that bound is
  ever breached.
- The generated-class cache holds the eager ladders' working set, so a
  re-run reuses its compiled classes instead of recompiling them all
  (at Spark's default 100 entries the LRU evicted every class of a
  suite-eager pass before its next use).
- Python tasks run under the engine's worker daemon (pyworker.py), so a
  task no longer re-reads the directory of every zip on its path.
- get_spark works on a process whose session it did not build.
- The default driver heap is at most half the machine's memory."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the perfbench suite-eager queries: ~145 generated classes per pass
EAGER_PASS = ("q_tree5", "q_graph_2core", "q_knn_ivf_pq")
# classes a warm re-run may still compile: Spark numbers codegenStageId
# (in AQE stage-completion order) and fresh variable names per run, so
# a few sources differ between runs (see ROADMAP item 2)
RESIDUAL_COMPILES = 15


def test_get_spark_pins_ansi(spark):
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"


def test_bigint_sum_overflow_raises(spark):
    df = spark.createDataFrame([(2**63 - 1,), (1,)], "x bigint")
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW"):
        df.agg(F.sum("x")).collect()


def test_driver_memory_default_fits_the_machine(monkeypatch):
    from fraud_detection_spark import session

    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    page = 4096

    def sysconf_for(gib):
        sizes = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": gib * 2**30 // page}
        return lambda name: sizes[name]

    monkeypatch.setattr(os, "sysconf", sysconf_for(15))
    assert session.driver_memory() == "7680m"  # half of 15 GiB
    monkeypatch.setattr(os, "sysconf", sysconf_for(64))
    assert session.driver_memory() == "16384m"  # capped at 16g
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session.driver_memory() == "3g"


def test_get_spark_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_rerun_reuses_generated_classes(spark, sf_dir):
    from fraud_detection_spark.registry import load_all

    R = load_all()
    compile_time = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )

    def one_pass():
        c0 = compile_time.getCount()
        for name in EAGER_PASS:
            R[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return compile_time.getCount() - c0

    first = one_pass()
    second = one_pass()
    # a first pass that found its classes cached by an earlier test
    # compiles little itself; the residual bound covers that case
    assert second <= max(RESIDUAL_COMPILES, first // 10), (first, second)


def test_get_spark_starts_worker_daemon(spark):
    assert spark.conf.get("spark.python.daemon.module") == (
        "fraud_detection_spark.pyworker"
    )
    assert spark.conf.get("spark.executorEnv.PYTHONPATH") == REPO


def _zip_reads_per_task(spark):
    """Per task of a 4-partition job: the zip directory reads during one
    importlib.invalidate_caches() (pyspark's worker calls it at the start
    of every task), the worker's zip importers, and where its pyspark
    came from."""

    def probe(_):
        import importlib
        import sys
        import zipimport

        import pyspark

        reads = [0]
        read_directory = zipimport._read_directory

        def counting(archive):
            reads[0] += 1
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        importers = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield reads[0], importers, pyspark.__file__

    rdd = spark.sparkContext.parallelize(range(4), 4)
    return rdd.mapPartitions(probe).collect()


def test_python_tasks_skip_unchanged_zip_rereads(spark):
    _zip_reads_per_task(spark)
    second = _zip_reads_per_task(spark)
    assert len(second) == 4
    for reads, importers, pyspark_file in second:
        # a worker without zip importers would count 0 for nothing
        assert importers > 0, second
        assert reads == 0, second
        # pyspark still comes from the zip Spark ships with the JVM
        assert "pyspark.zip" in pyspark_file, pyspark_file


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in members.items():
            z.writestr(name, text)


def test_zip_directory_reread_only_when_changed(tmp_path, monkeypatch):
    from fraud_detection_spark import pyworker

    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"fds_zip_a.py": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(pyworker, "_read_stamps", {})

    pyworker.invalidate_caches(importer)  # not stamped yet: read
    assert len(reads) == 1
    pyworker.invalidate_caches(importer)  # unchanged: kept
    assert len(reads) == 1
    assert importer.find_spec("fds_zip_b") is None

    # rewritten in place: a new member, a new size
    _write_zip(archive, {"fds_zip_a.py": "X = 1\n", "fds_zip_b.py": "Y = 2\n"})
    pyworker.invalidate_caches(importer)
    assert len(reads) == 2
    spec = importer.find_spec("fds_zip_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2

    # gone (cannot be stat'ed): re-read as the stdlib does, nothing left
    archive.unlink()
    pyworker.invalidate_caches(importer)
    assert len(reads) == 3
    assert importer._files == {}
    assert str(archive) not in pyworker._read_stamps


_PREEXISTING_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = SparkSession.builder.master("local[2]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
from fraud_detection_spark.session import get_spark
s = get_spark("x")
print("ROWS", s.range(3).count(), flush=True)
spark.stop()
"""


def test_get_spark_on_preexisting_session(tmp_path):
    proc = subprocess.run(
        [sys.executable, "-c", _PREEXISTING_SCRIPT.format(repo=REPO)],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "ROWS 3" in proc.stdout, (proc.stdout, proc.stderr[-2000:])

"""Session geometry derived from the host (pure functions, no JVM) and
the settings a ``get_spark`` session carries."""

import gc
import json
import os
import subprocess
import sys
import threading

from backend_model_spark.session import (
    _jvm_bytes,
    driver_heap_mb,
    host_cores,
    scratch_fits_in_ram,
)

GIB = 1 << 30


def test_heap_is_half_of_small_host_rounded_down():
    # a 15 GiB host: the old fixed 32g heap could not start here
    assert driver_heap_mb(15 * GIB) == 7680
    assert driver_heap_mb(6 * GIB + 100 * (1 << 20)) == 3072
    assert driver_heap_mb(1 * GIB) == 512
    assert driver_heap_mb(256 * (1 << 20)) == 512  # floor


def test_heap_caps_at_32g_and_defaults_when_unknown():
    assert driver_heap_mb(256 * GIB) == 32 * 1024
    assert driver_heap_mb(None) == 32 * 1024


def test_scratch_needs_free_ram_after_heap():
    heap = _jvm_bytes(f"{driver_heap_mb(15 * GIB)}m")
    # tmpfs reports 16 GiB on a 15 GiB host; 7.5 GiB stay free
    assert scratch_fits_in_ram(16 * GIB, 15 * GIB, heap)
    # an 8 GiB host: 4 GiB heap, 16 GiB tmpfs size limit, but only
    # 4 GiB - 1 byte of RAM left after the heap
    assert not scratch_fits_in_ram(16 * GIB, 8 * GIB - 1, 4 * GIB)
    # a small tmpfs fails whatever the RAM
    assert not scratch_fits_in_ram(2 * GIB, 64 * GIB, 8 * GIB)
    assert not scratch_fits_in_ram(16 * GIB, None, 4 * GIB)


def test_jvm_sizes():
    assert _jvm_bytes("6g") == 6 * GIB
    assert _jvm_bytes("7680m") == 7680 * (1 << 20)
    assert _jvm_bytes("512k") == 512 * 1024
    assert _jvm_bytes("1024") == 1024


def test_cores_come_from_the_affinity_mask(monkeypatch):
    # read when get_spark runs: a 4-core container no longer gets the
    # old fixed local[32] and 32 shuffle partitions
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5}, raising=False)
    assert host_cores() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert host_cores() == 6


# py4j commands one q1 build sends from the calling thread; with
# PySpark's per-call call-site capture on (its default) it sent 419
_Q1_BUILD_COMMANDS_MAX = 200


def test_session_skips_call_site_capture(spark, sf_dir, monkeypatch):
    """``F.*`` and Column calls do not record their Python call site:
    the flag is off, PySpark sees it off, and a q1 build stays within
    its py4j command budget."""
    from pyspark.errors.utils import is_debugging_enabled

    from backend_model_spark.plans import registry

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    build = registry.queries()["q1_pricing_summary"]
    build(spark, sf_dir)  # warms the input-table schema memo
    client = spark.sparkContext._gateway._gateway_client
    send, me, sent = client.send_command, threading.get_ident(), []

    def counting(*args, **kwargs):
        if threading.get_ident() == me:
            sent.append(args[0])
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    # no py4j proxy finalizers while counting
    gc.disable()
    try:
        build(spark, sf_dir)
    finally:
        gc.enable()
        monkeypatch.undo()
    assert 0 < len(sent) <= _Q1_BUILD_COMMANDS_MAX, len(sent)


def test_python_workers_import_the_installed_pyspark(spark):
    """The local worker daemon imports pyspark from the installed
    package, which has a bytecode cache, not from Spark's pyspark.zip."""

    # nested, so it is pickled by value: pytest imports this module
    # under a name the workers cannot import
    def worker_pyspark(it):
        import pandas as pd
        import pyspark

        for _ in it:
            yield pd.DataFrame({"path": [pyspark.__file__]})

    path = spark.range(1, numPartitions=1).mapInPandas(
        worker_pyspark, "path string"
    ).first().path
    assert ".zip" not in path, path


_OUTSIDE_ROOT = """
import json, sys
sys.path.insert(0, {root!r})
from backend_model_spark.session import get_spark

def worker_files(it):
    import pandas as pd
    import pyspark
    import backend_model_spark
    for _ in it:
        yield pd.DataFrame(
            {{"pyspark": [pyspark.__file__], "package": [backend_model_spark.__file__]}}
        )

spark = get_spark("outside-root")
row = spark.range(1, numPartitions=1).mapInPandas(
    worker_files, "pyspark string, package string"
).first()
spark.stop()
print(json.dumps(row.asDict()))
"""


def test_udf_runs_when_driver_starts_outside_the_repo(tmp_path):
    """A driver whose working directory and PYTHONPATH do not hold the
    repository still runs Python UDFs: the worker daemon and the
    package reach the workers through the PYTHONPATH the session
    module sets before the JVM starts."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(
        SPARK_DRIVER_MEMORY="1g",
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_LOCAL_DIR=str(tmp_path / "local"),
    )
    proc = subprocess.run(
        [sys.executable, "-c", _OUTSIDE_ROOT.format(root=root)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.splitlines()[-1])
    assert got["package"] == os.path.join(root, "backend_model_spark", "__init__.py")
    assert ".zip" not in got["pyspark"], got["pyspark"]

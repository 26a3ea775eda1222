"""Session geometry derived from the host (pure functions, no JVM) and
the settings a ``get_spark`` session carries."""

import gc
import os
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

"""Session geometry derived from the host: pure functions, no JVM."""

from backend_model_spark.session import (
    _jvm_bytes,
    driver_heap_mb,
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

"""SparkSession factory tuned for both local testing and cluster scale.

The knobs below are chosen for correctness-critical determinism (UTC
session timezone; ANSI mode stays at the Spark 4 default ON, which
matches the DuckDB oracle's fail-on-error arithmetic — tolerant paths
use the try_* functions explicitly) and for scale
(AQE on, skew-join handling on, partition coalescing on). On a real
cluster the same builder works unchanged — ``master`` is only defaulted
when nothing else set it.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

from backend_model_spark.protobuf_compat import ensure_protobuf

# must run BEFORE the JVM starts: local-mode Python workers inherit the
# driver environment, so the vendored google.protobuf (used by the
# transformWithStateInPandas state channel) has to be on PYTHONPATH now
HAS_PROTOBUF = ensure_protobuf()

# Likewise the package root: the local worker daemon
# (``backend_model_spark.worker_daemon``) and every Python function
# pickled by reference import this package by name, whatever the
# driver's working directory.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _PACKAGE_ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, (_PACKAGE_ROOT, os.environ.get("PYTHONPATH")))
    )

_MIB = 1 << 20

# Floor for shuffle scratch in RAM: local runs shuffle well under a GB
# per query; 4 GiB of headroom keeps a small container from thrashing
# its page cache.
_SCRATCH_MIN_BYTES = 4096 * _MIB


def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return ""


def _host_memory() -> int | None:
    """Bytes of RAM this process can use: the smaller of the cgroup
    memory limit (v2 or v1) and MemAvailable; None when neither is
    known."""
    limits = [
        _read("/sys/fs/cgroup/memory.max").strip(),
        _read("/sys/fs/cgroup/memory/memory.limit_in_bytes").strip(),
    ]
    known = [int(v) for v in limits if v.isdigit() and int(v) < 1 << 60] + [
        int(line.split()[1]) * 1024
        for line in _read("/proc/meminfo").splitlines()
        if line.startswith("MemAvailable:")
    ]
    return min(known, default=None)


def host_cores() -> int:
    """Cores for ``local[n]`` and the default shuffle partitions:
    ``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may run
    on (its affinity mask, which a container's cpuset narrows)."""
    override = os.environ.get("SPARK_GRAFT_CPUS")
    if override:
        return int(override)
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity call on this platform
        return os.cpu_count() or 1


def driver_heap_mb(host_bytes: int | None) -> int:
    """Default driver heap in MiB: half of ``host_bytes``, capped at
    32 GiB and rounded down to 256 MiB (at least 512 MiB)."""
    half = host_bytes // 2 // _MIB if host_bytes else 32 * 1024
    return max(512, min(32 * 1024, half) // 256 * 256)


def scratch_fits_in_ram(shm_free: int, host_bytes: int | None, heap: int) -> bool:
    """Whether tmpfs scratch leaves the floor free twice over: in the
    tmpfs itself, and in host RAM after the heap. tmpfs ``f_bavail``
    reports its size limit (16 GiB on a 15 GiB host), not free memory."""
    floor = _SCRATCH_MIN_BYTES
    return shm_free >= floor and (host_bytes or 0) - heap >= floor


def _jvm_bytes(size: str) -> int:
    """Bytes in a JVM memory size such as ``6g`` or ``7680m``."""
    size = size.strip().lower()
    unit = {"k": 1 << 10, "m": _MIB, "g": 1 << 30, "t": 1 << 40}.get(size[-1])
    return int(size[:-1]) * unit if unit else int(size)


# Round-12 measured lever (guide §5, §7.4): on this round's host the
# kernel serializes concurrent page faults in a process whenever
# another thread is mutating the address space (mmap/munmap/mprotect
# take the mmap_lock in write mode), and the JVM is full of such
# mutators by default: a growable heap (Xmx 90g, tiny Xms — every
# bench run's System.gc() shrank the heap and the next query's
# allocations re-committed it), a growable code cache (each query
# compiles fresh codegen classes), and 15 concurrent C2 compiler
# threads. Measured effect: 32 executor threads collapse to 20-77%
# SYSTEM cpu (kernel stacks: vm_mmap_pgoff / lock_mm_and_find_vma),
# dedup_minhash_lsh_candidates 17.5 s where the same plan runs 1.3 s
# with the churn removed. The fix pins every growable region:
#   -Xms == -Xmx            heap committed once, never resized
#   InitialCodeCacheSize == ReservedCodeCacheSize
#                           code cache committed once
#   CICompilerCount=4       bounds concurrent compilation while
#                           executor threads are faulting
# A/B (3 worst headline entries, min-of-3 each, same tree):
# minhash 17.5→1.3 s, semdedup 5.9→2.9 s, calibration 17.7→2.9 s.
# The heap is sized from the host (driver_heap_mb): a fixed 32g
# committed heap made the JVM fail to start (JAVA_GATEWAY_EXITED) on
# a 15 GiB host; 32g stays the cap, where 16g measured slightly
# GC-tight at sf0.1 (window_rfm 2.5 s vs 1.7 s). SPARK_DRIVER_MEMORY
# overrides it. A JVM crash report (hs_err_pid*.log) goes to the temp
# dir, never into the working directory (which is often the checkout).
_DRIVER_JAVA_OPTS = (
    "-Xms{heap}"
    " -XX:InitialCodeCacheSize=512m -XX:ReservedCodeCacheSize=512m"
    " -XX:CICompilerCount=4"
    f" -XX:ErrorFile={os.path.join(tempfile.gettempdir(), 'hs_err_pid%p.log')}"
)


def _local_scratch_dir(heap: str) -> str | None:
    """Pick the local-mode shuffle/spill scratch directory.

    Guide §1.3/§2.1: shuffle blocks are written to and re-read from
    ``spark.local.dir``, so local disk bandwidth for shuffle files can
    be the tighter limit — measured on this round's host: the backing
    device sustains ~25 MB/s writes while /dev/shm (tmpfs) sustains
    ~400 MB/s, and every shuffle-heavy query was writeback-throttled
    through /tmp (sessionize 8.1 s vs 0.9 s, minhash 17.5 s vs ~4 s).
    Scratch data is per-job ephemera (never results, never reused
    across runs), so placing it on the fastest medium changes no
    query's output. On a real cluster the cluster manager supplies
    its own local dirs (NVMe scratch); this only applies to local
    masters.

    tmpfs pages are host RAM shared with the heap, and the check runs
    once at startup: a shuffle spike past the free RAM can fail a
    query with ENOSPC or wake the OOM killer where a disk directory
    would only be slower. So /dev/shm is used only while host RAM
    minus the heap leaves :data:`_SCRATCH_MIN_BYTES` free
    (:func:`scratch_fits_in_ram`). ``SPARK_GRAFT_LOCAL_DIR`` overrides
    the choice, e.g. with a disk directory on a memory-tight host.
    """
    override = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if override:
        return override
    shm = "/dev/shm"
    try:
        if os.path.isdir(shm) and os.access(shm, os.W_OK):
            st = os.statvfs(shm)
            if scratch_fits_in_ram(
                st.f_bavail * st.f_frsize,
                _host_memory(),
                _jvm_bytes(heap),
            ):
                return os.path.join(shm, "spark-graft-local")
    except OSError:
        pass
    return None


def get_spark(
    app_name: str = "backend_model_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Scale notes: AQE re-plans joins and coalesces shuffle partitions at
    runtime, and ``skewJoin`` splits hot partitions — all essential at
    100 TB where static planning guesses wrong. ``maxPartitionBytes``
    stays at the 128 MB default so a 100 TB scan fans out to ~800k
    tasks, which the DAG scheduler handles fine.

    Local geometry is read from the host when this runs, not at import:
    ``local[n]`` and the default shuffle partitions from
    :func:`host_cores`, the heap from :func:`driver_heap_mb`.
    ``extra_conf`` overrides any conf set here, e.g. the AQE partition
    floor or the driver JVM options for another geometry.
    """
    cores = host_cores()
    sp = shuffle_partitions or cores
    heap = os.environ.get("SPARK_DRIVER_MEMORY") or f"{driver_heap_mb(_host_memory())}m"
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Round-11 measured lever: with parallelismFirst (default on)
        # AQE coalesces to max(shuffleBytes/defaultParallelism,
        # minPartitionSize); the 1 MB default floor serialized several
        # compute-bound small shuffles onto 1–5 tasks (ADC distance
        # scan, tfidf rollups, per-bin pair joins). 256 KB keeps those
        # stages at full local width (A/B: tfidf 1.45→1.03 s, overlap
        # topk 2.0→1.76 s, no regressions) and is INERT at scale,
        # where bytes/parallelism ≫ any floor.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # measured lever (SCALE.md round 5): 64k Arrow batches amortize
        # the per-batch Arrow + numpy-matmul overhead in the Pandas-UDF
        # serving path — ml_mlp_model_compare 10.95s->8.34s (1.31x) and
        # ml_mlp_batch_inference 5.76s->4.63s (1.24x) at 10x stress;
        # 128k regresses (memory pressure). All hashed outputs are
        # batch-size invariant by construction (chunk-order-invariant
        # folds), so this is purely a throughput knob.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # events.parquet's physical timestamp type has flipped between
        # TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across data drops.
        # Spark 4 CANNOT read nanos natively (PARQUET_TYPE_ILLEGAL);
        # this STATIC conf (builder-time only — runtime set is
        # silently ignored) makes nanos files read as LongType, which
        # tables.py normalizes back to timestamps. It is a no-op for
        # micros files, so the current data is unaffected either way.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Measured lever: the generated-class cache defaults to 100
        # entries, and Guava enforces that bound per segment, so
        # eviction starts below 100. A session answering a rotating
        # mix of queries thrashes it: the five perfbench `lineage`
        # entries compile ~125 classes and, at the default, recompiled
        # 92-108 of them with Janino on every warm pass (6-10 ms
        # each); `corpus` recompiled 22 of its 86. At 4096 both run
        # 0 compiles per warm pass (4 cores, sf0.01; lineage wall_s
        # 2.72→2.12 s, 10 of 10 A/B pairs). Generated code for a
        # plan is deterministic, so this only decides whether an
        # already compiled class is kept; plans and results are
        # unchanged. Cost: ~2.6 KB of bytecode per class; one run of
        # all 315 registry entries at sf0.001 compiled 4,371 classes
        # and grew Metaspace 133→302 MB, so 4096 bounds it near that.
        # The setting is STATIC: it takes effect only in a JVM whose
        # first session comes from this builder; a session an
        # external driver built keeps Spark's default of 100.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # Measured lever: PySpark wraps every ``F.*`` function and
        # Column operator in ``_with_origin`` to record its Python call
        # site. Each call looks up the active session, reflects
        # PySparkCurrentOrigin over py4j, reads a conf, sets and
        # clears the origin, walks the Python stack and retries a
        # failing ``import ipykernel``. With it off, building q1 sends
        # 180 py4j commands instead of 419 (q5 321→172, window top-k
        # 173→83, cosine top-k 525→248; sf0.001) and the driver never
        # imports IPython (perfbench ``lineage`` py_peak_rss_mb
        # 147→123 MB, 10 of 10 A/B pairs; 4 cores, sf0.01). Cost: a
        # runtime error's DataFrame query context loses its Python
        # file:line fragment; the error class and message stay.
        # PySpark reads the flag once per process, at the first wrapped
        # call with an active session, so a session an external driver
        # built keeps PySpark's default (on).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", heap)
        .config("spark.driver.extraJavaOptions", _DRIVER_JAVA_OPTS.format(heap=heap))
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cores}]")
        # Measured lever: the stock daemon imports pyspark from
        # $SPARK_HOME's pyspark.zip, which has no bytecode cache, so
        # each application's first Python stage recompiled pyspark.
        # This daemon imports the installed pyspark (see
        # worker_daemon): a new application's first one-row
        # mapInPandas took 1.17-1.28 s before, 0.58-0.65 s after
        # (local[2], PySpark 4.1.2).
        builder = builder.config(
            "spark.python.daemon.module", "backend_model_spark.worker_daemon"
        )
        scratch = _local_scratch_dir(heap)
        if scratch:
            # shuffle/spill scratch on the fastest local medium — see
            # _local_scratch_dir (round-12 measured lever)
            builder = builder.config("spark.local.dir", scratch)
    if HAS_PROTOBUF and os.environ.get("PYTHONPATH"):
        # propagate the (possibly vendored) protobuf path to executors
        # on real clusters; local mode already inherits the driver env
        builder = builder.config(
            "spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"]
        )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

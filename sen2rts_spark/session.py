"""SparkSession factory with scale-appropriate defaults.

Tuned for the engine's workload: numpy kernels over whole series runs
that ``grouped.grouped_apply`` hands them through ``mapInArrow``, AQE
with skew-join handling, and shuffle partitioning proportional to cores
(overridable for the bench's N vs 4N protocol).

Python workers start through ``sen2rts_spark._daemon`` whenever they can
import it: it takes Spark's pyspark/py4j archives off the workers'
``sys.path`` so a task does not pay ~0.25 CPU-s re-reading them (see
``_daemon``). A session built with a raw ``SparkSession.builder`` keeps
Spark's stock daemon.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "prewarm_python_workers"]

_DAEMON = "sen2rts_spark._daemon"


def workers_can_import_package() -> bool:
    """True when a local session's Python workers can import this package.

    Local workers share two path sources with the driver: its working
    directory and the ``PYTHONPATH`` environment variable. The package
    counts as importable when its parent directory is one of them.
    """
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    entries = [os.getcwd()] + os.environ.get("PYTHONPATH", "").split(os.pathsep)
    return any(os.path.realpath(p) == os.path.realpath(root)
               for p in entries if p)


def prewarm_python_workers(spark, n_workers: int | None = None) -> float:
    """Fan out one held-open Arrow task per core so the Python worker pool is
    fully created while the JVM is idle.

    Spark serializes worker creation behind the SparkEnv lock; when the first
    Python stage of a session runs inside a big job, the 32 creations +
    simultaneous cold imports of numpy/pandas/pyarrow measured 60-110 s on
    this host (jstack: every task thread BLOCKED in SparkEnv.createPythonWorker).
    Creating the pool up front on an idle JVM costs ~7 s once and every later
    Python stage runs warm (measured 64.6 s -> 4.9 s for the Gorilla encode
    stage). On a real cluster the analogue is executor worker reuse across
    jobs — this is session setup, not per-query work.

    Returns the wall seconds spent. Idempotent per SparkContext.
    """
    import time as _time

    sc = spark.sparkContext
    if getattr(sc, "_sen2rts_prewarmed", False):
        return 0.0
    n = n_workers or sc.defaultParallelism

    def _hold(batches):
        # preload the heavy imports inside the worker so first real task
        # doesn't pay them under 32-way memory-bandwidth contention
        try:
            import numpy  # noqa: F401
            import pandas  # noqa: F401
            import pyarrow  # noqa: F401
            import sen2rts_spark.kernels.gorilla  # noqa: F401
        except ImportError:
            pass  # zip not shipped yet — worker creation is still the win
        _time.sleep(1.2)  # hold the slot: force one worker per core
        for b in batches:
            yield b

    t0 = _time.time()
    spark.range(0, n, 1, n).mapInArrow(_hold, "id long").count()
    sc._sen2rts_prewarmed = True
    return _time.time() - t0


def get_spark(app: str = "sen2rts_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Get or create the engine's ``local[cores]`` session.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (else the CPU count) and
    ``shuffle_partitions`` to 3 per core (at least 12). When the workers
    can import this package (``workers_can_import_package``),
    ``spark.python.daemon.module`` is set to ``sen2rts_spark._daemon``;
    otherwise Spark's stock daemon runs, since a daemon module the workers
    cannot import would fail every Python task. ``extra_conf`` is applied
    last and overrides any of these settings.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    # Pin BLAS to one thread per Python worker: this host's OpenBLAS
    # (MAX_THREADS=2, spin-wait) makes a 200x200 LAPACK solve take 300 ms
    # instead of 0.9 ms under contention, and N workers x 2 spinning BLAS
    # threads oversubscribes every core. Set on the driver env BEFORE the
    # JVM forks Python workers so they inherit it; parallelism belongs to
    # Spark's task scheduler, not the math library.
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    if shuffle_partitions is None:
        # 3 tasks per core (the standard Spark sizing guidance): finer
        # granularity lets the scheduler route around stalled/stolen cores —
        # with 1 task/core ANY straggler extends every stage barrier by its
        # full stall. Measured on the 24M-point pipeline: 50.3 s -> 37.6 s
        # at local[32], 85.7 -> 75.8 s at local[8]. AQE still coalesces
        # post-shuffle partitions where they end up small.
        shuffle_partitions = max(3 * cores, 12)
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner choose shuffled-hash over sort-merge when its
        # build-side size conditions hold (guide §3.1/§9): drops the per-
        # round sorts in iterative joins (connected components -5%) and the
        # equi-join sorts of the interval range join (-13% at sf1.0). The
        # planner still falls back to SMJ when a build side could not fit.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        # same BLAS pinning for real-cluster executors (local mode inherits
        # the driver env; executorEnv covers the distributed deployment)
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
    )
    # shuffle + python-worker temp on tmpfs: the sandbox's /tmp is a virtio
    # disk whose sync storms showed up as 40-60% sys time at local[32]
    if os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    if workers_can_import_package():
        b = b.config("spark.python.daemon.module", _DAEMON)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

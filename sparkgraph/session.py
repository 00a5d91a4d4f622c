"""SparkSession factory with the engine's default configuration.

The reference engine hand-rolls its runtime (master barrier loop, combiner,
failure detector — SURVEY.md §2B); here the equivalent knobs are Spark confs:
AQE replaces hand-tuned partition counts, map-side partial aggregation replaces
the per-VM message combiner (reference worker/worker.go:269-284), and task
retry replaces the gossip failure detector.
"""

from __future__ import annotations

import os
import site

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sparkgraph",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
    ``shuffle_partitions`` defaults to the core count — at cluster scale this
    is superseded by AQE coalescing, which is enabled.

    In local mode, when the Python workers can import ``sparkgraph`` (its
    root is the working directory, on ``PYTHONPATH`` or in site-packages),
    ``spark.python.daemon.module`` is ``sparkgraph.worker_daemon``: the
    stock daemon with Python 3.11's per-task re-read of Spark's archive
    directories switched off, which cut a one-task Python job 92 → 60 ms on
    a 4-core VM (see that module). Workers that could not import it would fail every
    Python UDF, so other masters keep ``pyspark.daemon``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        env_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        if env_parts is not None:
            shuffle_partitions = int(env_parts)
        else:
            n = os.cpu_count() or 8
            if master.startswith("local[") and master[6:-1].isdigit():
                n = int(master[6:-1])
            shuffle_partitions = n

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode = single JVM: driver memory is the only heap knob.
        # Empirically a SMALL heap wins here: shuffle/persist data spills to
        # OS page cache and GC stays fast; 48g heaps measured 3x slower with
        # erratic multi-second GC pauses on the superstep loop.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "4g"))
        .config("spark.driver.maxResultSize", "2g")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Shuffle writer path (guide §2.2): below the bypass-merge threshold
        # Spark's BypassMergeSortShuffleWriter opens one file PER REDUCE
        # PARTITION per map task (M·R tiny file creates per shuffle — the
        # iterative loops pay that every superstep). Forcing the serialized
        # sort writer emits one data+index file per map task instead; a real
        # cluster with R ≥ 200 reduce partitions takes this code path anyway,
        # so this only aligns small-R (local / coalesced) shuffles with the
        # at-scale writer. Measured: 1.17M-row shuffle 0.53s → 0.30s.
        .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    )
    # Shuffle/spill scratch space (guide §2.1: check local disk bandwidth):
    # production clusters point spark.local.dir at fast local NVMe; the
    # sandbox twin of that is the RAM-backed tmpfs. Applied only in local
    # mode (a cluster's nodes configure their own dirs), only when the tmpfs
    # has ≥ 8 GiB free (headline shuffles at bench scale are ≤ a few hundred
    # MB; ContextCleaner removes shuffle files as dependencies are GC'd),
    # and overridable via SPARK_GRAFT_LOCAL_DIR (set it to '' to disable).
    if master.startswith("local"):
        local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
        if local_dir is None and os.path.isdir("/dev/shm"):
            try:
                st = os.statvfs("/dev/shm")
                if st.f_bavail * st.f_frsize >= 8 * 1024**3:
                    local_dir = "/dev/shm/sparkgraph-local"
            except OSError:
                local_dir = None
        if local_dir:
            builder = builder.config("spark.local.dir", local_dir)
        if _workers_import_sparkgraph():
            builder = builder.config("spark.python.daemon.module", "sparkgraph.worker_daemon")
    # SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2" — ad-hoc conf injection for the
    # evidence scripts (e.g. spark.io.compression.codec=zstd halves the
    # on-disk shuffle footprint of id-pair-heavy single-box runs)
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for item in filter(None, (s.strip() for s in env_conf.split(";"))):
        k, _, v = item.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _workers_import_sparkgraph() -> bool:
    """Whether a local Python worker — started by ``python -m`` in the JVM's
    working directory (this process's) with this process's ``PYTHONPATH`` —
    finds the ``sparkgraph`` package that is running here. A package loaded
    from a ``--py-files`` archive is not on a worker's path until its first
    task, so it does not count."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if not os.path.isdir(root):
        return False
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
             *site.getsitepackages()]
    return any(p and os.path.realpath(p) == os.path.realpath(root) for p in paths)


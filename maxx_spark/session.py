"""SparkSession factory tuned for this engine.

Defaults are sized for the sandbox (local[N], 128 GiB, parquet inputs) but
every knob is chosen to also be the right *shape* at cluster scale:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing):
  the engine relies on all three, and all three are Spark's defaults, so
  the session sets none of them; 128 MiB parquet splits are the default too.
- Arrow enabled and batch-size-bounded (the extraction stage ships BINARY
  html blobs through Arrow; unbounded batches would OOM Python workers).
- shuffle.partitions defaults to cores*2 locally; on a real cluster this is
  overridden (or left to AQE coalescing from a high initial number).

On a ``local*`` master every Python worker is forked from the engine's
daemon, ``maxx_spark.worker_daemon`` (``spark.python.daemon.module``), whose
zip importers re-read ``pyspark.zip`` only when it changes; that removes
~0.27 s of CPU from every Python task. ``get_spark`` prepends the package
root to ``spark.executorEnv.PYTHONPATH`` so the daemon imports from any
working directory. Other masters keep Spark's own daemon, because the
driver's package root is not a path on their executors; a cluster opts in by
installing the package on every executor and setting
``spark.python.daemon.module`` in ``extra_conf``.

On a ``local*`` master the file listing also stays on the driver:
``spark.sql.sources.parallelPartitionDiscovery.threshold`` defaults to
``2147483647``, so reading many explicit paths never starts a Spark listing
job. A streaming micro-batch over new files names each file as a path, and a
live trigger names about 45, past Spark's default threshold of 32. Local
executors are threads of the driver's JVM reading the same filesystem, so
the distributed listing is never faster; it only adds a job. In traced
perfbench ``uniform`` runs (local[4], seeds 1 and 2) a 45-file live batch
spent 393-635 ms in ``getBatch`` with the listing job and 23-38 ms without.
Other masters keep Spark's default: on an object store the parallel listing
of many paths is the faster path. An ``extra_conf`` value wins on any master.

``get_spark`` also runs a one-time session warmup that grows the Python
worker pool and imports pandas in every worker (``SPARK_GRAFT_WARMUP=0``
disables it).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"


def _warm_session(spark: SparkSession, cores: int) -> None:
    """One-time session warmup (data-independent; disable with
    SPARK_GRAFT_WARMUP=0): grow the Python worker pool to ``cores`` workers
    and import pandas in each. Workers fork from the daemon (on a local
    master the engine's ``maxx_spark.worker_daemon``); each fork plus its first pandas import
    otherwise happens lazily at the first Arrow-batched stage wide
    enough to need it (the r4 extract order A/B measured the same effect on
    the extraction stage: first-in-session runs ~2x slower purely from
    per-worker import + spawn; bench.py warms extraction for exactly this
    reason — this generalizes the contract to every pandas/Arrow operator).

    Synthetic input only (spark.range); nothing touches input data or
    caches results. A failure logs a warning and never blocks the session."""
    from pyspark.sql import functions as F

    try:
        # one wide Arrow stage; mapInPandas (not mapInArrow) so every worker
        # also imports pandas here, not inside the first real pandas-UDF query
        base = spark.range(cores * 512).repartition(cores)
        base.mapInPandas(lambda it: it, "id long").agg(F.count(F.lit(1))).collect()
    except Exception:  # noqa: BLE001 — warmup must never block a session
        log.warning("session warmup (worker pool + pandas import) failed", exc_info=True)


def driver_memory() -> str:
    """Driver heap of engine sessions (``SPARK_DRIVER_MEMORY``, default 8g);
    scripts that spark-submit engine jobs pass the same value."""
    return os.environ.get("SPARK_DRIVER_MEMORY", "8g")


def get_spark(
    app_name: str = "maxx_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    # parse core count out of local[N] for shuffle sizing
    cores = 32
    if master.startswith("local["):
        inner = master[6:-1]
        if inner.isdigit():
            cores = int(inner)
        elif inner == "*":
            cores = os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(cores * 2, 8)
    conf = dict(extra_conf or {})
    if master.startswith("local"):
        # local executors see the driver's filesystem, so workers can import
        # the engine's daemon from the package root (module docstring)
        conf.setdefault("spark.python.daemon.module", "maxx_spark.worker_daemon")
        conf[_WORKER_PYTHONPATH] = os.pathsep.join(
            p for p in (_PACKAGE_ROOT, conf.get(_WORKER_PYTHONPATH)) if p
        )
        # list a micro-batch's explicit file paths on the driver: local
        # executors share its JVM and filesystem, so a parallel listing job
        # only adds ~0.4-0.6 s to a live getBatch (module docstring)
        conf.setdefault("spark.sql.sources.parallelPartitionDiscovery.threshold", "2147483647")

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # let AQE re-plan INSIDE cached plans too (default false): the dedup
        # suite caches its shared shingle index, and with the default every
        # consumer stage inherits the cache's full static shuffle partition
        # count — no runtime coalescing anywhere downstream of a cache. The
        # cost (a cached plan's output partitioning may change between runs,
        # so a consumer counting on it may re-exchange) doesn't apply here:
        # consumers key on the same columns AQE preserves. Size-based and
        # scale-neutral. sf0.1, 4 cores, 5 interleaved pairs without it
        # (BENCH/dedup_ab_cached_plan_partitioning.json): dedup chain
        # q12..q63 26.2 -> 28.9 s (slower in 5/5), q13 7.1 -> 9.2 s, q63
        # 2.7 -> 3.2 s, shared-index total 7.2 -> 7.5 s.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Arrow batches: html BINARY payloads can be large; at 100 TB
        # scale a 10k-row batch of 1 MB pages would be 10 GB in the Python
        # worker — cap well below that.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # INT96 (the default) carries no parquet column statistics; the
        # sink's footer-based lineage needs min/max on the event-time column
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    )
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("SPARK_GRAFT_WARMUP", "1") != "0" and not spark.conf.get(
        "spark.maxx.warmed", None
    ):
        spark.conf.set("spark.maxx.warmed", "1")  # once per session, not per get_spark
        _warm_session(spark, cores)
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the driver testdata parquet tables as a dict of DataFrames."""
    names = names or (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    )
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}

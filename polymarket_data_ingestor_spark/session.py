"""SparkSession factory with scale-oriented defaults.

The reference engine is a single-threaded Rust pipeline; our engine targets a
multi-executor cluster, so session defaults matter: AQE for runtime re-planning
(skew joins, partition coalescing), Arrow for the one pandas-UDF boundary, and
shuffle-partition counts sized to the deployment rather than Spark's 200
default.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# Make the package importable in executor Python workers regardless of where
# the driver script lives (workers inherit PYTHONPATH, not driver sys.path).
_PKG_ROOT = str(Path(__file__).resolve().parents[1])
if _PKG_ROOT not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = (
        _PKG_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    ).rstrip(os.pathsep)

# On a real cluster these come from spark-submit / cluster conf; the env vars
# below let the bench driver pin core counts without code changes.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "polymarket-data-ingestor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned defaults.

    Defaults are chosen for correctness-at-scale:

    * ``spark.sql.adaptive.enabled`` — AQE re-plans at runtime: coalesces
      post-shuffle partitions, converts sort-merge to broadcast joins when a
      side turns out small, and splits skewed partitions (the Spark analogue
      of the reference's hot-shard connection splitting,
      ``collector/src/client/reconnecter.rs:280-350``).
      The engine's one rule against it: a CPU-bound stage after a small
      shuffle gets a NUMBERED exchange, ``repartition(n, *keys)`` with
      ``n = spark.sql.shuffle.partitions``. AQE coalesces an unnumbered
      shuffle by bytes, so a few-MB shuffle would run the whole next
      stage on one task; it leaves a numbered one alone. The replay
      kernel's input and every partitioned lake write
      (``sinks._write_lake``) follow it: the ~74k-tick, 3-hour perfbench
      lake writes its hours on 3 tasks instead of 1. The cost shows at
      cluster scale, where shuffle partitions far outnumber the keys: a
      write of 24 hours at 2,000 shuffle partitions schedules at least
      1,976 empty tasks (they open no file, but each is a task launch).
    * Arrow execution for the replay kernel (SURVEY §2.10 O1).
      Batch size 131072: a local sweep (10k/32k/64k/128k/256k rows on the
      sf0.1 replay fixture) shows the Python-worker hop cost is dominated
      by per-batch overhead — 128k-row batches run the replay kernel ~1.8×
      faster than the 10k the reference buffers at
      (``cli/src/tick_generator.rs:69``), and every Arrow-stage catalog
      query improves too. 128k rows of the widest bench schema
      (embeddings: 64 float32 + id ≈ 0.5 KB/row) is ~70 MB per in-flight
      batch per task — inside a 4 GiB-executor budget at 100 TB; gains
      past 128k are <15% and double that footprint, so this is the knee.
    * ``parquet.compression=snappy`` to match the reference tick sink
      (``cli/src/tick_generator.rs:60-63``).
    * ``spark.buffer.pageSize=2m``: a sort or hash aggregate allocates
      its first memory page at full page size however few rows it holds,
      and Spark's default (heap / cores / 16, capped at 64 MB) gives a
      16g driver 64 MB pages. Three replay-kernel sorts at once then pin
      192 MB of page arrays for a few MB of rows, and G1 grew the heap by
      about 400 MB. 2 MB is inside Spark's own default range (1-64 MB),
      below G1's humongous-object size at the 16g default heap, and
      still addresses 16 GB per task; a larger record gets a page of its
      own size.
    * ``spark.sql.files.openCostInBytes=256k``: file scans split the
      input into about one share per core, so a big hour log is read by
      several tasks. Spark's split target is ``min(maxPartitionBytes,
      max(openCost, (bytes + files * openCost) / cores))``, and the
      default 4 MB open cost pads every file. Twelve collector hour logs
      of 21.7 MB on 3 cores then get a (21.7 + 12 × 4) / 3 = 23 MB
      target, so the 12.2 MB hour holding 58% of the messages never
      splits: its scan task ran 490-590 ms while the other two took
      160-260 ms. At 256 KB the target is (21.7 + 12 × 0.25) / 3 =
      8.2 MB, the big hour splits, and the longest of four scan tasks
      ran 290-415 ms; a whole replay went from 1.28 to 1.00 s (median of
      interleaved rounds, 3 cores of a 4-vCPU VM; an open cost of 0 read
      1.04 s). The open cost is also the smallest split: 256 KB is about
      what a core parses in the ~10 ms a task costs to start (JSON frames
      scan at ~19 MB/s a core on that VM), and it keeps a small parquet file
      whole, where a byte split without the row group's midpoint reads
      nothing. At 0 such a file's layout changed with the core count,
      and with it every result that depends on partitions, such as
      ``DataFrame.sample`` (an IVF codebook fit's recall fell below its
      test floor). ``maxPartitionBytes`` (128 MB) still caps every task,
      so inputs above 128 MB per core keep the default splits.
    * ``spark.python.daemon.module`` (``local`` and ``local[...]`` masters
      only): the worker daemon :mod:`._daemon`. Every Python-UDF task
      resets the import caches, and under CPython 3.11 each cached zip
      importer then re-reads ``pyspark.zip`` or the spark-core jar: about
      77 ms a task on a 4-vCPU VM, against ~27 ms for the replay kernel's
      own loop. The daemon's importers re-read only an archive whose
      size or mtime changed; directory finders still reset, so
      ``addPyFile`` keeps working. Local masters only, because only there
      does this module's ``PYTHONPATH`` export make the package
      importable by the daemon; replay ships its kernel by value so that
      executors need not import the package, and other masters keep
      Spark's daemon. Not ``spark.python.worker.module``: ``pyspark.daemon``
      imports a worker module only if its name starts with ``pyspark``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", _DEFAULT_CPUS))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core is the sweet spot; on a
        # cluster this should be ~2-3x total executor cores (set via conf).
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.parquet.compression.codec", "snappy")
        .config("spark.buffer.pageSize", "2m")
        .config("spark.sql.files.openCostInBytes", "256k")
        .config("spark.sql.session.timeZone", "UTC")
        # files.maxPartitionBytes default 128m is right for the 100 TB
        # target; do not shrink it for the local test scale.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    if master.split("[")[0] == "local":
        builder = builder.config(
            "spark.python.daemon.module", "polymarket_data_ingestor_spark._daemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

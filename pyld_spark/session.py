"""SparkSession construction, and the session-wide lineage and shuffle-width policies.

Shuffle width is decided here. JVM joins that AQE cannot size take the
session's ``spark.sql.shuffle.partitions`` (:func:`repartition_by`); Python
per-document stages, the grouped ones and the kernel map
(``doc_runner.map_docs``) alike, take one task per slot
(:func:`repartition_per_slot`), because each Python Arrow task costs about
90-100 ms on 4 cores, against 2 ms for a JVM one
(``tools/python_task_cost.py``: an identity ``mapInArrow`` of 32k rows took
0.83-0.91 s at 32 partitions, 0.21-0.22 s at 4). AQE sizes partitions by
bytes, so it cannot see Python CPU; it keeps an explicit width. Measured on
4 cores, into a noop sink, median of 3 warm runs:

- groups: one task per slot against 32 tasks and a label-map join,
  ``canonicalize_triples``: 74k sf0.01 triples 1.76 -> 0.74 s; 3.0M
  synthetic triples 10.8 -> 9.9-10.9 s on 4 slots, 16.3 -> 16.4-17.1 s
  on 2;
- the kernel map: hash-partitioned per slot against the input's own
  splits, ``docs_to_triples`` over 22,160 untagged docs (40 seeds of the
  benchmark's mixed documents): one parquet row group, so one kernel task,
  7.67-7.75 -> 2.55-2.56 s; the same docs in 4 Spark-written splits,
  2.37-2.39 -> 2.34-2.46 s (the extra exchange is inside the noise).

Not measured: tens of millions of rows a task.
"""

from __future__ import annotations

import hashlib
import os
import zipfile

from pyspark.sql import DataFrame, SparkSession


def package_zip() -> str:
    """Zip the pyld_spark package for shipping to executors — the local-mode
    equivalent of ``spark-submit --py-files pyld_spark.zip``. Content-hashed
    filename so repeated calls are idempotent and stale zips never load."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    repo = os.path.dirname(pkg_dir)
    files = []
    for root, _dirs, names in os.walk(pkg_dir):
        for n in sorted(names):
            if n.endswith(".py"):
                files.append(os.path.join(root, n))
    h = hashlib.sha256()
    for f in sorted(files):
        with open(f, "rb") as fh:
            h.update(f.encode())
            h.update(fh.read())
    out = os.path.join("/tmp", f"pyld_spark-{h.hexdigest()[:12]}.zip")
    if not os.path.exists(out):
        tmp = out + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for f in sorted(files):
                z.write(f, os.path.relpath(f, repo))
        os.replace(tmp, out)
    return out


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Make pyld_spark importable on executor Python workers regardless of
    how the SparkSession was constructed."""
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:  # noqa: BLE001 — already registered under this name
        pass


def get_spark(app_name: str = "pyld_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults are tuned for the sandbox (single JVM, ``local[N]``), but every
    setting here is one that also matters on a real multi-executor cluster:
    AQE for runtime re-planning and skew-join splitting, Arrow for vectorized
    pandas UDF transfer, explicit shuffle parallelism.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 8
    if shuffle_partitions is None:
        shuffle_partitions = max(32, cpus * 2)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # rows through the pandas-UDF stages carry whole JSON-LD documents
        # (~10 KB each): small Arrow batches keep per-worker memory flat and
        # pipeline JVM<->Python transfer (measured 4x faster than 10k batches)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
    )
    # shuffle spill to ramdisk when available: on this sandbox the root disk
    # serializes concurrent shuffle IO (measured 2.4x on the assembly
    # exchange); on a real cluster this maps to NVMe-backed local dirs
    if os.path.isdir("/dev/shm"):
        shm = "/dev/shm/spark-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    return builder.getOrCreate()


def cut_lineage(df: DataFrame, eager: bool = True) -> DataFrame:
    """The one lineage-truncation policy: ``df.checkpoint`` when the
    SparkContext has a checkpoint directory (``SparkContext.setCheckpointDir``
    or ``spark.checkpoint.dir``, a deployment setting), else
    ``df.localCheckpoint``, whose blocks live in executor storage and are
    lost with the executor.

    Spark's contract for the reliable branch: a lazy (``eager=False``)
    checkpoint recomputes its input once more to write the files; the files
    are only cleaned up under ``spark.cleaner.referenceTracking.cleanCheckpoints``.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager)
    return df.localCheckpoint(eager)


def repartition_by(df: DataFrame, *cols) -> DataFrame:
    """Hash-partition ``df`` on ``cols`` to the session's shuffle width.

    The width is explicit because AQE cannot see a join's output volume: it
    would coalesce the small input of a quadratic join into one or two
    tasks. Two sides repartitioned here land co-partitioned.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)


def repartition_per_slot(df: DataFrame, *cols) -> DataFrame:
    """Hash-partition ``df`` on ``cols`` to one partition per task slot,
    the width for a grouped Python stage: each Python task has a fixed cost."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *cols)

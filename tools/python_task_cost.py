"""Fixed cost of one Python Arrow task, next to the same rows in the JVM.

Times, each into a noop sink over the same cached rows, at the two shuffle
widths ``pyld_spark.session`` decides (``defaultParallelism``, one task per
slot, and ``spark.sql.shuffle.partitions``):

  - an identity ``mapInArrow``: every batch crosses to a Python worker and
    back, so the wall is the JVM↔Python boundary and nothing else;
  - a JVM projection of the same rows.

A width of W tasks on S slots runs in ceil(W / S) waves. The cost per
Python task is the extra Python wall of the wide width over the slot width,
per extra wave.

It also times six driver-built rows (the shape of a pipeline run's lineage
rows) written to parquet, built once from a Python list and once from an
Arrow table. The list plans a pickled Python RDD, so its write starts a
Python worker task; the Arrow table plans a local relation. The difference
is the Python-worker cost of the list write.

Median of ``repeats`` timed runs per cell, after one untimed run that
starts the Python workers:

    python tools/python_task_cost.py [rows] [repeats]
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _identity(batches):
    yield from batches


def _median_wall(action, repeats: int) -> float:
    walls = []
    for _ in range(repeats + 1):
        t0 = time.perf_counter()
        action()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls[1:])


def _driver_rows(spark, repeats: int) -> dict:
    """Six driver-built rows to parquet, from a list and from Arrow."""
    import pyarrow as pa
    from pyspark.sql.types import StructType

    ddl = "run_id string, stage string, rows_out long, error_rows long, wall_ms long"
    schema = StructType.fromDDL(ddl)
    rows = [("run", f"stage-{i}", 1000 * i, i, 100 * i) for i in range(6)]
    builds = {
        "list": lambda: spark.createDataFrame(rows, ddl),
        "arrow": lambda: spark.createDataFrame(
            pa.table([pa.array(c) for c in zip(*rows)], names=schema.names), schema),
    }
    out = {"rows": len(rows)}
    with tempfile.TemporaryDirectory() as tmp:
        for label, build in builds.items():
            path = os.path.join(tmp, label)
            out[f"{label}_s"] = round(_median_wall(
                lambda: build().coalesce(1).write.mode("overwrite").parquet(path),
                repeats), 3)
    out["python_worker_s"] = round(out["list_s"] - out["arrow_s"], 3)
    return out


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 32_768
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    from pyspark.sql import functions as F

    from pyld_spark.session import get_spark

    spark = get_spark("python-task-cost")
    spark.sparkContext.setLogLevel("ERROR")
    slots = spark.sparkContext.defaultParallelism
    wide = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = spark.range(rows).select(
        F.col("id"), F.concat(F.lit("row-"), F.col("id").cast("string")).alias("s"))

    def timed(df) -> float:
        return _median_wall(lambda: df.write.format("noop").mode("overwrite").save(),
                            repeats)

    result = {"rows": rows, "repeats": repeats, "slots": slots}
    for label, width in (("slot", slots), ("wide", wide)):
        df = base.repartition(width).cache()
        df.count()
        result[label] = {
            "tasks": width,
            "waves": math.ceil(width / slots),
            "python_s": round(timed(df.mapInArrow(_identity, df.schema)), 3),
            "jvm_s": round(timed(df.select((F.col("id") + 1).alias("id"), "s")), 3),
        }
        df.unpersist()
    extra_waves = result["wide"]["waves"] - result["slot"]["waves"]
    if extra_waves:
        result["python_task_s"] = round(
            (result["wide"]["python_s"] - result["slot"]["python_s"]) / extra_waves, 3)
        result["jvm_task_s"] = round(
            (result["wide"]["jvm_s"] - result["slot"]["jvm_s"]) / extra_waves, 3)
    result["driver_rows"] = _driver_rows(spark, repeats)
    print(json.dumps(result, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()

"""Sub-stage decomposition of the canonicalize stage on the standalone
cluster, to find where its absolute throughput goes at big-corpus scale
(at the 8M-turn robustness corpus it is ~67% of pipeline wall at the
N level, though it SCALES at ~0.96 — this is a throughput probe, not a
scaling probe).

Times, each from cold parquet scan to count():
  A. fd-hash aggregation alone                (first_degree_hashes)
  B. labels (per-doc URDNA2015, no probe job) (canonical_labels)
  C. relabeled triples                        (canonicalize_triples)

A times the relational fd hashes alone, which neither B nor C plans. B and
C run the same per-document groups of ``doc_runner.map_doc_groups``; C
returns each doc's relabeled rows where B returns its label rows, so C-B is
the cost of the in-group relabel and of writing out the fat table. Run
AFTER any benchmark finishes (never concurrently):

    python tools/profile_canonicalize.py [n_convs] [turns] [cores_max]
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession  # noqa: E402


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 400000
    turns = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    cores_max = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    from pyld_spark.session import package_zip

    spark = (
        SparkSession.builder.appName(f"canon-profile-{cores_max}")
        .master("spark://127.0.0.1:7077")
        .config("spark.executor.cores", "2")
        .config("spark.executor.memory", "12g")
        .config("spark.cores.max", str(cores_max))
        .config("spark.sql.shuffle.partitions", str(max(32, cores_max * 2)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.addPyFile(package_zip())
    spark.sparkContext.setLogLevel("ERROR")

    from pyld_spark.operators.canonicalize import (
        canonical_labels,
        canonicalize_triples,
        first_degree_hashes,
    )
    from pyld_spark.operators.expand_stage import docs_to_triples, split_quarantine
    from pyld_spark.transcripts import assemble_documents

    # reuse the bench corpus if present, else synthesize a fresh one
    table = f"transcripts_bench_{n_convs}x{turns}"
    try:
        t = spark.table(table)
        assert t.limit(1).count() == 1
    except Exception:
        from pyld_spark.transcripts import synthesize_transcripts, write_bucketed_transcripts

        t = write_bucketed_transcripts(
            synthesize_transcripts(spark, n_convs=n_convs, turns_per_conv=turns),
            spark, f"/dev/shm/bench-corpus-{n_convs}x{turns}", table=table,
        )

    base = f"/dev/shm/canon-profile-{cores_max}"
    assemble_documents(t).write.mode("overwrite").parquet(base + "/docs")
    docs = spark.read.parquet(base + "/docs")
    triples, _ = split_quarantine(docs_to_triples(docs))
    triples.write.mode("overwrite").parquet(base + "/triples")
    triples = spark.read.parquet(base + "/triples")
    n = triples.count()

    def timed(name, df):
        t0 = time.perf_counter()
        c = df.count()
        w = time.perf_counter() - t0
        print(json.dumps({"stage": name, "rows": c, "wall": round(w, 3),
                          "rows_per_sec": round(c / w, 1),
                          "triples_per_sec": round(n / w, 1)}), flush=True)
        return w

    timed("A_fd_hash", first_degree_hashes(triples))
    timed("B_labels", canonical_labels(triples))
    timed("C_relabeled", canonicalize_triples(triples))
    print(json.dumps({"n_triples": n, "cores_max": cores_max}))
    spark.stop()

    import shutil

    shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()

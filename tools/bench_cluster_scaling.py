"""Scaling efficiency on a REAL multi-executor Spark standalone cluster
(4 local workers — separate executor JVMs, so none of local-mode's
single-JVM shuffle/GC contention).

Levels map directly to the north_rule's "N vs 4N executors":
  N  = 1 executor  x EXEC_CORES
  4N = 4 executors x EXEC_CORES
EXEC_CORES defaults to 2 so that even the 4N level leaves the 32-core box
undersubscribed (executor JVMs, python workers, driver and shuffle IO all
need headroom — 4x8 cores on one box measures oversubscription, not
scaling). Override with EXEC_CORES env var.

Protocol (mirrors the checkpointed pipeline, plans/pipeline.py — each stage
materializes before the next starts, which is also what isolates the
measured stage from upstream pipelining stalls):

  0. (untimed) write the synthetic corpus bucketed by conv_id — the
     production Iceberg layout; assembly then has NO exchange
  1. assemble:   bucketed transcripts → JSON-LD docs → parquet (timed)
  2. triples:    docs parquet → mapInArrow expand/toRDF → count (timed;
                 headline triples/sec)
  3. canonicalize: triples parquet → one doc_id exchange → per-doc
                 URDNA2015 relabel inside each doc's group (timed; the plan
                 is built without a probe job, so all of it is the count)

Levels are run ALTERNATING with SCALING_TRIALS trials each and best-of is
reported per level: run-to-run noise on this shared box is ±10% (measured on
the raw no-Spark kernel too), and the best-of pair is the least-contaminated
estimate of each level's true throughput.

Start the cluster first (tools/standalone_cluster.sh start), then:
    python tools/bench_cluster_scaling.py [n_convs] [turns]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, shutil, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from pyld_spark.session import package_zip

cores_max = {cores_max}
spark = (
    SparkSession.builder.appName(f"cluster-scaling-{{cores_max}}")
    .master("spark://127.0.0.1:7077")
    .config("spark.executor.cores", str({exec_cores}))
    .config("spark.executor.memory", "12g")
    .config("spark.cores.max", str(cores_max))
    .config("spark.sql.shuffle.partitions", str(max(32, cores_max * 2)))
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
    .config("spark.local.dir", "/dev/shm/spark-local")
    # a trial that silently runs with fewer than cores.max/exec_cores
    # executors measures cluster-manager luck, not scaling: block until
    # EVERY executor is registered before any job runs
    .config("spark.scheduler.minRegisteredResourcesRatio", "1.0")
    .config("spark.scheduler.maxRegisteredResourcesWaitingTime", "120s")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
spark.sparkContext.addPyFile(package_zip())
spark.sparkContext.setLogLevel("ERROR")

from pyld_spark.transcripts import (
    assemble_documents, synthesize_transcripts, write_bucketed_transcripts,
)
from pyld_spark.operators.expand_stage import docs_to_triples, split_quarantine
from pyld_spark.operators.canonicalize import canonicalize_triples

base = "/dev/shm/bench-{cores_max}"
shutil.rmtree(base, ignore_errors=True)

# untimed: production table layout (bucketed by conv key at write time).
# The corpus is deterministic in (n_convs, turns), so trials REUSE one
# shared bucketed table — at the 8M-turn robustness corpus, re-synthesizing
# per child would dominate wall-clock without informing the timed stages.
corpus_table = "transcripts_bench_{n_convs}x{turns}"
corpus_path = "/dev/shm/bench-corpus-{n_convs}x{turns}"
try:
    # table name encodes the synth params; any non-empty instance is THE
    # deterministic corpus (turns_per_conv is an average — no exact count)
    t = spark.table(corpus_table)
    n_turns = t.count()
    assert n_turns > 0
except Exception:
    import os
    if os.path.exists(corpus_path + "/_SUCCESS"):
        # a previous child already wrote the corpus; the in-memory catalog
        # forgot it, so re-register the existing bucketed files via DDL
        # (generator is deterministic -> any complete instance is THE corpus)
        spark.sql(f'''
            CREATE TABLE {{corpus_table}} (
                conv_id STRING, turn_idx INT, role STRING,
                text STRING, tool STRING, ts TIMESTAMP)
            USING parquet
            CLUSTERED BY (conv_id) SORTED BY (conv_id, turn_idx)
            INTO 64 BUCKETS
            LOCATION "{{corpus_path}}"
        ''')
        t = spark.table(corpus_table)
        n_turns = t.count()
    else:
        t = write_bucketed_transcripts(
            synthesize_transcripts(spark, n_convs={n_convs}, turns_per_conv={turns}),
            spark, corpus_path, table=corpus_table,
        )
        n_turns = t.count()

# warm-up: executor + python-worker spin-up off the clock
warm_docs = assemble_documents(t).limit(1000).cache()
warm = split_quarantine(docs_to_triples(warm_docs))[0].cache()
warm.count()
canonicalize_triples(warm).count()
warm.unpersist(); warm_docs.unpersist()

fused = {fused}
if fused:
    # fused shape (SCALING_FUSED=1), built here from the operators, not by
    # Pipeline: assembly runs INSIDE the triples stage off the bucketed
    # scan — no docs materialization, one stage, still exchange-free.
    # t_asm = 0 and t_triples carries the whole docs->triples path.
    t_asm = 0.0
    t0 = time.perf_counter()
    triples, _ = split_quarantine(docs_to_triples(assemble_documents(t)))
    triples.write.mode("overwrite").parquet(base + "/triples")
    t_triples = time.perf_counter() - t0
else:
    t0 = time.perf_counter()
    assemble_documents(t).write.mode("overwrite").parquet(base + "/docs")
    t_asm = time.perf_counter() - t0

    # SMALL read splits for the docs->triples stage ONLY: default 128m/4m
    # packing coalesces the ~64 small docs files into ~9 splits, quantizing the
    # 4N level to task waves (9 tasks / 8 cores = 2 waves, one mostly idle).
    # Scoped per-stage because globally small splits blow up the canonicalize
    # shuffle's map-side count (mappers x reducers fetch segments), which taxes
    # exactly the multi-executor level (at N every shuffle read is local).
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8m")
    spark.conf.set("spark.sql.files.openCostInBytes", "1m")
    docs = spark.read.parquet(base + "/docs")

    # checkpointed like plans/pipeline.py: the stage output is a parquet
    # materialization (executor-memory .cache() of the fat triples table
    # competes with the Python kernel for task cores and skews the levels)
    t0 = time.perf_counter()
    triples, _ = split_quarantine(docs_to_triples(docs))
    triples.write.mode("overwrite").parquet(base + "/triples")
    t_triples = time.perf_counter() - t0
spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
spark.conf.set("spark.sql.files.openCostInBytes", "4194304")
triples = spark.read.parquet(base + "/triples")
n_triples = triples.count()

t0 = time.perf_counter()
n_canon = canonicalize_triples(triples).count()
t_canon = time.perf_counter() - t0

t_total = t_asm + t_triples + t_canon
n_execs = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size() - 1
print("RESULT " + json.dumps({{
    "cores_max": cores_max, "executors_live": n_execs,
    "executors": cores_max // {exec_cores},
    "n_turns": n_turns, "n_triples": n_triples,
    "wall_assemble": round(t_asm, 3), "wall_triples": round(t_triples, 3),
    "wall_canonicalize": round(t_canon, 3), "wall_total": round(t_total, 3),
    "triples_per_sec": round(n_triples / t_triples, 1),
    "pipeline_triples_per_sec": round(n_triples / t_total, 1),
}}))
spark.stop()
shutil.rmtree(base, ignore_errors=True)
"""


def run_level(cores_max: int, n_convs: int, turns: int, exec_cores: int) -> dict:
    """One level in a child process. A py4j gateway stall (observed once:
    python driver blocked on the gateway socket while the JVM gateway idles,
    AFTER all executor tasks of the stage finished) would otherwise hang a
    whole run — so each level gets a hard timeout (LEVEL_TIMEOUT env,
    default 1800 s, far above any legitimate wall) and ONE retry."""
    code = _CHILD.format(repo=REPO, cores_max=cores_max, n_convs=n_convs,
                         turns=turns, exec_cores=exec_cores,
                         fused=os.environ.get("SCALING_FUSED", "") == "1")
    level_timeout = int(os.environ.get("LEVEL_TIMEOUT", "1800"))
    last_err = None
    for attempt in range(2):
        try:
            out = subprocess.run(
                [sys.executable, "-c", code], capture_output=True, text=True,
                timeout=level_timeout,
            )
        except subprocess.TimeoutExpired as e:
            last_err = f"level timed out after {level_timeout}s (attempt {attempt})"
            print(f"WARN {last_err}; retrying" if attempt == 0 else
                  f"WARN {last_err}", file=sys.stderr, flush=True)
            continue
        for line in out.stdout.splitlines():
            if line.startswith("RESULT "):
                return json.loads(line[len("RESULT "):])
        last_err = (f"no RESULT (cores_max={cores_max}):\n"
                    f"{out.stdout[-1500:]}\n{out.stderr[-1500:]}")
    raise RuntimeError(last_err)


def main() -> None:
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 100000
    turns = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    trials = int(os.environ.get("SCALING_TRIALS", "3"))
    exec_cores = int(os.environ.get("EXEC_CORES", "2"))
    levels = (exec_cores, exec_cores * 4)
    # best-of per METRIC, not per run: the run with the best triples stage is
    # not necessarily the run with the best total wall (box noise is ±10%),
    # and each efficiency ratio should compare each level's least-
    # contaminated estimate of that metric. MEDIAN-of-trials is reported
    # alongside (round-3 verdict item 2): at stage walls ≥60 s the median is
    # the robustness claim, best-of the noise-floor claim.
    all_runs: dict[int, list[dict]] = {c: [] for c in levels}
    for i in range(trials):
        for cores in levels:  # alternate levels so drift hits both equally
            r = run_level(cores, n_convs, turns, exec_cores)
            print(json.dumps({"trial": i, **r}), flush=True)
            all_runs[cores].append(r)

    def med(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

    lo, hi = levels
    best_triples = {c: max(r["triples_per_sec"] for r in all_runs[c]) for c in levels}
    best_total = {c: max(r["pipeline_triples_per_sec"] for r in all_runs[c]) for c in levels}
    med_triples = {c: med([r["triples_per_sec"] for r in all_runs[c]]) for c in levels}
    med_total = {c: med([r["pipeline_triples_per_sec"] for r in all_runs[c]]) for c in levels}
    eff = {
        "triples_stage": round(best_triples[hi] / best_triples[lo] / 4.0, 3),
        "full_pipeline": round(best_total[hi] / best_total[lo] / 4.0, 3),
        "triples_stage_median": round(med_triples[hi] / med_triples[lo] / 4.0, 3),
        "full_pipeline_median": round(med_total[hi] / med_total[lo] / 4.0, 3),
    }
    print(json.dumps({
        "mode": f"standalone 1 vs 4 executors ({exec_cores} cores each)"
                + (" fused-assembly" if os.environ.get("SCALING_FUSED", "") == "1" else ""),
        "trials": trials,
        "scaling_efficiency": eff,
        "throughput": {
            "best_triples": {str(k): v for k, v in best_triples.items()},
            "median_triples": {str(k): v for k, v in med_triples.items()},
            "best_pipeline": {str(k): v for k, v in best_total.items()},
            "median_pipeline": {str(k): v for k, v in med_total.items()},
        },
        "wall_seconds_all": {
            str(c): [
                {"triples": r["wall_triples"], "total": r["wall_total"]}
                for r in all_runs[c]
            ] for c in levels
        },
    }))


if __name__ == "__main__":
    main()

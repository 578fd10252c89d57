#!/usr/bin/env python3
"""sparkld benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload transcript_pipeline --seed 1 \
        --seconds 12 --trace 0

Run from the repository root. The run

1. pins one Spark driver on ``local[nproc]`` (console progress off, a driver
   heap that fits the box, spill and every scratch file under
   ``.perfbench_run/`` in the checkout, the event log on);
2. generates the workload's inputs from ``--seed`` (``gen.py``) and reads
   their expected outputs from ``EXPECTED.json`` (written by ``oracle.py``);
3. sets up: session start, input generation and one untimed warm-up pass,
   which together are ``setup_s``;
4. repeats the timed pass inside a window of ``--seconds`` (at least once;
   a pass starts only if it should end inside the window), checking every
   pass's written output against the expected digests;
5. prints a table of every metric and, as the last stdout line, one JSON
   object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 1`` makes a separate traced run instead: a traced pass between two
untraced ones (``trace.overhead_s`` is traced − median untraced, marked
unresolved when smaller than the untraced spread), then the benchmark's
own calls into each layer under spans, then Spark's accounting from the
event log. It prints the per-layer metrics and runs the route and plant
checks. The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
DRIVER_HEAP = "2g"


def other_spark_jvms() -> list[int]:
    """Spark JVMs already running on the box (they skew every timing)."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            found.append(int(pid))
    return found


def pin_session_environment(nproc: int) -> None:
    """Session settings that must be in place before the JVM starts."""
    for sub in ("local", "tmp", "eventlog", "work", "input"):
        os.makedirs(os.path.join(RUN_DIR, sub), exist_ok=True)
    tmp = os.path.join(RUN_DIR, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    # shuffle and spill stay in the checkout, which the benchmark may not
    # leave; get_spark alone would put them on /dev/shm
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(RUN_DIR, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["TMPDIR"] = tmp
    # workers import the package from the checkout even if the zip that
    # ensure_workers_can_import ships cannot be written
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.join(RUN_DIR, "eventlog"),
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
        "spark.sql.warehouse.dir": os.path.join(RUN_DIR, "warehouse"),
        # a fixed heap: peak RSS then reads the same on every run, but sees
        # only non-heap and Python-worker memory (see README, Limits)
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def peak_rss_mb() -> dict[str, float]:
    """Peak resident memory (VmHWM) of the driver JVM and its Python workers
    (every process below this one), by command name."""
    def children(pid: int) -> list[int]:
        out = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    out += [int(c) for c in fh.read().split()]
        except OSError:
            pass
        return out

    by_name: dict[str, float] = {}
    todo = children(os.getpid())
    while todo:
        pid = todo.pop()
        todo += children(pid)
        try:
            with open(f"/proc/{pid}/status") as fh:
                status = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            name = status["Name"].strip()
            by_name[name] = by_name.get(name, 0.0) + int(status["VmHWM"].split()[0]) / 1024.0
    return by_name


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def print_table(metrics: dict, counts: dict, spec: dict, reasons: dict) -> None:
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    print(f"# {'metric':36s} {'value':>16s} {'unit':>6s} {'n':>3s} {'bound':>6s}")
    for name, m in metrics.items():
        b = bounds.get(name)
        line = (f"# {name:36s} {m['value']:16.6g} {m['unit']:>6s} "
                f"{counts.get(name, 1):3d} {b if b is not None else '-':>6}")
        if name in reasons:
            line += f"  ({reasons[name]})"
        print(line)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "pyld_spark")):
        print("error: run from the repository root (no pyld_spark/ here)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = load_spec()
    nproc = len(os.sched_getaffinity(0))
    busy = other_spark_jvms()
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    pin_session_environment(nproc)

    # -- set-up: session, inputs, expected outputs, warm-up -------------------
    t_setup, session_start = time.perf_counter(), time.time()
    from pyld_spark.session import ensure_workers_can_import, get_spark

    spark = get_spark("perfbench", cpus=nproc)
    ensure_workers_can_import(spark)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup

    from spans import EventLog, Tracer

    tracer = Tracer(spark.sparkContext, enabled=False)
    w = workloads.WORKLOADS[args.workload](spark, RUN_DIR, args.seed, tracer)
    w.generate()
    t_oracle = time.perf_counter()
    w.expect()  # reading (or, for an unlisted seed, computing) them is not set-up
    oracle_s = time.perf_counter() - t_oracle
    correct = not w.mismatches
    wd = w.run_once("warmup")
    setup_s = time.perf_counter() - t_setup - oracle_s
    correct &= w.check(wd)
    workloads.clean(wd)

    attempted = failed = 0
    walls: list[float] = []

    def timed_pass(tag: str, span: str | None = None) -> None:
        nonlocal attempted, failed
        attempted += 1
        try:
            with tracer.span(span) if span else contextlib.nullcontext():
                t0 = time.perf_counter()
                out = w.run_once(tag)
                wall = time.perf_counter() - t0
            if w.check(out):
                walls.append(wall)
            else:
                failed += 1
            workloads.clean(out)
        except Exception:  # noqa: BLE001 — a raised pass is a failed operation
            traceback.print_exc()
            failed += 1

    metrics: dict = {}
    counts: dict = {}
    reasons: dict = {}
    if args.trace == 0:
        # a pass starts only if it should end inside the window, so the
        # number of passes does not flip between runs with the host's load
        # (the first timed passes are still warming up, and each is faster)
        t_run = time.perf_counter()
        while True:
            t_pass = time.perf_counter()
            timed_pass(f"it{attempted}")
            now = time.perf_counter()
            if now - t_run + (now - t_pass) > args.seconds:
                break
        wall = statistics.median(walls) if walls else 0.0
        rate = 1.0 / wall if walls else 0.0
        rss = peak_rss_mb()
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": wall, "unit": "s"},
            "triples_per_s": {"value": w.triples_out * rate, "unit": "1/s"},
            "rows_per_s": {"value": w.input_rows * rate, "unit": "1/s"},
            "peak_rss_mb": {"value": sum(rss.values()), "unit": "MB"},
        }
        print("# timed pass walls (s): " + ", ".join(f"{x:.3f}" for x in walls))
        print("# peak rss by process (MB): "
              + ", ".join(f"{k} {v:.0f}" for k, v in sorted(rss.items())))
        counts = {k: len(walls) for k in ("wall_s", "triples_per_s", "rows_per_s")}
        stop_spark(spark)
    else:
        tracer.add("session", session_start, session_start + session_s, None)
        m: dict = {"session.start_s": session_s}
        timed_pass("untraced")
        tracer.enabled = True
        n_before = len(walls)
        t0 = time.time()
        timed_pass("traced", span="iteration")
        traced = walls[-1] if len(walls) > n_before else 0.0
        if w.name == "transcript_pipeline":
            pipeline_stage_spans(w.lineage, tracer, m, t0, traced)
        # untraced passes on both sides of the traced one, so warm-up drift
        # does not read as tracing cost
        tracer.enabled = False
        timed_pass("untraced2")
        tracer.enabled = True
        untraced = walls[:n_before] + walls[n_before + 1:] or [0.0]
        m["trace.overhead_s"] = overhead = traced - statistics.median(untraced)
        spread = max(untraced) - min(untraced)
        w.layers(m)
        correct &= not w.mismatches
        app_id = spark.sparkContext.applicationId
        stop_spark(spark)
        log = EventLog(os.path.join(RUN_DIR, "eventlog"), app_id)
        layer_metrics(w, tracer, log, m)
        checks = route_and_plant_checks(w, m)
        for c in checks:
            print(f"# check {c}")
        correct &= all(c.startswith("ok") for c in checks)
        metrics, reasons = per_layer(spec, m, w)
        if abs(overhead) < spread:
            reasons["trace.overhead_s"] = (f"unresolved: smaller than the {spread:.3f} s "
                                           "spread of the untraced passes")
        tracer.write(os.path.join(RUN_DIR, f"trace-{w.name}-{args.seed}.json"))

    if busy:
        print(f"# note: another Spark JVM was running when the benchmark started "
              f"(pids {busy}); timings may be skewed")
    for msg in w.notes:
        print(f"# note: {msg}")
    for msg in w.mismatches:
        print(f"# mismatch {msg}")
    print(f"# workload {w.name} seed {args.seed} nproc {nproc} heap {DRIVER_HEAP} "
          f"oracle_s {oracle_s:.3f}")
    print_table(metrics, counts, spec, reasons)
    workloads.clean(os.path.join(RUN_DIR, "work"))
    workloads.clean(os.path.join(RUN_DIR, "local"))
    correct = bool(correct) and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def pipeline_stage_spans(rows: dict, tracer, m: dict, t0: float, wall: float) -> None:
    """Stage spans of the traced Pipeline.run, from the lineage table it
    wrote: each stage's wall, laid end to end under the iteration span."""
    start = t0
    for stage in ("assemble", "link", "triples", "canonicalize", "entities", "materialize"):
        ms = rows.get(stage, 0)
        m[f"pipeline.{stage}_ms"] = ms
        tracer.add(f"pipeline.{stage}", start, start + ms / 1000.0, "iteration")
        start += ms / 1000.0
    m["pipeline.untracked_s"] = wall - sum(rows.values()) / 1000.0


def layer_metrics(w, tracer, log, m: dict) -> None:
    """Span walls and event-log accounting for each layer."""
    def fill(prefix: str, group: str, keys):
        t = log.totals(group)
        for k in keys:
            m[f"{prefix}.{k}"] = t.get(k, 0.0)

    if w.name == "transcript_pipeline":
        m["transcripts.assemble_s"] = tracer.seconds("transcripts")
        m["transcripts.exchanges"] = log.exchanges("transcripts")
        fill("transcripts", "transcripts", ["shuffle_write_bytes"])
        m["linking.link_s"] = tracer.seconds("linking")
        t = log.totals("iteration")
        m["pipeline.bytes_read_per_byte_appended"] = (
            t.get("input_bytes", 0.0) / max(t.get("output_bytes", 0.0), 1.0))
    if w.name in ("transcript_pipeline", "mixed_jsonld"):
        m["expand_stage.triples_s"] = tracer.seconds("expand_stage")
        fill("expand_stage", "expand_stage", ["python_bytes_sent", "python_bytes_received",
                                              "max_task_s", "median_task_s"])
        m["canonicalize.wall_s"] = tracer.seconds("canonicalize")
        m["canonicalize.exchanges"] = log.exchanges("canonicalize")
        fill("canonicalize", "canonicalize", ["shuffle_write_bytes", "spill_bytes",
                                              "max_task_s", "median_task_s"])
    if w.name == "mixed_jsonld":
        secs = w.timer.secs
        for k in ("context", "expand", "to_rdf", "canon"):
            m[f"jsonld.{k}_s"] = secs[k]
        busy = sum(secs.values()) or 1.0
        m["jsonld.docs_per_s"] = w.timer.docs / busy
        m["jsonld.quads_per_s"] = w.timer.quads / busy
    if "dedup.ngram_pairs_out" in m:
        m["dedup.ngram_candidates"] = log.max_join_rows("dedup.ngram_jaccard", "sh")
    # the whole traced pass, every layer together
    fill("spark", "iteration", ["jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s"])


def route_and_plant_checks(w, m: dict) -> list[str]:
    out = []

    def check(label: str, ok: bool, detail: str):
        out.append(f"{'ok' if ok else 'FAILED'} {label}: {detail}")

    if w.name == "transcript_pipeline":
        sent, recv = m["expand_stage.python_bytes_sent"], m["expand_stage.python_bytes_received"]
        check("compiled route", sent == 0 and recv == 0,
              f"python bytes sent {sent:.0f}, received {recv:.0f} (want 0)")
    if w.name == "mixed_jsonld":
        sent, recv = m["expand_stage.python_bytes_sent"], m["expand_stage.python_bytes_received"]
        check("kernel route", sent > 0 and recv > 0,
              f"python bytes sent {sent:.0f}, received {recv:.0f} (want > 0)")
        q, want_q = m["expand_stage.quarantine_out"], len(w.planted["quarantine"])
        check("planted invalid docs", q == want_q, f"quarantine_out {q} (planted {want_q})")
        f, want_f = m["canonicalize.fallback_docs"], w.planted["automorphic_docs"]
        check("planted automorphic docs", f == want_f, f"fallback_docs {f} (planted {want_f})")
    if "dedup.ngram_candidates" in m:
        c = m["dedup.ngram_candidates"]
        check("ngram candidates", c == w.candidates,
              f"{c} (sum over shingles of df*(df-1)/2 from the input: {w.candidates})")
    return out


def per_layer(spec: dict, m: dict, w) -> tuple[dict, dict]:
    """Every per-layer metric of BENCHMARK.json; a layer this workload does
    not call reads 0, with the reason."""
    metrics, reasons = {}, {}
    for item in spec["per_layer"]:
        name = item["name"]
        if name in m:
            metrics[name] = {"value": float(m[name]), "unit": item["unit"]}
        else:
            metrics[name] = {"value": 0.0, "unit": item["unit"]}
            reasons[name] = f"idle: {w.name} makes no call into this layer"
    return metrics, reasons


if __name__ == "__main__":
    sys.exit(main())

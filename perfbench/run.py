"""htmlx benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload web_pages --seed 1 --seconds 6 --trace 0

Run from the repository root. The workload runs from this one driver process
on ``local[nproc]``; its session comes from ``htmlx.spark.session.get_spark``.
The load is a closed loop with one client: one pass at a time, back to back.

A run starts the JVM and its session once, the cold start a spark-submit
job pays, and reports it as ``setup_s``; generating the seeded input is
timed apart (``input.gen_s``), as it is the benchmark's code, not the
engine's. It then runs one cold pass, the workload's warm-up passes (the JVM still compiles and pass times
fall) and measured passes until ``--seconds`` have passed and at least the
workload's minimum of measured passes is done, and checks the outputs.

``--trace 1`` adds a traced phase after the untraced one: the session is
restarted with Spark's event log on, one untimed pass refills the Python
workers, then ``TRACED_PASSES`` passes run with spans around the public calls
and every job tagged with its span. The per-layer metrics come from the spans,
the event log and a single-process traced pass of ``htmlx.core`` over a
sample of the same pages. The session then restarts once more without the
event log, and after another refill pass ``TRACED_PASSES`` untraced control
passes run; ``trace.overhead_frac`` compares the traced passes with them, as
both come after the same number of passes in the same JVM. The record says
whether each workload stressed the layer it is meant to (``STRESS``).

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``; a
record with the run's stamps (nproc, loadavg, sf, seed), pass times and check
details goes to stderr. Everything the run writes stays under
``.perfbench_work/`` in the repository root and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import procfs  # noqa: E402
from spans import NullTracer, Tracer, core_metrics, read_event_log, trace_core, wrap_core  # noqa: E402
from workloads import WORKLOADS, clear_state  # noqa: E402  (needs htmlx: fails outside the repo)

from pyspark import SparkContext  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from htmlx.spark.session import get_spark  # noqa: E402

TRACED_PASSES = 2
# what each workload is meant to stress, as (metric, lowest, highest):
# htmlx.core most of the CPU, io a large share of the wall, and on curate
# no core work and no data sent to Python workers
STRESS = {
    "web_pages": [("core.share_of_pass_cpu", 0.5, None)],
    "crawl_resume": [("io.share_of_pass_wall", 0.3, None)],
    "curate": [("core.total.us_per_doc", None, 0.0), ("job.arrow_to_python_mb", None, 0.0)],
}


def _configure_env(work: str, event_log: str) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``, and let the workers import the repository's packages."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.makedirs(event_log, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    # every JVM, the launcher's too, would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"--conf spark.eventLog.dir=file://{event_log}",
        "--conf spark.eventLog.compress=false",
        "--conf spark.eventLog.rolling.enabled=false",
        "pyspark-shell",
    ])


def _stop() -> None:
    """Stop the active session, keeping its JVM."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def _start(nproc: int, event_log: bool = False):
    """A fresh session from the engine's ``get_spark`` in the running JVM,
    if there is one."""
    if SparkContext._jvm is not None:
        # the next SparkContext reads this from the JVM's system properties
        SparkContext._jvm.java.lang.System.setProperty("spark.eventLog.enabled", str(event_log).lower())
    spark = get_spark(cores=nproc)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown() -> None:
    """Stop the SparkContext and the JVM it runs in, and wait for both."""
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _pass(wl, spark, tracer, verify: bool) -> tuple[float, float, int]:
    """One pass: (wall s, process-tree CPU s, persisted RDDs it left).
    Cached frames and RDDs are dropped after it, so every pass does the
    same work."""
    wl.before_pass()
    cpu0 = procfs.cpu_s()
    t0 = time.perf_counter()
    with tracer.span("pass"):
        wl.run_pass(spark, tracer, verify)
    wall = time.perf_counter() - t0
    cpu = procfs.cpu_s() - cpu0
    return wall, cpu, clear_state(spark)


def measure(wl, args, nproc: int, work: str, event_log: str) -> dict:
    t0 = time.perf_counter()
    spark = _start(nproc)  # launches the JVM
    start_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    info = wl.setup(args.seed, nproc, os.path.join(work, "input"))
    gen_s = time.perf_counter() - t0
    docs = info["docs"]

    rec = {"passes": [], "cpu_s": [], "persisted_left": [], "session_start_s": start_s,
           "input_gen_s": gen_s, "input": info}
    skip = 1 + wl.warmup  # the cold pass and the warm-up passes
    while True:
        wall, cpu, left = _pass(wl, spark, NullTracer(), verify=not rec["passes"])
        rec["passes"].append(wall)
        rec["cpu_s"].append(cpu)
        rec["persisted_left"].append(left)
        if len(rec["passes"]) == skip:
            t_start = time.perf_counter()
        if len(rec["passes"]) >= skip + wl.min_passes and time.perf_counter() - t_start >= args.seconds:
            break
    rec["peak_rss_mb"] = procfs.peak_rss() / 1e6
    attempted, failed, rec["check"] = wl.check(spark)

    walls, cpus = rec["passes"][skip:], rec["cpu_s"][skip:]
    p50 = statistics.median(walls)
    metrics = {
        "setup_s": start_s,
        "first_pass_s": rec["passes"][0],
        "pass_s_p50": p50,
        "docs_per_s": docs / p50,
        "cpu_ms_per_doc": sum(cpus) / (docs * len(cpus)) * 1e3,
    }
    rec["failed_frac"] = failed / attempted
    if args.trace:
        metrics = trace_layers(wl, nproc, rec, event_log)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "record": rec}


def trace_layers(wl, nproc, rec, event_log) -> dict:
    _stop()
    spark = _start(nproc, event_log=True)
    wl_tracer = Tracer(spark.sparkContext)
    driver_core = Tracer()  # htmlx.core work done in this driver process
    _pass(wl, spark, NullTracer(), verify=False)  # refill the Python workers
    undo = wl.hooks(wl_tracer) + wrap_core(driver_core)
    traced = []
    try:
        for _ in range(TRACED_PASSES):
            traced.append(_pass(wl, spark, wl_tracer, verify=False))
    finally:
        for u in undo:
            u()
    out_files, out_bytes = wl.output_stats()
    extract_s = []
    if wl.extract_only:
        for _ in range(TRACED_PASSES):
            t0 = time.perf_counter()
            wl.extract_only(spark, wl_tracer)
            extract_s.append(time.perf_counter() - t0)
            clear_state(spark)
    _stop()  # flushes and closes the event log
    events = read_event_log(event_log)

    spark = _start(nproc)
    _pass(wl, spark, NullTracer(), verify=False)
    control = [_pass(wl, spark, NullTracer(), verify=False)[0] for _ in range(TRACED_PASSES)]
    pages = wl.core_pages()
    if pages:
        core = trace_core(Tracer(), pages)
    else:
        # nothing to extract: report what the driver's core wrappers saw
        core = core_metrics(driver_core, rec["input"]["docs"] * TRACED_PASSES)
        core["core.dom.nodes_per_doc"] = 0.0

    info, docs = rec["input"], rec["input"]["docs"]
    skip = 1 + wl.warmup
    n = len(traced)
    pass_s = statistics.median(w for w, _, _ in traced)
    span = {k: v / n for k, v in wl_tracer.wall.items()}
    m = {
        "session.start_s": rec["session_start_s"],
        "input.gen_s": rec["input_gen_s"],
        "input.docs": docs,
        "input.html_mb": info["html_mb"],
        # the JVM heap grows with GC timing, too unsteady for an end-to-end bound
        "proc.peak_rss_mb": rec["peak_rss_mb"],
        "trace.overhead_frac": pass_s / statistics.median(control) - 1,
    }
    m.update((k, v) for k, v in core.items() if k != "core.errors")
    core_s = m["core.total.us_per_doc"] * docs / 1e6
    untraced_cpu = statistics.median(rec["cpu_s"][skip:])
    m["core.share_of_pass_cpu"] = core_s / untraced_cpu

    # every job launched inside a traced pass: all spans but the untagged
    # ones and the extraction-only baseline
    job = {}
    for v in (v for k, v in events.items() if k != "-" and not k.startswith("baseline.")):
        for key, val in v.items():
            job[key] = job.get(key, 0.0) + val / n
    for key in ("tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
                "shuffle_write_mb", "arrow_to_python_mb", "arrow_from_python_mb"):
        m[f"job.{key}"] = job.get(key, 0.0)
    m["job.non_core_s"] = pass_s - core_s / nproc
    m["job.extract_noop_s"] = statistics.median(extract_s) if extract_s else 0.0

    io = {k: span.get(f"io.{k}", 0.0)
          for k in ("append_results", "derive_metrics", "derive_audit", "committed_groups")}
    # the results write is the action that runs the extraction: take out
    # what the same extraction costs to a noop sink
    io["append_results"] -= m["job.extract_noop_s"]
    for k, v in io.items():
        m[f"io.{k}_s"] = v
    m["io.share_of_pass_wall"] = sum(io.values()) / pass_s
    m["io.bytes_written_per_input_byte"] = out_bytes / (info["html_mb"] * 1e6) if out_bytes else 0.0
    m["io.files_written"] = out_files

    for row in WORKLOADS["curate"].rows:
        q = f"query.{row}"
        ev = {k: v for k, v in events.items() if k.startswith(q + ".")}
        m[f"{q}.build_s"] = span.get(f"{q}.build", 0.0)
        m[f"{q}.plan_s"] = span.get(f"{q}.plan", 0.0)
        m[f"{q}.exec_s"] = span.get(f"{q}.exec", 0.0)
        m[f"{q}.build_jobs"] = ev.get(f"{q}.build", {}).get("jobs", 0.0) / n
        m[f"{q}.shuffle_write_mb"] = sum(v.get("shuffle_write_mb", 0.0) for v in ev.values()) / n
        m[f"{q}.spill_mb"] = sum(v.get("spill_mb", 0.0) for v in ev.values()) / n
        m[f"{q}.persisted_rdds_left"] = wl.persisted_left.get(row, 0)
    rec["traced_passes"] = traced
    rec["control_passes"] = control
    rec["extract_noop_s"] = extract_s
    rec["core_errors"] = core.get("core.errors", 0)
    rec["driver_core_s"] = sum(driver_core.self_time.values())
    rec["stress"] = {
        name: {"value": m[name], "holds": (lo is None or m[name] > lo) and (hi is None or m[name] <= hi)}
        for name, lo, hi in STRESS[wl.name]
    }
    return m


def _declared(trace: int) -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them for the
    untraced (end-to-end) or traced (per-layer) run."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_all(args) -> int:
    """Each workload in its own process, one after another; prints every
    metric by name with its unit, then one combined result line."""
    import subprocess

    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=True,
        ).stdout.strip().splitlines()[-1]
        res = json.loads(out)
        print(f"{name}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} failed_frac={res['failed'] / res['attempted']:g}")
        for k, v in res["metrics"].items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
            total["metrics"][f"{name}.{k}"] = v
        total["correct"] &= res["correct"]
        total["attempted"] += res["attempted"]
        total["failed"] += res["failed"]
    print(json.dumps(total))
    return 0 if total["correct"] else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="web_pages, crawl_resume, curate or all")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)

    nproc = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    event_log = os.path.join(work, "eventlog")
    _configure_env(work, event_log)
    try:
        wl = WORKLOADS[args.workload]()
        result = measure(wl, args, nproc, work, event_log)
    finally:
        _shutdown()
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)

    record = result.pop("record")
    record.update(workload=args.workload, seed=args.seed, nproc=nproc,
                  loadavg=procfs.loadavg(), sf=record["input"]["sf"], trace=args.trace)
    print(json.dumps(record), file=sys.stderr)
    units = _declared(args.trace)
    if set(units) != set(result["metrics"]):
        raise SystemExit(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(result['metrics']))}")
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": u} for k, u in units.items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

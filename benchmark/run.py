"""Benchmark of the nightly pipelines: one workload, one seed, one run.

    python3 benchmark/run.py --workload <nightly|corpus_dedup>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The inputs are generated from the seed in
a separate process and written to disk before any clock starts. Then, in
this process: start the Spark session, prepare program-side state, run
one cold pass (together: ``setup_s``), then measure passes for
``--seconds`` (at least one). Every pass is checked against the
generator's planted truth; a wrong result or an exception prints no
metrics and exits 1.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` measured passes alternate between
traced and untraced, and the metrics are the per-layer ones plus the
tracing overhead. The line before it summarises the samples.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from tracing import NullTracer, Tracer, held_memory_mb, python_hwm_mb

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH_DIR)

#: measured passes per run, at least; with tracing on, at least this
#: many traced and this many untraced ones. Passes are measured until
#: ``--seconds`` have passed. The cold pass is the only one discarded:
#: 48 runs of the two workloads must fit in 3 420 s, and the spread
#: between runs comes from the host drifting, not from the passes of
#: one run
MIN_PASSES = 1
#: the driver heap's initial size. The maximum stays the program's own
#: ``spark.driver.memory`` default; a heap that starts at its working
#: size does not resize between passes, which steadies pass times
INITIAL_HEAP = "2g"

#: span name → per-layer metric (seconds summed over a pass)
SPAN_METRICS = {
    "etl.extract": "catalog.list_s",  # less the csv.open spans inside it
    "csv.open": "csv.open_s",
    "plans.build": "plans.build_s",
    "plans.transform": "plans.transform_s",
    "writers.write": "writers.write_s",
    "audit.authlog": "audit.authlog_s",
    "versioned.merge": "versioned.merge_s",
    "versioned.read": "versioned.read_s",
    "versioned.vacuum": "versioned.vacuum_s",
    "dedup.exact": "dedup.exact_s",
    "dedup.minhash": "dedup.minhash_s",
    "dedup.clusters": "dedup.clusters_s",
}
#: every per-layer metric and its unit; a layer a workload does not
#: exercise reads 0
PER_LAYER = {
    "session.start_s": "s",
    **{m: "s" for m in SPAN_METRICS.values()},
    "writers.output_bytes": "bytes",
    "audit.log_rows": "count",
    "versioned.files_written": "count",
    "versioned.bytes_written": "bytes",
    "versioned.write_amp": "ratio",
    "versioned.lookup_files": "count",
    "versioned.lookup_ms_p50": "ms",
    "dedup.pairs": "count",
    "dedup.cc_jobs": "count",
    "caching.leaked_rdds": "count",
    "mem.heap_held_mb": "MB",
    "mem.nonheap_mb": "MB",
    "mem.python_hwm_mb": "MB",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.core_util": "ratio",
    "spark.input_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "jvm.gc_s": "s",
    "jvm.cpu_s": "s",
    "trace.rows_per_s_traced": "rows/s",
    "trace.rows_per_s_untraced": "rows/s",
    "trace.overhead_pct": "%",
}


class WrongOutput(Exception):
    pass


def _spark_conf(work: str) -> dict[str, str]:
    """Keep every file the JVM writes inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the short-lived JVM that spark-submit starts to build the command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{INITIAL_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
    }


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    """Runs passes and keeps the operation counts and traced results."""

    def __init__(self, spark, workload, tracer, cores: int):
        self.spark = spark
        self.wl = workload
        self.tracer = tracer
        self.cores = cores
        self.attempted = 0
        self.failed = 0
        self.traced_passes: list[tuple[int, float, dict]] = []
        self.leaked: list[int] = []
        self.dirty = False

    def one_pass(self, traced: bool) -> tuple[float, dict]:
        """Restore the start state, then run, time and check one pass.
        The state the pass leaves is checked by ``check_state``."""
        if self.dirty:
            self.wl.reset()
        self.dirty = True
        tracer = self.tracer if traced else NullTracer()
        if traced:
            tracer.pass_no += 1
        self.attempted += 1
        try:
            t = time.perf_counter()
            with tracer.span("pass"):
                result = self.wl.run_pass(tracer)
            wall = time.perf_counter() - t
        except Exception:
            self.failed += 1
            raise
        self.attempted += len(result.get("lookup_ms", ()))
        self.check(self.wl.check_pass(result))
        if traced:
            result["counts"].update(self.wl.after_traced_pass(tracer))
            tracer.collect_stages()
            self.leaked.append(self.spark.sparkContext._jsc.getPersistentRDDs().size())
            self.traced_passes.append((tracer.pass_no, wall, result))
        return wall, result

    def check(self, errors: list[str]) -> None:
        if errors:
            self.failed += 1
            raise WrongOutput("; ".join(errors[:5]))

    def layer_metrics(self) -> dict[str, float]:
        """Median over traced passes of each per-layer metric."""
        per_pass = []
        for pass_no, wall, result in self.traced_passes:
            spans = self.tracer.pass_spans(pass_no)
            m = dict.fromkeys(PER_LAYER, 0.0)
            for s in spans:
                if s["name"] in SPAN_METRICS:
                    m[SPAN_METRICS[s["name"]]] += s["end"] - s["start"]
                if s["parent"] is None and s["name"] != "pass":
                    continue  # taken after the pass clock stopped
                m["spark.jobs"] += s["jobs"]
                for f in ("tasks", "executor_run_s", "input_bytes",
                          "shuffle_write_bytes", "spill_bytes"):
                    m[f"spark.{f}"] += s[f]
                if s["name"] == "dedup.clusters":
                    m["dedup.cc_jobs"] += s["jobs"]
                if s["name"] == "pass":
                    m["jvm.cpu_s"] = s["cpu1"] - s["cpu0"]
                    m["jvm.gc_s"] = s["gc1"] - s["gc0"]
            m["catalog.list_s"] -= m["csv.open_s"]
            m["spark.core_util"] = m["spark.executor_run_s"] / (wall * self.cores)
            for k, v in result.get("counts", {}).items():
                if k in PER_LAYER:
                    m[k] = v
            per_pass.append(m)
        out = {k: statistics.median(p[k] for p in per_pass) for k in PER_LAYER}
        out["caching.leaked_rdds"] = statistics.median(self.leaked)
        return out


def measure(args, work: str, tally: dict) -> tuple[dict, dict]:
    """Generate, set up and measure. Returns (result, summary);
    ``tally["run"]`` keeps the operation counts if a pass fails."""
    from fbs_data_pipelines_spark.session import get_spark
    from workloads import WORKLOADS

    data = os.path.join(work, "data")
    t_gen = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "gen.py"), "--workload",
         args.workload, "--seed", str(args.seed), "--out", data],
        check=True, timeout=170,
    )
    with open(os.path.join(data, "truth.json")) as fh:
        truth = json.load(fh)
    gen_s = time.perf_counter() - t_gen
    cores = len(os.sched_getaffinity(0))
    conf = _spark_conf(work)

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"benchmark-{args.workload}", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark) if args.trace else NullTracer()
        wl = WORKLOADS[args.workload](spark, data, work, truth)
        wl.prepare(NullTracer())
        prepared_s = time.perf_counter() - t0
        wl.save_state(tracer)
        run = tally["run"] = Run(spark, wl, tracer, cores)
        cold_s, _ = run.one_pass(traced=False)
        setup_s = prepared_s + cold_s

        passes: list[float] = []
        traced_walls: list[float] = []
        lookups: list[float] = []
        t_start = time.perf_counter()
        while True:
            traced = bool(args.trace) and len(traced_walls) <= len(passes)
            wall, result = run.one_pass(traced)
            if traced:
                traced_walls.append(wall)
            else:
                passes.append(wall)
            lookups += result.get("lookup_ms", [])
            done = (
                time.perf_counter() - t_start >= args.seconds
                and len(passes) >= MIN_PASSES
                and (not args.trace or len(traced_walls) >= MIN_PASSES)
            )
            if done:
                break
        run.check(wl.check_state())
        heap_mb, nonheap_mb = held_memory_mb(spark)
        python_mb = python_hwm_mb()
        if args.trace:
            trace_path = os.path.join(
                REPO, ".bench_work", "traces", f"{args.workload}-s{args.seed}.json"
            )
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            with open(trace_path, "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed,
                           "spans": tracer.dump()}, fh)
    finally:
        _stop(spark)

    rows = wl.input_rows
    median_s = statistics.median(passes)
    summary = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "input_rows": rows, "generate_s": gen_s, "session_s": session_s,
        "cold_pass_s": cold_s,
        "pass_s": passes,
        "samples": {"setup_s": 1, "pass": len(passes), "lookup": len(lookups)},
        "held_mem_mb": {"heap": heap_mb, "nonheap": nonheap_mb, "python": python_mb},
    }
    if lookups:
        summary["lookup_ms"] = {"p50": statistics.median(lookups), "max": max(lookups),
                                "n": len(lookups)}
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (rows / median_s, "rows/s"),
            "held_mem_mb": (heap_mb + nonheap_mb + python_mb, "MB"),
        }
    else:
        layer = run.layer_metrics()
        layer["session.start_s"] = session_s
        layer["mem.heap_held_mb"] = heap_mb
        layer["mem.nonheap_mb"] = nonheap_mb
        layer["mem.python_hwm_mb"] = python_mb
        if lookups:
            layer["versioned.lookup_ms_p50"] = summary["lookup_ms"]["p50"]
        traced_s = statistics.median(traced_walls)
        layer["trace.rows_per_s_traced"] = rows / traced_s
        layer["trace.rows_per_s_untraced"] = rows / median_s
        layer["trace.overhead_pct"] = (traced_s / median_s - 1.0) * 100.0
        metrics = {k: (layer[k], PER_LAYER[k]) for k in PER_LAYER}
        summary["samples"]["traced_pass"] = len(traced_walls)
        summary["trace_file"] = os.path.relpath(trace_path, REPO)
    result = {
        "correct": True, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, summary


def main() -> int:
    ap = argparse.ArgumentParser(description="Benchmark of the nightly pipelines.")
    ap.add_argument("--workload", required=True,
                    choices=["nightly", "corpus_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, REPO)
    try:
        import fbs_data_pipelines_spark as program
    except ImportError as exc:
        print(f"benchmark: the program is not importable: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(program.__file__).startswith(REPO + os.sep):
        print(f"benchmark: the program was imported from outside {REPO}", file=sys.stderr)
        return 2

    work = os.path.join(REPO, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tally: dict = {}
    try:
        result, summary = measure(args, work, tally)
    except Exception as exc:  # noqa: BLE001 — any failure voids the run
        if isinstance(exc, WrongOutput):
            print(f"benchmark: wrong output: {exc}", file=sys.stderr)
        else:
            traceback.print_exc()
        run = tally.get("run")
        print(json.dumps({
            "correct": False,
            "attempted": run.attempted if run else 0,
            "failed": run.failed if run else 0,
            "metrics": {},
        }))
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"summary": summary}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

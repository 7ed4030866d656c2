"""Benchmark of the pipeline_pyspark_etl_imdb_spark package.

Usage (from the repository root):

    python3 perfbench/run.py --workload imdb_etl --seed 1 --seconds 24 --trace 0

Workloads (``BENCHMARK.json`` says why each one is there):

- ``imdb_etl``: the paper's batch job, gzip TSV -> staging -> DW -> marts;
- ``registry_stream``: relational and corpus registry queries (``noop``
  sink) mixed with event-stream drains to parquet.

One process, one SparkSession, one client in a closed loop. A run generates
its inputs from ``--seed`` (cached under ``.perfbench_work/`` in the
checkout), starts the session, runs one cold warm-up pass, measures whole
passes filling about ``--seconds`` (at least two), checks the outputs
outside the timed passes and prints one JSON line. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` adds one traced pass after the untraced
ones and prints the per-layer metrics, including tracing overhead (traced
minus untraced), and writes the spans to ``.perfbench_work/traces/``.

End-to-end metrics: ``setup_s`` session start plus the cold warm-up pass;
``peak_rss_mb`` the median over passes (set-up included) of each pass's
peak resident memory of the JVM and its Python workers; ``pass_s`` the
median timed pass; ``op_p50_s`` the median operation (``imdb_etl``: a
pipeline pass; ``registry_stream``: a query or a stream drain).

Deployment settings the package reads from the environment are pinned here
and printed on stderr: ``SPARK_GRAFT_CPUS`` = usable cores,
``SPARK_GRAFT_DRIVER_MEM`` = an eighth of host memory within 1-2 GiB, and
the Spark local dir, warehouse dir and temp dirs under the work dir.

Exit codes: 0 all outputs correct, 1 a correctness check or operation
failed (the JSON line is still printed), 2 the repository is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "pipeline_pyspark_etl_imdb_spark"
REQUIRED = (f"{PACKAGE}/__init__.py", "bench_imdb.py", "tests/oracle_utils.py")
WORK = os.path.join(ROOT, ".perfbench_work")
E2E_METRICS = ("pass_s", "op_p50_s")


def pin_environment(run_dir: str) -> dict[str, str]:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    tmp = os.path.join(run_dir, "tmp")
    settings = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{min(2048, max(1024, mem_kb // 8192))}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "spark-warehouse"),
        "TMPDIR": tmp,
        # the launcher JVM that spark-submit starts first; no perf-data file
        # under /tmp for it or the Spark JVM (see get_spark below)
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    for path in (tmp, settings["SPARK_LOCAL_DIRS"]):
        os.makedirs(path, exist_ok=True)
    os.environ.update(settings)
    return settings


def measure(workload, seconds: float, rss, tracer=None, min_passes: int = 2) -> dict:
    """Whole passes filling about ``seconds``, at least ``min_passes``."""
    passes: list[float] = []
    ops: list[float] = []
    peaks: list[int] = []
    start = time.perf_counter()
    # stop once the next pass would likely end more than half a pass late
    while len(passes) < min_passes or time.perf_counter() - start + passes[-1] / 2 < seconds:
        took, latencies = workload.one_pass(len(passes), tracer)
        peaks.append(rss.reset())
        print(f"[perfbench] pass {len(passes)}: {took:.3f}s, peak {peaks[-1] / 2**20:.0f} MB, "
              f"ops {' '.join(f'{x:.3f}' for x in latencies)}", file=sys.stderr)
        passes.append(took)
        ops += latencies
    return {
        "pass_s": statistics.median(passes),
        "op_p50_s": statistics.median(ops) if ops else 0.0,
        "peaks": peaks,
        "passes": len(passes),
        "ops": len(ops),
    }


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every process
    this run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    while (left := descendants()) and time.monotonic() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def self_time_report(tracer) -> dict[str, float]:
    """Self seconds per layer (top level), printed per span name on stderr."""
    by_name: dict[str, float] = {}
    by_layer: dict[str, float] = {}
    for sp in tracer.spans:
        own = tracer.self_seconds(sp)
        key = f"{sp.layer}:{sp.name}"
        by_name[key] = by_name.get(key, 0.0) + own
        top = sp.layer.split(".")[0]
        by_layer[top] = by_layer.get(top, 0.0) + own
    for key, own in sorted(by_name.items(), key=lambda kv: -kv[1]):
        print(f"[perfbench] self {own:9.3f}s  {key}", file=sys.stderr)
    return by_layer


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    missing = [f for f in REQUIRED if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"[perfbench] not a repository checkout, missing {missing}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"[perfbench] unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    settings = pin_environment(run_dir)
    print(f"[perfbench] settings {json.dumps(settings)}", file=sys.stderr)
    sys.path.insert(0, ROOT)

    from perfbench.trace import RssSampler, Tracer
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[args.workload](os.path.join(WORK, "inputs"), run_dir, args.seed)
    workload.prepare()

    values: dict[str, float] = {}
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            from pipeline_pyspark_etl_imdb_spark import get_spark

            spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.driver.extraJavaOptions":
                        f"-XX:-UsePerfData -Djava.io.tmpdir={settings['TMPDIR']}",
                },
            )
            spark.range(1).count()
            session_s = time.perf_counter() - t0
            try:
                workload.bind(spark)
                warm_s = workload.warm_up()
                setup_peak = rss.reset()
                print(f"[perfbench] session {session_s:.3f}s, warm-up {warm_s:.3f}s, "
                      f"peak {setup_peak / 2**20:.0f} MB", file=sys.stderr)
                untraced = measure(workload, args.seconds, rss)
                values["setup_s"] = session_s + warm_s
                # the typical peak of one pass (set-up counts as a pass): the
                # run's single highest sample moves with JVM garbage collection
                values["peak_rss_mb"] = statistics.median([setup_peak, *untraced["peaks"]]) / 2**20
                values |= {k: untraced[k] for k in E2E_METRICS}
                print(f"[perfbench] untraced {json.dumps(untraced)}", file=sys.stderr)
                if args.trace:
                    tracer = Tracer(spark)
                    # one traced pass gives every per-layer number
                    traced = measure(workload, 0, rss, tracer, min_passes=1)
                    print(f"[perfbench] traced {json.dumps(traced)}", file=sys.stderr)
                    values |= workload.layer_metrics(tracer, traced["passes"])
                    values["session.start_s"] = session_s
                    for key in E2E_METRICS:
                        values[f"trace.overhead.{key}"] = traced[key] - untraced[key]
                    values["trace.overhead.peak_rss_mb"] = (
                        statistics.median(traced["peaks"]) - statistics.median(untraced["peaks"])
                    ) / 2**20
                    for layer, own in self_time_report(tracer).items():
                        values[f"trace.self_s.{layer}"] = own / traced["passes"]
                    values["trace.spans"] = len(tracer.spans)
                    values["trace.incomplete_spans"] = sum(not s.complete for s in tracer.spans)
                    tracer.write(
                        os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json")
                    )
                workload.final_check()
            finally:
                stop_spark(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    group = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in group}
    correct = workload.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": workload.attempted,
        "failed": workload.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

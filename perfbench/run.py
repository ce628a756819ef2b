"""Benchmark of record for backend_model_spark.

Run from the repository root:

    python3 perfbench/run.py --workload warehouse_batch --seed 1 --seconds 10 --trace 0

Each run is one closed loop with one client against a fresh local Spark
session (``local[nproc]``). ``--seed`` fixes the inputs: the order of
the warehouse queries over the project's test tables, the generated
listings and the price requests. The last line of stdout is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. Metric names and units are read from
BENCHMARK.json. See perfbench/README.md for the workloads and what
each metric should move.

The run's own files stay under ``.perfbench/`` in the checkout (the
program's IO and streaming operators use its ``.scratch/``); the Spark
JVM is started from there, so JVM crash logs land there too.
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
from collections import defaultdict

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import WORKLOADS, BenchError  # noqa: E402


def host_geometry() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    mem_gib = mem_kib / 2**20
    # a sixth of host memory for the driver heap (which is also the
    # executor heap in local mode), 1-4 GiB: -Xms commits it up front
    heap_gib = int(min(4, max(1, mem_gib // 6)))
    return {"cpus": cpus, "mem_gib": round(mem_gib, 1), "heap": f"{heap_gib}g"}


def prepare_env(work: str, geometry: dict) -> None:
    """Deployment settings the program reads; must precede its import."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(geometry["cpus"])
    os.environ["SPARK_DRIVER_MEMORY"] = geometry["heap"]
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Python workers import the package by name (mapInPandas, UDFs);
    # they only find it when the checkout root is on their path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    os.chdir(work)


def quantile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive interpolation); the value itself for n=1."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def stop_spark(spark) -> None:
    """Stop the session and its JVM and wait for every child process."""
    from pyspark import SparkContext
    from spans import tree_pids

    children = tree_pids(os.getpid()) - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    SparkContext._gateway = SparkContext._jvm = None  # a later session starts its own
    deadline = time.monotonic() + 20
    while children and time.monotonic() < deadline:
        children = {p for p in children if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for pid in children:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(spec: dict, trace: bool, attempted: int, failed: int, values: dict) -> dict:
    section = "per_layer" if trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        value = values[m["name"]]
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def untraced_p50(args) -> float:
    """``op_ms.p50`` of an untraced run of the same workload and seed,
    made now in a child process, so the tracing overhead compares the
    same code at the same moment."""
    cmd = [
        sys.executable, os.path.abspath(__file__),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", "0",
    ]
    # its own process group, so a timeout also stops its JVM and workers
    with subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, start_new_session=True) as child:
        try:
            out, err = child.communicate(timeout=170)
        except subprocess.TimeoutExpired:
            os.killpg(child.pid, signal.SIGKILL)
            child.communicate()
            raise BenchError("untraced baseline run timed out") from None
    if child.returncode != 0:
        raise BenchError(f"untraced baseline run failed:\n{err[-2000:]}")
    result = json.loads(out.strip().splitlines()[-1])
    return result["metrics"]["op_ms.p50"]["value"]


def measure(workload: str, seed: int, seconds: float, trace: bool, work: str,
            t_start: float, options: dict | None = None,
            corrupt: bool = False):
    """One run in this process, ``t_start`` its start on the
    ``perf_counter`` clock. Returns (metric values, workload)."""
    from spans import EVENT_LOG_CONF, RssSampler, Tracer, jvm_gc_seconds

    tracer = Tracer()
    with RssSampler() as rss:
        wl = WORKLOADS[workload](seed, work, tracer, trace, options or {}, corrupt)
        t = time.perf_counter()
        wl.make_inputs()
        inputs_s = time.perf_counter() - t
        from backend_model_spark.session import get_spark

        extra = {"spark.ui.showConsoleProgress": "false"}
        if trace:
            log_dir = os.path.join(work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            extra.update(EVENT_LOG_CONF)
            extra["spark.eventLog.dir"] = "file://" + log_dir
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=extra)
        session_start_s = time.perf_counter() - t
        try:
            spark.sparkContext.setLogLevel("ERROR")
            print("# host " + json.dumps({
                **host_geometry(),
                "spark": spark.version,
                "java": spark._jvm.System.getProperty("java.version"),
                "master": spark.sparkContext.master,
            }), flush=True)
            t = time.perf_counter()
            from backend_model_spark.plans import registry

            registry.queries()
            registry_load_s = time.perf_counter() - t
            t = time.perf_counter()
            wl.setup(spark)
            prepare_s = time.perf_counter() - t
            gc0 = jvm_gc_seconds(spark)
            setup_s = time.perf_counter() - t_start
            t0 = time.perf_counter()
            wl.run(spark, seconds)
            window_s = time.perf_counter() - t0
            gc_s = jvm_gc_seconds(spark) - gc0
            app_id = spark.sparkContext.applicationId
        finally:
            stop_spark(spark)
    lat = [op.seconds * 1000.0 for op in wl.ops]
    if not lat:
        raise BenchError("no operation completed in the measured window")
    values = {
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak / 2**20,
        "op_ms.p50": quantile(lat, 50),
        "op_ms.p90": quantile(lat, 90),
        "ops_per_s": len(wl.ops) / window_s,
    }
    attempted, failed = wl.attempted(), wl.failed()
    print(f"# {workload}: {len(wl.ops)} ops in {window_s:.1f} s, "
          f"{failed}/{attempted} failed; setup {setup_s:.1f} s = inputs {inputs_s:.1f} + "
          f"session {session_start_s:.1f} + registry {registry_load_s:.1f} + "
          f"workload {prepare_s:.1f} + rest", flush=True)
    per_name = defaultdict(list)
    for op in wl.ops:
        per_name[op.name].append(round(op.seconds * 1000))
    print("# ops_ms " + json.dumps(per_name), flush=True)
    if wl.stages:
        print("# stages " + json.dumps({k: round(v[0], 2) for k, v in wl.stages.items()}), flush=True)
    if trace:
        values.update(wl.layer_metrics(os.path.join(work, "eventlog", app_id)))
        values.update({
            "session.start_s": session_start_s,
            "registry.load_s": registry_load_s,
            "spark.gc_s": gc_s / len(wl.ops),
            "fail_frac": failed / attempted,
        })
        tracer.dump(os.path.join(os.path.dirname(work), f"spans-{workload}-{seed}.jsonl"))
    return values, wl


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "backend_model_spark")):
        print("perfbench: backend_model_spark not found next to perfbench/", file=sys.stderr)
        return 2
    spec = load_spec()
    t_start = T_START
    if args.trace:
        try:
            baseline_p50 = untraced_p50(args)
        except BenchError as e:
            print(f"perfbench: {e}", file=sys.stderr)
            return 3
        t_start = time.perf_counter()

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    prepare_env(work, host_geometry())
    try:
        values, wl = measure(
            args.workload, args.seed, args.seconds, bool(args.trace), work, t_start
        )
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        values["trace.overhead_ms"] = values["op_ms.p50"] - baseline_p50
    print(json.dumps(result_line(spec, bool(args.trace), wl.attempted(), wl.failed(), values)))
    return 0


if __name__ == "__main__":
    sys.exit(main())

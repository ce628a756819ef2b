"""Self-test of the benchmark harness, on tiny inputs.

    python3 perfbench/selftest.py

For each workload it makes one traced run with one deliberately
corrupted expected output (the DuckDB oracle of the first mix entry;
the expected price of one listing in the first quote) and asserts that

- every end-to-end and per-layer metric of BENCHMARK.json is produced,
  with its unit, by the code that prints the result line;
- the corruption is caught and counted: exactly the operations that
  read the corrupted expectation fail, and every other check passes;
- the streaming layer's figures include the micro-batch jobs Spark
  runs on the query's own thread.

It then plants a memo (a persisted DataFrame returned on every call
after the first) in one warehouse query and asserts that the memo
guard stops the run.

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import functools
import os
import shutil
import sys
import time

import run
from workloads import HERE, WAREHOUSE_MIX, BenchError

TINY = {
    "warehouse_batch": {"data": os.path.join(HERE, "data", "sf0.001")},
    "price_quotes": {"listings_divisor": 100},
}


def check_workload(spec: dict, workload: str, work: str) -> None:
    values, wl = run.measure(
        workload, seed=7, seconds=1.0, trace=True, work=os.path.join(work, workload),
        t_start=time.perf_counter(), options=TINY[workload], corrupt=True,
    )
    attempted, failed = wl.attempted(), wl.failed()
    values["trace.overhead_ms"] = 0.0
    for trace in (False, True):
        line = run.result_line(spec, trace, attempted, failed, values)
        section = "per_layer" if trace else "end_to_end"
        for m in spec[section]:
            got = line["metrics"][m["name"]]
            assert got["unit"] == m["unit"], (m, got)
            assert isinstance(got["value"], (int, float)), (m, got)
    assert line["correct"] is False and failed > 0, (workload, attempted, failed)
    assert values["fail_frac"] == failed / attempted
    if workload == "warehouse_batch":
        passes = attempted // len(WAREHOUSE_MIX) - 1
        # the oracle check of the corrupted entry + each timed run of it
        assert passes >= 1 and attempted == len(WAREHOUSE_MIX) * (1 + passes), attempted
        assert failed == 1 + passes, (attempted, failed)
        # micro-batches run in the query's own job group, so only a
        # match by time counts them
        grouped = max(op.jobs for op in wl.ops if op.layer == "streaming.jobs")
        assert values["streaming.jobs.jobs"] > grouped, (values["streaming.jobs.jobs"], grouped)
        assert values["streaming.jobs.cpu_s"] > 0, values["streaming.jobs.cpu_s"]
    else:
        # the pipeline pass passes its checks; exactly the quotes that
        # ask for the corrupted listing fail, the first one among them
        hit = [wl.corrupted in ids for ids in wl.requests]
        assert hit[0] and failed == sum(hit), (hit, failed)
        assert [not op.ok for op in wl.ops] == hit
    print(f"selftest {workload}: ok ({failed}/{attempted} failed as planted)", flush=True)


def plant_memo(name: str, fn):
    """``fn`` answered from a per-application memo after its first call,
    as an operator caching a persisted frame would."""
    if name != WAREHOUSE_MIX[0]:
        return fn
    memo = {}

    @functools.wraps(fn)
    def memoized(spark, sf_dir):
        if sf_dir not in memo:
            memo[sf_dir] = fn(spark, sf_dir).persist()
            memo[sf_dir].count()
        return memo[sf_dir]

    return memoized


def check_memo_guard(work: str) -> None:
    options = {**TINY["warehouse_batch"], "wrap": plant_memo}
    try:
        run.measure(
            "warehouse_batch", seed=7, seconds=1.0, trace=False,
            work=os.path.join(work, "memo"), t_start=time.perf_counter(), options=options,
        )
    except BenchError as e:
        assert WAREHOUSE_MIX[0] in str(e) and "memo" in str(e), e
        print(f"selftest memo guard: ok ({e})", flush=True)
        return
    raise AssertionError("a memoized query passed as a measurement")


def main() -> int:
    spec = run.load_spec()
    work = os.path.join(run.ROOT, ".perfbench", f"selftest-{os.getpid()}")
    run.prepare_env(work, run.host_geometry())
    try:
        for workload in run.WORKLOADS:
            check_workload(spec, workload, work)
        check_memo_guard(work)
    finally:
        os.chdir(run.ROOT)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

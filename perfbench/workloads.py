"""The benchmark's workloads: what one operation is, and its checks.

Both are closed loops with one client: the next operation starts when
the previous one has returned. Every timed operation runs in its own
Spark job group, so the jobs it started can be counted. An operation
answered from a per-application memo is not a measurement, so the run
stops with an error when an operation starts no job, or fewer jobs than
the same operation started on its first call in the run.

Modules of ``backend_model_spark`` are imported inside methods: the
package reads its deployment settings from the environment at import,
and ``run.py`` sets them first.
"""

from __future__ import annotations

import math
import os
import random
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass

import datagen
from spans import Tracer, parse_event_log, task_skew

HERE = os.path.dirname(os.path.abspath(__file__))


class BenchError(RuntimeError):
    """The run cannot produce a valid measurement."""


# the project's read-only test tables (TESTDATA.md), copied byte for byte;
# sf0.01 is the scale its DuckDB oracle-parity tests run at
WAREHOUSE_DATA = os.path.join(HERE, "data", "sf0.01")

# one registry entry per operator module, each with a DuckDB oracle
# and none answered from a per-application memo
WAREHOUSE_MIX = [
    "q1_pricing_summary",
    "agg_rollup",
    "join_q5_region_revenue",
    "tpch_q18_big_orders",
    "window_running_total",
    "events_sessionize",
    "io_cdc_merge_apply",
    "text_top_tokens",
    "dedup_exact_groups",
    "sim_cosine_topk_bruteforce",
    "media_png_roundtrip",
    "ml_mlp_batch_inference",
    "streaming_windowed_topk",
]

# layers of the warehouse workload: the modules its queries live in
MODULES = [
    "operators.relational",
    "operators.aggregates",
    "operators.joins",
    "operators.tpch_suite",
    "operators.windows",
    "operators.events_ops",
    "sources.io_ops",
    "operators.text",
    "operators.dedup",
    "operators.similarity",
    "operators.multimodal",
    "ml.mlp",
    "streaming.jobs",
]

# two passes, so the first pass's remaining warm-up is never the only
# sample; op_ms.p90 then falls in the middle of the six runs of the
# three slowest queries
MIN_PASSES = 2

QUOTE_LISTINGS = 16
QUOTE_WARMUP = 3
# a tenth of the reference's 99,569-listing funnel: the pipeline's cost
# here is per-job overhead, and the full shape does not fit a run
LISTINGS_DIVISOR = 10
# fitting costs per-iteration Spark jobs; 5 trees keep the set-up short
GBT_PARAMS = {"maxDepth": 4, "maxIter": 5}
GRID_FOLDS = 2
# the tuner's own seed stays fixed so every workload seed pays for the
# same trials; two trials = one uniform draw + one TPE proposal
TPE_TRIALS, TPE_EXPLORE, TPE_SEED = 2, 1, 42


@dataclass
class Op:
    name: str
    layer: str
    seconds: float
    build_s: float
    exec_s: float
    jobs: int  # in the operation's job group
    t0: float  # epoch seconds, to match the event log's job times
    t1: float
    span: int
    ok: bool


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


class Workload:
    # every operation scans stored data: traced runs check it in the
    # event log's input metrics
    reads_input = False

    def __init__(self, seed: int, work: str, tracer: Tracer, trace: bool, options: dict,
                 corrupt: bool):
        self.seed = seed
        self.trace = trace
        self.work = work
        self.tracer = tracer
        self.options = options
        self.corrupt = corrupt
        self.rng = random.Random(seed)
        self.ops: list[Op] = []
        # operations checked outside the timed window: True when correct
        self.checks: list[bool] = []
        # pipeline stage -> (seconds, Spark jobs)
        self.stages: dict[str, tuple[float, int]] = {}
        # operation name -> Spark jobs on its first call in this run
        self.first_jobs: dict[str, int] = {}
        self._n = 0
        self._reported = False

    def attempted(self) -> int:
        return len(self.ops) + len(self.checks)

    def failed(self) -> int:
        return sum(1 for op in self.ops if not op.ok) + self.checks.count(False)

    def _group(self, spark, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}"
        spark.sparkContext.setJobGroup(group, label)
        return group

    def _jobs(self, spark, group: str, label: str) -> int:
        jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        if not jobs:
            raise BenchError(f"{label} started no Spark job: a memo answered it")
        first = self.first_jobs.setdefault(label, jobs)
        if jobs < first:
            raise BenchError(
                f"{label} started {jobs} Spark jobs, {first} on its first call: "
                "a memo answered it"
            )
        return jobs

    def _report(self, what: str) -> None:
        if not self._reported:
            print(f"perfbench: {what} failed:", file=sys.stderr)
            traceback.print_exc()
            self._reported = True

    def timed_op(self, spark, name: str, layer: str, build, execute, check=None) -> None:
        """One timed operation: ``execute(build())``, checked afterwards."""
        group = self._group(spark, layer)
        result, ok, b, e = None, True, None, None
        t0 = time.time()
        with self.tracer.span(layer, self._n) as op:
            try:
                with self.tracer.span(layer + ".build", self._n) as b:
                    built = build()
                with self.tracer.span(layer + ".exec", self._n) as e:
                    result = execute(built)
            except Exception:
                self._report(layer)
                ok = False
        t1 = time.time()
        jobs = self._jobs(spark, group, name) if ok else 0
        if ok and check is not None:
            ok = check(result)
        self.ops.append(Op(
            name=name, layer=layer, seconds=self.tracer.seconds(op),
            build_s=self.tracer.seconds(b), exec_s=self.tracer.seconds(e),
            jobs=jobs, t0=t0, t1=t1, span=op, ok=ok,
        ))

    def stage(self, spark, name: str, fn):
        """One untimed-window call into a pipeline layer, traced."""
        group = self._group(spark, name)
        with self.tracer.span(name, self._n) as sid:
            out = fn()
        span = self.tracer.spans[sid]
        jobs = self._jobs(spark, group, name)
        self.stages[name] = (span.end - span.start, jobs)
        return out

    def layer_metrics(self, event_log: str) -> dict:
        log = parse_event_log(event_log)
        # per operation: Spark jobs and the stages they ran, by time
        windows = {op.span: log.window(op.t0, op.t1) for op in self.ops}
        for op in self.ops:
            stages = windows[op.span][1]
            if self.reads_input and op.ok and not sum(log.stages[s].input_bytes for s in stages):
                raise BenchError(f"{op.name} read no input: a memo answered it")
        window_stages = set().union(*(w[1] for w in windows.values()))
        self_times = self.tracer.self_times()
        values = {
            "spark.task_skew": task_skew(window_stages, log.task_s, log.stage_wall),
            # time inside a timed operation spent outside the program
            "bench.self_ms": 1000.0 * _mean(self_times[op.span] for op in self.ops),
        }
        by_layer = defaultdict(list)
        for op in self.ops:
            by_layer[op.layer].append(op)

        def total(ops, field: str) -> list[int]:
            return [sum(getattr(log.stages[s], field) for s in windows[op.span][1]) for op in ops]

        for module in MODULES:
            ops = by_layer.get(module, [])
            values.update({
                f"{module}.build_s": _mean(op.build_s for op in ops),
                f"{module}.exec_s": _mean(op.exec_s for op in ops),
                f"{module}.jobs": _mean(windows[op.span][0] for op in ops),
                f"{module}.shuffle_mb": _mean(b / 2**20 for b in total(ops, "shuffle_bytes")),
                f"{module}.spill_mb": _mean(b / 2**20 for b in total(ops, "spill_bytes")),
                f"{module}.cpu_s": _mean(ns / 1e9 for ns in total(ops, "cpu_ns")),
            })
        quotes = by_layer.get("quote", [])
        values.update({
            "quote.build_ms": 1000.0 * _mean(op.build_s for op in quotes),
            "quote.exec_ms": 1000.0 * _mean(op.exec_s for op in quotes),
            "quote.jobs": _mean(windows[op.span][0] for op in quotes),
            "quote.tasks": _mean(total(quotes, "tasks")),
        })
        values.update(self.pipeline_metrics())
        return values

    def pipeline_metrics(self) -> dict:
        return {name: 0.0 for name in PIPELINE_METRICS}


PIPELINE_METRICS = (
    "ml.cleaning.s", "ml.cleaning.jobs", "sink.write_s", "sink.bytes_per_row",
    "ml.pipeline.fit_s", "ml.pipeline.jobs", "ml.tuning.grid_s", "ml.tuning.tpe_s",
    "ml.tuning.jobs_per_trial",
)


class WarehouseBatch(Workload):
    """Registry queries to a noop sink over the project's test tables."""

    reads_input = True

    def make_inputs(self) -> None:
        self.data = self.options.get("data", WAREHOUSE_DATA)

    def setup(self, spark) -> None:
        from backend_model_spark.plans import registry

        fns, self.oracles = registry.queries(), registry.oracle_sql()
        missing = [n for n in WAREHOUSE_MIX if n not in self.oracles]
        if missing:
            raise BenchError(f"mix entries without a DuckDB oracle: {missing}")
        # ``wrap(name, fn)``: the self-test's hook to plant a memo
        wrap = self.options.get("wrap", lambda name, fn: fn)
        self.fns = {n: wrap(n, fns[n]) for n in WAREHOUSE_MIX}
        self.layers = {
            n: fn.__module__.removeprefix("backend_model_spark.") for n, fn in self.fns.items()
        }
        # the program memoizes each table's inferred schema per file;
        # resolving all of them first keeps that one-time job out of
        # the first call of whichever entry reads a table first
        from backend_model_spark.sources.tables import TABLE_NAMES, load_table, table_path

        for table in TABLE_NAMES:
            if os.path.exists(table_path(self.data, table)):
                load_table(spark, table, self.data)
        self.check(spark)

    def check(self, spark) -> None:
        """Each entry against its DuckDB oracle, once, outside the timed
        window. This pass is also the warm-up and each entry's first
        call, whose job count the memo guard holds every later call to.
        A wrong entry fails its check and every timed run of it."""
        from backend_model_spark.testing.oracle import compare

        self.wrong: set[str] = set()
        for name in self.rng.sample(WAREHOUSE_MIX, len(WAREHOUSE_MIX)):
            oracle = self.oracles[name].strip().rstrip(";")
            if self.corrupt and name == WAREHOUSE_MIX[0]:
                oracle = f"SELECT * FROM ({oracle}) AS expected LIMIT 0"
            group = self._group(spark, name)
            try:
                ok = compare(name, spark, self.fns[name], oracle, self.data).ok
            except Exception:
                self._report(f"oracle check of {name}")
                ok = False
            if ok:
                self._jobs(spark, group, name)
            else:
                print(f"perfbench: {name} differs from its DuckDB oracle", file=sys.stderr)
                self.wrong.add(name)
            self.checks.append(ok)

    def one_pass(self, spark) -> None:
        for name in self.rng.sample(WAREHOUSE_MIX, len(WAREHOUSE_MIX)):
            fn = self.fns[name]
            self.timed_op(
                spark, name, self.layers[name],
                lambda: fn(spark, self.data),
                lambda df: df.write.format("noop").mode("overwrite").save(),
                check=lambda _, name=name: name not in self.wrong,
            )

    def run(self, spark, seconds: float) -> None:
        """Whole passes over the mix until ``seconds`` have elapsed, so
        every query is timed equally often; at least ``MIN_PASSES``."""
        t0 = time.perf_counter()
        while (len(self.ops) < MIN_PASSES * len(WAREHOUSE_MIX)
               or time.perf_counter() - t0 < seconds):
            self.one_pass(spark)


class PriceQuotes(Workload):
    """Price requests against a model the setup trains from raw listings.

    The setup runs the reference's dataflow once, each stage in its own
    job group: clean the dirty listings, write the cleaned ``air_b``
    table and fit the GBT pipeline; traced runs also grid-search the
    linear model and run the TPE search."""

    def make_inputs(self) -> None:
        from backend_model_spark.ml.cleaning import AIRBNB_E2E_SHAPE

        divisor = self.options.get("listings_divisor", LISTINGS_DIVISOR)
        shape = {k: v // divisor for k, v in AIRBNB_E2E_SHAPE.items()}
        self.train_path, self.test_path, self.golden = datagen.write_listings(
            os.path.join(self.work, "listings"), self.seed, shape
        )

    def _require(self, ok: bool, what: str) -> None:
        if not ok:
            print(f"perfbench: pipeline check failed: {what}", file=sys.stderr)
            self.pipeline_ok = False

    def setup(self, spark) -> None:
        import pandas
        from pyspark.sql import types as T

        from backend_model_spark.ml.cleaning import clean_listings, content_bucket
        from backend_model_spark.ml.pipeline import train_and_evaluate

        self.pipeline_ok = True
        self.requests: list[list[int]] = []
        raw_train = spark.read.parquet(self.train_path)
        raw_test = spark.read.parquet(self.test_path)
        cleaned = self.stage(spark, "ml.cleaning", lambda: clean_listings(raw_train, raw_test))
        air_b = os.path.join(self.work, "air_b")
        self.stage(spark, "sink.write", lambda: cleaned.write.mode("overwrite").parquet(air_b))
        table = spark.read.parquet(air_b)
        pool = table.collect()
        self._require(len(pool) == self.golden.n_after_junk_filter,
                      f"{len(pool)} cleaned rows, generator says {self.golden.n_after_junk_filter}")
        written = sum(
            os.path.getsize(os.path.join(air_b, f))
            for f in os.listdir(air_b) if f.endswith(".parquet")
        )
        self.bytes_per_row = written / max(1, len(pool))

        bucket = content_bucket()
        train, test = table.filter(bucket < 80), table.filter(bucket >= 80)
        fit = self.stage(spark, "ml.pipeline", lambda: train_and_evaluate(train, test, "gbt", **GBT_PARAMS))
        self._require(fit.r2 > 0.0, f"held-out R2 {fit.r2} <= 0")
        self._require(fit.mae <= fit.rmse + 1e-9, f"MAE {fit.mae} > RMSE {fit.rmse}")
        if self.trace:
            self.tune(spark, train, test)

        self.model = fit.model
        self.schema = T.StructType(table.schema.fields + [T.StructField("qid", T.LongType())])
        self.rows = [tuple(r) + (i,) for i, r in enumerate(pool)]
        batch = pandas.DataFrame(self.rows, columns=self.schema.names)
        batch = self.model.transform(spark.createDataFrame(batch, self.schema))
        self.expected = {r.qid: r.prediction for r in batch.select("qid", "prediction").collect()}
        self._require(len(self.expected) == len(self.rows), "batch transform dropped listings")
        for _ in range(QUOTE_WARMUP):
            self.quote(spark)
        self.ops.clear()
        self.requests.clear()
        self.checks.append(self.pipeline_ok)
        if self.corrupt:  # the first timed quote asks for this listing
            state = self.rng.getstate()
            self.corrupted = self.next_sample()[0]
            self.expected[self.corrupted] += 1.0
            self.rng.setstate(state)

    def tune(self, spark, train, test) -> None:
        """The reference's two tuning strategies on the cleaned table.

        Traced runs only: they cost ~25 s cold on a 4-core host, which
        the run budget cannot pay on every untraced run."""
        from backend_model_spark.ml.tuning import (
            bayesian_optimize_gbt,
            grid_search_linear,
            tpe_search,
        )

        self.stage(spark, "ml.tuning.grid", lambda: grid_search_linear(train, n_folds=GRID_FOLDS))
        tpe = self.stage(spark, "ml.tuning.tpe", lambda: bayesian_optimize_gbt(
            train, test, n_trials=TPE_TRIALS, n_explore=TPE_EXPLORE, seed=TPE_SEED))
        self._require(
            len(tpe.trials) == TPE_TRIALS and math.isfinite(tpe.best_mae)
            and tpe.best_mae == min(t.mae for t in tpe.trials),
            f"TPE result {tpe.best_params} {tpe.best_mae} is not its best trial",
        )
        # the search is deterministic under its seed: replayed against
        # the losses it observed, it must propose the same trials
        seen = {tuple(sorted(t.params.items())): t.mae for t in tpe.trials}
        replay = tpe_search(
            lambda p: seen.get(tuple(sorted(p.items())), math.inf),
            TPE_TRIALS, n_explore=TPE_EXPLORE, seed=TPE_SEED,
        )
        self._require(
            [t.params for t in replay.trials] == [t.params for t in tpe.trials],
            "TPE replay proposed different trials",
        )

    def next_sample(self) -> list[int]:
        return random.Random(self.rng.random()).sample(range(len(self.rows)), QUOTE_LISTINGS)

    def quote(self, spark) -> None:
        ids = self.next_sample()
        self.requests.append(ids)

        def build():
            req = spark.createDataFrame([self.rows[i] for i in ids], self.schema)
            return self.model.transform(req).select("qid", "prediction")

        def check(got) -> bool:
            return len(got) == len(ids) and all(self.expected[r.qid] == r.prediction for r in got)

        self.timed_op(spark, "quote", "quote", build, lambda df: df.collect(), check=check)

    def run(self, spark, seconds: float) -> None:
        t0 = time.perf_counter()
        while not self.ops or time.perf_counter() - t0 < seconds:
            self.quote(spark)

    def pipeline_metrics(self) -> dict:
        s = self.stages
        return {
            "ml.cleaning.s": s["ml.cleaning"][0],
            "ml.cleaning.jobs": s["ml.cleaning"][1],
            "sink.write_s": s["sink.write"][0],
            "sink.bytes_per_row": self.bytes_per_row,
            "ml.pipeline.fit_s": s["ml.pipeline"][0],
            "ml.pipeline.jobs": s["ml.pipeline"][1],
            "ml.tuning.grid_s": s["ml.tuning.grid"][0],
            "ml.tuning.tpe_s": s["ml.tuning.tpe"][0],
            "ml.tuning.jobs_per_trial": s["ml.tuning.tpe"][1] / TPE_TRIALS,
        }


WORKLOADS = {"warehouse_batch": WarehouseBatch, "price_quotes": PriceQuotes}

"""``batch_sf0.01``: a pinned list of registered queries (``queries.py``)
run through the registry's query functions on the sf0.01 tables.

A pass first resets the shared tiers (``reset_shared_caches``) and
rebuilds every one (``shared_tiers``), then runs every query once, in a
seed-permuted order; both count in the pass's wall time. A query's time is its
construction plus ``collect()`` of its result; right after, untimed, the
collected rows are compared with the query's DuckDB oracle by the
functions ``oracle.check_query`` is made of. So every timed query is also
checked, and each run times one pass: the pass is the first run of each
query in a fresh JVM (cold), which keeps a run short enough to repeat.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random
import time
import traceback

from . import harness
from .queries import QUERIES
from .sparkstats import ExecStats, job_count

MODULES = ("tpch", "order_stats", "events_analytics", "composition",
           "order_etl", "llm_pipeline", "curation")


def module_of(fn) -> str:
    return fn.__module__.rsplit(".", 1)[-1]


class Runner:
    def __init__(self, spark, ctx) -> None:
        from flink_learning_practise_spark.registry import all_queries

        self.spark, self.ctx = spark, ctx
        self.registry = all_queries()
        self.attempted = 0
        self.failed = 0
        self.check_s = 0.0  # untimed check time of the last pass
        self._group = 0

    def _fail(self, what: str, err: str) -> None:
        self.failed += 1
        print(f"{self.ctx.workload}: {what}: {err[:400]}", flush=True)

    def _job_group(self, kind: str) -> str:
        self._group += 1
        group = f"{kind}-{self._group}"
        self.spark.sparkContext.setJobGroup(group, group)
        return group

    def _oracle(self, sql: str):
        """DuckDB result of an oracle query, computed once per checkout:
        the tables are fixed, so the expected rows are too."""
        from flink_learning_practise_spark import oracle

        key = hashlib.sha1(f"{self.ctx.tables}\n{sql}".encode()).hexdigest()
        path = os.path.join(harness.WORK, "oracle", f"{key}.pickle")
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        result = oracle.run_duckdb(sql, self.ctx.tables)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(f"{path}.{os.getpid()}", "wb") as f:
            pickle.dump(result, f)
        os.replace(f"{path}.{os.getpid()}", path)
        return result

    def _check(self, name: str, df, rows: list[tuple]) -> None:
        """Compare collected rows with the DuckDB oracle (untimed)."""
        from flink_learning_practise_spark import oracle

        sql = self.registry[name].oracle
        if sql is None:
            errors = [] if rows else ["no rows"]
        else:
            duck_cols, duck_rows, duck_types = self._oracle(sql)
            errors = oracle.compare_types(df.dtypes, duck_cols, duck_types)
            errors += oracle.compare(list(df.columns), rows, duck_cols, duck_rows)
        if errors:
            self._fail(f"check {name}", "; ".join(errors))

    def build_tiers(self, tracer, layers: dict | None) -> dict[str, float]:
        """Reset and rebuild every shared tier; returns {tier: seconds}."""
        from flink_learning_practise_spark.plans.llm_pipeline import (
            reset_shared_caches,
            shared_tiers,
        )

        reset_shared_caches()
        built = {}
        for name, (builder, _consumers) in shared_tiers().items():
            self.attempted += 1
            group = self._job_group("tier") if layers is not None else None
            try:
                with tracer.span("tier_build", tier=name) as s:
                    builder(self.spark, self.ctx.tables)
            except Exception:  # noqa: BLE001 - record and keep measuring
                self._fail(f"tier {name}", traceback.format_exc(limit=2))
                continue
            built[name] = s.seconds
            if layers is not None:
                layers[f"tier.{name}.build_s"] = s.seconds
                stages = ExecStats()
                stages.add_group(self.spark, group)
                layers["tier.build_stages"] = (layers.get("tier.build_stages", 0)
                                               + stages.totals["stages"])
        return built

    def run_pass(self, rng: random.Random, tracer=None, layers: dict | None = None):
        """One pass. Returns (wall seconds, {tier or query: seconds}). With
        ``layers``, the pass is traced: spans, planning time and
        status-store counters are recorded into ``layers``."""
        tracing = layers is not None
        tracer = tracer or harness.Tracer(False)
        exec_stats = ExecStats()
        order = list(QUERIES)
        rng.shuffle(order)
        build_jobs = 0
        self.check_s = 0.0
        t0 = time.perf_counter()
        with tracer.span("tiers") as tiers:
            times = self.build_tiers(tracer, layers)
        if tracing:
            layers["tier.build_s"] = tiers.seconds
        for name in order:
            q = self.registry[name]
            self.attempted += 1
            build_group = self._job_group("build") if tracing else None
            try:
                with tracer.span("query", query=name, module=module_of(q.fn)) as qs:
                    with tracer.span("build"):
                        df = q.fn(self.spark, self.ctx.tables)
                    if tracing:
                        exec_group = self._job_group("exec")
                        with tracer.span("plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("execute"):
                        rows = [tuple(r) for r in df.collect()]
            except Exception:  # noqa: BLE001 - a failed query is counted, not timed
                self._fail(f"run {name}", traceback.format_exc(limit=2))
                continue
            times[name] = qs.seconds
            pause = time.perf_counter()
            if tracing:
                build_jobs += job_count(self.spark, build_group)
                exec_stats.add_group(self.spark, exec_group)
            try:
                self._check(name, df, rows)
            except Exception:  # noqa: BLE001
                self._fail(f"check {name}", traceback.format_exc(limit=2))
            paused = time.perf_counter() - pause
            self.check_s += paused
            t0 += paused  # checks stay outside the pass time
        wall = time.perf_counter() - t0
        if tracing:
            layers["build_jobs"] = build_jobs
            layers["exec"] = exec_stats
        return wall, times


def measure(spark, ctx) -> dict:
    """One timed pass; its tier builds and queries are the latency
    samples. Traced, the pass records the layers and one more, warm pass
    gives the drift."""
    # Start the Python worker pool untimed; otherwise whichever
    # Python-worker query the seed puts first pays for it.
    spark.range(8).repartition(4).mapInPandas(lambda it: it, "id long") \
        .write.mode("overwrite").format("noop").save()
    runner = Runner(spark, ctx)
    rng = random.Random(ctx.seed)
    layers: dict | None = {} if ctx.trace else None
    wall, times = runner.run_pass(rng, ctx.tracer, layers)
    harness.log(f"pass: {wall:.2f}s (+{runner.check_s:.2f}s checks), "
                f"{runner.failed} failed; "
                + ", ".join(f"{n} {t:.2f}" for n, t in times.items()))
    if ctx.trace:
        next_wall = runner.run_pass(rng)[0]
        tracer = ctx.tracer
        exec_stats = layers.pop("exec")
        layers.update(exec_stats.totals)
        layers.update({
            "build_s": tracer.total("build"),
            "plan_s": tracer.total("plan"),
            "task_skew": exec_stats.skew,
            "core_idle_frac": 1 - exec_stats.totals["task_run_s"]
            / max(tracer.total("execute") * harness.cpus(), 1e-9),
            "pass_drift": next_wall / wall,
            "trace.wall_s": wall,
        })
        for m in MODULES:
            layers[f"{m}.wall_s"] = sum(s["end"] - s["start"] for s in tracer.spans
                                        if s["name"] == "query" and s["module"] == m)
    return {
        "attempted": runner.attempted,
        "failed": runner.failed,
        "wall_s": wall,
        "latencies_ms": [t * 1e3 for t in times.values()],
        "layers": layers or {},
    }

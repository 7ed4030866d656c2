"""The two workloads. Each runs passes of operations through the package's
public API, one client in a closed loop; the seed orders every pass.

A workload's ``warm_up`` runs the first, cold pass; ``one_pass`` returns
the timed seconds of a pass and one latency per operation. With a tracer it
wraps each call into a package layer in a span (and materializes at each
boundary, so execution time lands on the layer that planned it). Results
are checked outside the timed passes: the registry queries' results
collected in the warm-up pass, and the ETL tables and stream sinks the
last timed pass wrote (``final_check``).
"""

from __future__ import annotations

import os
import random
import re
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from statistics import median

from pyspark.sql import DataFrame, SparkSession

from perfbench import inputs, verify
from perfbench.trace import ProgressListener, Tracer

# relational queries -> the plans module that builds them
RELATIONAL_QUERIES = {
    "region_revenue": "analytics",
    "year_order_kpi": "analytics",
    "top_orders_per_segment_year": "analytics",
    "customers_without_orders_anti": "analytics",
    "customer_spend_deciles": "analytics",
    "sql_segment_leaders": "registry",
}
# corpus queries -> the operators module that implements them
CORPUS_QUERIES = {
    "dedup_components": "components",
    "knn_bruteforce": "similarity",
}

# input sizes (see BENCHMARK.json "workloads" for the why)
TABLES_SCALE = 0.01  # lineitem 60,000 rows, orders 15,000
N_DOCS, N_VECS = 1000, 1000
IMDB_ROWS = 100_000
EVENT_FILES, EVENTS_PER_FILE = 2, 5000
MIN_VOTES, TOP_N = 1000, 10


def noop(df: DataFrame) -> None:
    """Materialize every row of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _plan_kinds(plan: str, marks: dict[str, str]) -> set[str]:
    return {kind for kind, pattern in marks.items() if re.search(pattern, plan)}


# node names in an optimized logical plan / an executed physical plan tree
_LOGICAL = {"aggregate": r"\bAggregate \[", "sort": r"\bSort \[", "window": r"\bWindow \["}
_PHYSICAL = {
    "aggregate": r"\b(Hash|ObjectHash|Sort)Aggregate\b",
    "sort": r"\bSort\b|\bTakeOrderedAndProject\b",
    "window": r"\bWindow\b|\bWindowGroupLimit\b",
}


def missing_plan_ops(spark: SparkSession, df: DataFrame) -> list[str]:
    """Aggregates, sorts and windows of ``df``'s optimized plan that the
    physical plan of the last executed query does not contain (a pruned
    plan, as ``count()`` gives, would miss them)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    want = _plan_kinds(df._jdf.queryExecution().optimizedPlan().toString(), _LOGICAL)
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    ran = executions.last().physicalPlanDescription()
    final = ran.split("== Initial Plan ==")[0]
    if re.search(r"Final Plan ==\s*\+- EmptyRelation", final):
        return []  # adaptive execution proved the result empty: nothing left to run
    return sorted(want - _plan_kinds(final, _PHYSICAL))


class Workload:
    name = ""

    def __init__(self, cache: str, run_dir: str, seed: int):
        self.cache = cache
        self.run_dir = run_dir
        self.rng = random.Random(seed)
        self.seed = seed
        self.attempted = 0
        self.failed = 0
        self.spark: SparkSession | None = None

    def prepare(self) -> None:
        """Generate inputs; runs before the session starts."""

    def bind(self, spark: SparkSession) -> None:
        self.spark = spark

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"[perfbench] FAILED {what}", file=sys.stderr)

    def run_op(self, label: str, fn):
        """Run one operation at the failure boundary: an exception counts as
        a failed operation and the run goes on."""
        self.attempted += 1
        try:
            return fn()
        except Exception:
            traceback.print_exc()
            self.fail(f"{label}: raised")
            return None

    def warm_up(self) -> float:
        raise NotImplementedError

    def one_pass(self, index: int, tracer: Tracer | None) -> tuple[float, list[float]]:
        raise NotImplementedError

    def final_check(self) -> None:
        pass

    def layer_metrics(self, tracer: Tracer, passes: int) -> dict[str, float]:
        return {}


def _span(tracer: Tracer | None, name: str, layer: str):
    return tracer.span(name, layer) if tracer else nullcontext()


def _median(values) -> float:
    values = list(values)
    return median(values) if values else 0.0


# --------------------------------------------------------------- imdb etl

DW_TABLES = ("dim_year", "dim_title", "dim_genre", "bridge_title_genre", "fact_ratings")
MART_TABLES = (
    "mart_year_kpi", "mart_top_genre_year", "mart_top_year_by_rating",
    "mart_rating_distribution",
)
CACHED = ("titles_stg", "ratings_stg", "fact_ratings", "bridge_title_genre")


def _data_files(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet part files under ``path``."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size


class ImdbEtl(Workload):
    """One operation is one pipeline pass as ``plans/imdb_cli.py`` runs it
    (without session start or ``--show-counts``): ``ImdbWarehouse.build()``
    then 5 DW and 4 mart ``write_parquet`` calls into a fresh directory."""

    name = "imdb_etl"

    def prepare(self) -> None:
        self.raw = inputs.imdb_raw(self.cache, self.seed, IMDB_ROWS)
        self.last_out: str | None = None
        self.written: list[tuple[int, int]] = []
        self.cache_bytes: list[float] = []

    def _out(self, tag: str) -> str:
        path = os.path.join(self.run_dir, "etl", tag)
        shutil.rmtree(path, ignore_errors=True)
        return path

    def _write_all(self, tables: dict, out: str, tracer: Tracer | None,
                   check_plans: bool) -> None:
        from pipeline_pyspark_etl_imdb_spark.sources.parquet_io import write_parquet

        for group, names in (("dw", DW_TABLES), ("marts", MART_TABLES)):
            for name in names:
                with _span(tracer, f"write_parquet.{name}", "sources.parquet_io"):
                    write_parquet(
                        tables[name], os.path.join(out, group, name),
                        partition_cols=["yearkey"] if name == "fact_ratings" else None,
                    )
                if check_plans:
                    missing = missing_plan_ops(self.spark, tables[name])
                    if missing:
                        self.fail(f"{name}: timed plan lacks {missing}")

    def _pipeline(self, out: str, tracer: Tracer | None, check_plans: bool = False) -> None:
        from pipeline_pyspark_etl_imdb_spark.plans import imdb
        from pipeline_pyspark_etl_imdb_spark.sources.tsv import read_tsv

        spark, raw = self.spark, self.raw
        if tracer:
            with tracer.span("read_tsv.basics", "sources.tsv"):
                noop(read_tsv(spark, raw.basics))
            with tracer.span("read_tsv.ratings", "sources.tsv"):
                noop(read_tsv(spark, raw.ratings))
            with tracer.span("stage_titles", "plans.imdb"):
                noop(imdb.stage_titles(read_tsv(spark, raw.basics)))
            with tracer.span("stage_ratings", "plans.imdb"):
                noop(imdb.stage_ratings(read_tsv(spark, raw.ratings)))
        wh = imdb.ImdbWarehouse(spark, raw.basics, raw.ratings, min_votes=MIN_VOTES, top_n=TOP_N)
        try:
            with _span(tracer, "ImdbWarehouse.build", "plans.imdb"):
                tables = wh.build()
                if tracer:
                    for name in CACHED:
                        noop(tables[name])
            if tracer:
                infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
                self.cache_bytes.append(float(sum(i.memSize() + i.diskSize() for i in infos)))
            self._write_all(tables, out, tracer, check_plans)
        finally:
            wh.close()

    def _pass(self, tag: str, tracer: Tracer | None, check_plans: bool = False) -> float:
        out = self._out(tag)
        t0 = time.perf_counter()
        with _span(tracer, "etl_pass", "plans.imdb"):
            ok = self.run_op(
                f"etl pass {tag}", lambda: self._pipeline(out, tracer, check_plans) or True
            )
        took = time.perf_counter() - t0
        if ok:
            self.written.append(_data_files(out))
            if self.last_out and self.last_out != out:
                shutil.rmtree(self.last_out, ignore_errors=True)
            self.last_out = out
        return took

    def warm_up(self) -> float:
        # the warm-up pass also checks each write's executed plan (outside
        # the timed passes; the same code runs in them)
        took = self._pass("warmup", None, check_plans=True)
        self.written.clear()
        return took

    def one_pass(self, index, tracer):
        if tracer:
            tracer.new_op()
        took = self._pass(f"{'t' if tracer else 'p'}{index}", tracer)
        return took, [took]

    def final_check(self) -> None:
        if not self.last_out:
            return
        for problem in verify.check_imdb(
            self.raw.basics, self.raw.ratings, os.path.join(self.last_out, "dw"),
            os.path.join(self.last_out, "marts"), MIN_VOTES, TOP_N,
        ):
            self.fail(problem)

    def layer_metrics(self, tracer, passes):
        def spans(name: str) -> list:
            return [s for s in tracer.spans if s.name == name and s.complete]

        # the pipeline's own calls per pass: build (with its caches filled)
        # and the nine writes; passes with an incomplete span are left out
        by_op: dict[int, list] = {}
        for s in tracer.spans:
            if s.name == "ImdbWarehouse.build" or s.name.startswith("write_parquet."):
                by_op.setdefault(s.op, []).append(s)
        ops = [v for v in by_op.values() if all(s.complete for s in v)]
        writes = [[s for s in v if s.name.startswith("write_parquet.")] for v in ops]
        reads: dict[int, float] = {}
        for s in spans("read_tsv.basics") + spans("read_tsv.ratings"):
            reads[s.op] = reads.get(s.op, 0.0) + s.seconds
        size = _median(b for _, b in self.written)
        return {
            "sources.read_tsv.materialize_s": _median(reads.values()),
            "sources.read_tsv.scan_tasks":
                _median(s.counters["scan_tasks"] for s in spans("read_tsv.basics")),
            "sources.write_parquet.s": _median(sum(s.seconds for s in w) for w in writes),
            "sources.write_parquet.tasks":
                _median(sum(s.counters["tasks"] for s in w) for w in writes),
            "sources.write_parquet.bytes": size,
            "sources.write_parquet.files": _median(f for f, _ in self.written),
            "sources.write_parquet.bytes_per_input_byte": size / self.raw.gz_bytes,
            "plans.imdb.build_s": _median(s.seconds for s in spans("ImdbWarehouse.build")),
            "plans.imdb.stage_titles_s": _median(s.seconds for s in spans("stage_titles")),
            "plans.imdb.stage_ratings_s": _median(s.seconds for s in spans("stage_ratings")),
            "plans.imdb.jobs": _median(sum(s.jobs for s in v) for v in ops),
            "plans.imdb.stages": _median(sum(s.stages for s in v) for v in ops),
            "plans.imdb.shuffle_bytes":
                _median(sum(s.counters["shuffle_write_bytes"] for s in v) for v in ops),
            "plans.imdb.cache_bytes": _median(self.cache_bytes),
        }


# ------------------------------------------------------- registry + stream

# streaming operator -> its watermark in seconds (the operator's default)
STREAMS = {"tumbling_kpi_stream": 3600, "stream_dedup": 3600, "sessionize_stream": 7200}


class RegistryStream(Workload):
    """One client's closed loop over a seeded mix of requests: six
    relational registry queries over the star schema (planning and job
    launch bound), two corpus queries (eager, iterative operators with
    Python workers), each timed to full materialization with the ``noop``
    sink, and three drains of the event files through ``stream_to_parquet``
    (one file per micro-batch; state-store commits and the checkpoint WAL
    per batch). Each pass runs every request once."""

    name = "registry_stream"

    def prepare(self) -> None:
        self.tables = inputs.warehouse_tables(self.cache, TABLES_SCALE, N_DOCS, N_VECS)
        self.events_dir = inputs.event_files(self.cache, self.seed, EVENT_FILES, EVENTS_PER_FILE)
        self.requests = [*RELATIONAL_QUERIES, *CORPUS_QUERIES, *STREAMS]
        self.last_sink: dict[str, str] = {}
        self.progress: list[list[dict]] = []  # micro-batch reports, per pass
        self.terminated = 0
        self.plan_checked: set[str] = set()

    def bind(self, spark: SparkSession) -> None:
        from pipeline_pyspark_etl_imdb_spark.plans.registry import QUERIES

        super().bind(spark)
        self.fns = {q: QUERIES[q] for q in (*RELATIONAL_QUERIES, *CORPUS_QUERIES)}
        self.oracles = verify.QueryOracles(self.tables)
        self.listener = ProgressListener()
        spark.streams.addListener(self.listener)
        self.schema = spark.read.parquet(self.events_dir).schema

    def layer(self, request: str) -> str:
        if request in RELATIONAL_QUERIES:
            return f"plans.{RELATIONAL_QUERIES[request]}"
        if request in CORPUS_QUERIES:
            return f"operators.{CORPUS_QUERIES[request]}"
        return "streaming"

    def _query(self, q: str, tracer: Tracer | None, collect: bool):
        with _span(tracer, f"query.{q}", self.layer(q)):
            with _span(tracer, "construct", self.layer(q)):
                df = self.fns[q](self.spark, self.tables)
            if collect:
                return df.toPandas()
            with _span(tracer, "materialize", self.layer(q)):
                noop(df)
        return df

    def _drain(self, op: str, out: str, tracer: Tracer | None) -> None:
        from pipeline_pyspark_etl_imdb_spark.streaming import ops

        source = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.events_dir)
        )
        with _span(tracer, f"stream_to_parquet.{op}", "streaming"):
            ops.stream_to_parquet(
                getattr(ops, op)(source), os.path.join(out, "sink"), os.path.join(out, "ckpt")
            )

    def _stream(self, op: str, tag: str, tracer: Tracer | None) -> float:
        out = os.path.join(self.run_dir, "stream", tag, op)
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        ok = self.run_op(f"{op} {tag}", lambda: self._drain(op, out, tracer) or True)
        took = time.perf_counter() - t0
        if ok:
            # every progress report of the drain arrives before its termination
            self.terminated += 1
            self.listener.wait_terminated(self.terminated)
            if self.last_sink.get(op) not in (None, out):
                shutil.rmtree(self.last_sink[op], ignore_errors=True)
            self.last_sink[op] = out
        return took

    def _pass(self, tag: str, tracer: Tracer | None, warm: bool) -> tuple[float, list[float]]:
        from pipeline_pyspark_etl_imdb_spark.operators.util import release_tracked

        order = list(self.requests)
        self.rng.shuffle(order)
        latencies = []
        for request in order:
            if tracer:
                tracer.new_op()
            if request in STREAMS:
                latencies.append(self._stream(request, tag, tracer))
                continue
            t0 = time.perf_counter()
            result = self.run_op(request, lambda: self._query(request, tracer, collect=warm))
            latencies.append(time.perf_counter() - t0)
            release_tracked()
            if result is None:
                continue
            if warm:
                for problem in self.oracles.check(request, result):
                    self.fail(problem)
            elif request not in self.plan_checked:
                self.plan_checked.add(request)
                missing = missing_plan_ops(self.spark, result)
                if missing:
                    self.fail(f"{request}: timed plan lacks {missing}")
        self.progress.append(self.listener.take())
        return sum(latencies), latencies

    def warm_up(self) -> float:
        # the cold pass collects every query result and checks it against
        # its oracle (collection is the only way to see a noop-sink result)
        took, _ = self._pass("warmup", None, warm=True)
        self.progress.clear()
        return took

    def one_pass(self, index, tracer):
        return self._pass(f"{'t' if tracer else 'p'}{index}", tracer, warm=False)

    def final_check(self) -> None:
        events = self.spark.read.schema(self.schema).parquet(self.events_dir)
        for op, out in self.last_sink.items():
            got = self.spark.read.parquet(os.path.join(out, "sink")).toPandas()
            for problem in verify.check_stream(op, got, events, STREAMS[op]):
                self.fail(problem)

    def layer_metrics(self, tracer, passes):
        spans = [s for s in tracer.spans if s.name.startswith("query.") and s.complete]
        relational = [s for s in spans if s.layer.startswith("plans.")]
        corpus = [s for s in spans if s.layer.startswith("operators.")]

        def children(of, name):
            return [tracer.spans[c] for s in of for c in s.children if tracer.spans[c].name == name]

        def total(of, key):
            return sum(s.counters[key] for s in of)

        n = max(len(relational), 1)
        wall = sum(s.seconds for s in relational)
        per = 1.0 / max(passes, 1)
        batches = [p for pp in self.progress[-passes:] for p in pp] if passes else []

        def batch_s(key: str) -> float:
            return _median(p["ms"].get(key, 0) / 1000 for p in batches)

        out = {
            "plans.analytics.construct_s": _median(c.seconds for c in children(relational, "construct")),
            "plans.analytics.execute_s": _median(c.seconds for c in children(relational, "materialize")),
            "plans.analytics.jobs_per_query": sum(s.jobs for s in relational) / n,
            "plans.analytics.shuffle_bytes_per_query": total(relational, "shuffle_write_bytes") / n,
            "plans.analytics.input_bytes_per_query": total(relational, "input_bytes") / n,
            "plans.analytics.executor_cpu_share": total(relational, "cpu_ns") / 1e9
            / max(wall * self.spark.sparkContext.defaultParallelism, 1e-9),
            "operators.construct_s": per * sum(c.seconds for c in children(corpus, "construct")),
            "operators.eager_jobs": per * sum(c.jobs for c in children(corpus, "construct")),
            "operators.execute_s": per * sum(c.seconds for c in children(corpus, "materialize")),
            "operators.shuffle_bytes": per * total(corpus, "shuffle_write_bytes"),
            "operators.gc_s": per * total(corpus, "gc_ms") / 1000,
            "operators.spill_bytes": per * total(corpus, "spill_disk_bytes"),
            "streaming.batches": per * len(batches),
            "streaming.batch_s": batch_s("triggerExecution"),
            "streaming.add_batch_s": batch_s("addBatch"),
            "streaming.wal_commit_s": batch_s("walCommit"),
            "streaming.state_commit_s": _median(p["state_commit_ms"] / 1000 for p in batches),
            "streaming.state_rows": max((p["state_rows"] for p in batches), default=0),
        }
        for module in CORPUS_QUERIES.values():
            out[f"operators.{module}.s"] = per * sum(
                s.seconds for s in corpus if s.layer == f"operators.{module}"
            )
        return out


WORKLOADS = {w.name: w for w in (ImdbEtl, RegistryStream)}

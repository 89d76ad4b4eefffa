"""The benchmark's workloads.

Each workload is one closed-loop client in one driver process: it sends
its next operation only after the previous one has finished.  Both read
the fixed sf0.001 test tables (generated with seed 42).

``queries_sf0.001``
    A mix of the registry queries of ``all_queries()``: every fifth in
    name order, from the first (10 of the 50, from 7 of the registry's
    15 modules).  All 50 do not fit in a run of about a minute: on a
    4-vCPU host set-up takes 15 s, a first pass of all 50 about 40 s and
    a warm one 22-28 s.  One pass builds each query and collects it,
    one at a time, in an order the seed permutes, and compares the
    result with the query's DuckDB oracle twin (untimed).  The data work
    is almost nil, so a pass measures the driver-side layers: query
    construction (py4j round trips), Catalyst, and per-job scheduling.

``pipeline``
    The reference's module chain, each stage reading the previous
    stage's on-disk output: filter → users_items build → users_items
    merge-update of the last day → features → data_mart → mlproject
    train + save → dashboard load, score and write → agg as a
    file-source Structured Streaming query drained with
    ``availableNow``, one input file per micro-batch.  The seed shuffles
    the order of the input rows.  The chain's invariants are checked
    after each measured pass (untimed).

An operation is one query, or one pipeline stage.  It is timed as a
``construct`` span (building DataFrames in Python) and an ``execute``
span (the action, or the job entry point), so both workloads report the
same per-layer metrics.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass, field

from tracing import Span, Tracer

AGG_BATCHES = 10  # micro-batches per agg drain
PIPELINE_STAGES = (
    "filter",
    "users_items",
    "users_items_update",
    "features",
    "data_mart",
    "mlproject",
    "dashboard",
    "agg",
)


@dataclass
class Op:
    """One timed operation of a pass."""

    name: str
    span: Span
    construct: Span
    execute: Span
    groups: tuple[str, str] = ("", "")
    extra_job_groups: list[str] = field(default_factory=list)
    error: str | None = None

    @property
    def seconds(self) -> float:
        return self.span.duration


@dataclass
class Pass:
    index: int
    span: Span
    ops: list[Op]
    agg_progress: list[dict] = field(default_factory=list)  # recentProgress
    written: tuple[int, int] = (0, 0)  # bytes, files
    check_s: float = 0.0  # untimed output checks inside the pass span

    @property
    def seconds(self) -> float:
        return self.span.duration - self.check_s


class Workload:
    """Shared pass machinery: job groups and py4j counting around each
    operation's construct and execute halves."""

    min_passes = 1  # measured passes, however long they take

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None
        self.failures: list[str] = []
        self.attempted = 0
        self.counter = None  # Py4JCallCounter while a traced pass runs

    def _run_op(self, tracer: Tracer, p: int, name: str, layer: str,
                construct, execute, traced: bool) -> Op:
        sc = self.spark.sparkContext
        groups = (f"p{p}:{name}:c", f"p{p}:{name}:x")
        self.attempted += 1
        with tracer.span(name, layer) as op_span:
            if traced:
                sc.setJobGroup(groups[0], name)
            with tracer.span("construct", layer) as c_span:
                if self.counter:
                    self.counter.active = True
                try:
                    built = construct()
                    error = None
                except Exception as exc:  # noqa: BLE001 (reported by name)
                    built, error = None, f"{type(exc).__name__}: {exc}"
                finally:
                    if self.counter:
                        self.counter.active = False
            if traced:
                sc.setJobGroup(groups[1], name)
            with tracer.span("execute", "exec") as x_span:
                if error is None:
                    try:
                        execute(built)
                    except Exception as exc:  # noqa: BLE001
                        error = f"{type(exc).__name__}: {exc}"
        op = Op(name, op_span, c_span, x_span, groups, error=error)
        if error is not None:
            self.failures.append(f"{name} (pass {p}): {error.splitlines()[0]}")
        if traced:
            sc.setJobGroup("perfbench", "between operations")
        return op

    def check(self, done: Pass) -> None:
        """Check a measured pass's outputs (untimed)."""


class QueriesWorkload(Workload):
    # The first pass after the warm-up is often the slowest; the median
    # of three leaves it out.
    min_passes = 3

    def __init__(self, ctx):
        super().__init__(ctx)
        from scala_data_pipeline_spark.queries import all_oracles, all_queries

        self.sf_dir = ctx.sf_dir
        self.queries = all_queries()
        self.oracles = all_oracles()
        self.names = query_mix(self.queries)
        self.expected = {}

    def prepare(self) -> None:
        """DuckDB oracle results, computed before set-up and untimed.

        Computing them takes about 12 s on a 4-core host, a sixth of a
        run, so they are cached in the checkout under a digest of all
        they depend on: the oracle SQL, the input files, the harness
        that runs it and the DuckDB version."""
        import hashlib
        import pickle

        import duckdb

        from tests import oracle_harness

        digest = hashlib.sha256(duckdb.__version__.encode())
        with open(oracle_harness.__file__, "rb") as f:
            digest.update(f.read())
        for name in self.names:
            digest.update(f"{name}\0{self.oracles.get(name, '')}\0".encode())
        for t in sorted(os.listdir(self.sf_dir)):
            with open(os.path.join(self.sf_dir, t), "rb") as f:
                digest.update(f.read())
        cache = os.path.join(self.ctx.cache_dir, f"oracles-{digest.hexdigest()[:16]}.pkl")
        if os.path.exists(cache):
            with open(cache, "rb") as f:
                self.expected = pickle.load(f)
            return
        for name in self.names:
            if name in self.oracles:
                self.expected[name] = oracle_harness.duckdb_run(self.oracles[name], self.sf_dir)
        tmp = f"{cache}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(self.expected, f)
        os.replace(tmp, cache)

    def setup(self, tracer: Tracer, start_session) -> dict[str, float]:
        from scala_data_pipeline_spark.queries.ext_dedup import _lsh_pairs, _pair_core
        from scala_data_pipeline_spark.sources.tables import load_tables

        parts = {}
        with tracer.span("session", "session") as s:
            self.spark = start_session()
        parts["session"] = s.duration
        with tracer.span("load_tables", "sources") as s:
            load_tables(self.spark, self.sf_dir)
        parts["sources"] = s.duration
        with tracer.span("hubs", "ext") as s:
            with tracer.span("_lsh_pairs", "ext"):
                _lsh_pairs(self.spark, self.sf_dir)
            with tracer.span("_pair_core", "ext"):
                _pair_core(self.spark, self.sf_dir)
        parts["hubs"] = s.duration
        return parts

    def run_pass(self, tracer: Tracer, p: int, traced: bool) -> Pass:
        order = list(self.names)
        random.Random(self.ctx.seed * 1000 + p).shuffle(order)
        ops, check_s = [], 0.0
        with tracer.span(f"pass{p}", "workload") as pass_span:
            for name in order:
                query = self.queries[name]
                collected = {}
                op = self._run_op(
                    tracer, p, name, "queries",
                    lambda q=query: q(self.spark, self.sf_dir),
                    lambda df, out=collected: out.setdefault("pdf", df.toPandas()),
                    traced,
                )
                ops.append(op)
                if op.error is None:
                    with tracer.span("check", "perfbench") as s:
                        self._check(name, p, collected["pdf"])
                    check_s += s.duration
        return Pass(p, pass_span, ops, check_s=check_s)

    def _check(self, name: str, p: int, got) -> None:
        """Compare a collected result with its DuckDB oracle twin
        (``tests/oracle_harness.compare``).  Untimed: it runs between
        operations, outside their spans."""
        from tests.oracle_harness import compare

        try:
            if name in self.expected:
                compare(_Collected(got), self.expected[name], name)
            elif got.empty:
                raise AssertionError(f"{name}: no rows")
        except AssertionError as exc:
            self.failures.append(f"{name} (pass {p}): mismatch: {str(exc).splitlines()[0]}")


def query_mix(queries: dict) -> list[str]:
    """Every fifth query in name order, from the first: few enough that
    a run can warm them up and then time several passes."""
    return sorted(queries)[::5]


class _Collected:
    """Hands an already-collected result to ``compare``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 (DataFrame API)
        return self._pdf


class PipelineWorkload(Workload):
    def __init__(self, ctx):
        super().__init__(ctx)
        self.sf_dir = os.path.join(ctx.work_dir, "inputs")
        self.agg_dir = os.path.join(ctx.work_dir, "agg_input")
        self.held_day = None

    def prepare(self) -> None:
        """The seed's inputs, untimed: the tables the chain reads, with
        their rows in a seed-shuffled order, and the agg stream's files.
        Every seed has the same rows, so every seed does the same work.
        The users_items update holds out the last day, the one a daily
        update adds; with a seed-picked day, the update stage took 2.2 s
        for one day and 3.6 s for another."""
        import numpy as np
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        os.makedirs(self.sf_dir)
        rng = np.random.default_rng(self.ctx.seed)
        for name in ("events", "documents", "customer"):
            table = pq.read_table(os.path.join(self.ctx.sf_dir, f"{name}.parquet"))
            pq.write_table(table.take(rng.permutation(table.num_rows)),
                           os.path.join(self.sf_dir, f"{name}.parquet"))
        ts = pq.read_table(os.path.join(self.sf_dir, "events.parquet"), columns=["ts"])["ts"]
        self.held_day = max(pc.unique(pc.strftime(ts, format="%Y%m%d")).to_pylist())
        self.stage_agg_input()

    def stage_agg_input(self) -> None:
        """The agg stream's source: events in event-time order, split
        into AGG_BATCHES parquet files (the Kafka topic's twin)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        table = pq.read_table(os.path.join(self.sf_dir, "events.parquet"))
        table = table.sort_by("ts")
        ts_idx = table.schema.get_field_index("ts")
        table = table.set_column(
            ts_idx, "ts", table["ts"].cast(pa.timestamp("us", tz="UTC"))
        )
        os.makedirs(self.agg_dir)
        n = table.num_rows
        for i in range(AGG_BATCHES):
            lo, hi = i * n // AGG_BATCHES, (i + 1) * n // AGG_BATCHES
            pq.write_table(
                table.slice(lo, hi - lo),
                os.path.join(self.agg_dir, f"part-{i:04d}.parquet"),
            )

    def setup(self, tracer: Tracer, start_session) -> dict[str, float]:
        from scala_data_pipeline_spark.sources import load_table

        parts = {}
        with tracer.span("session", "session") as s:
            self.spark = start_session()
        parts["session"] = s.duration
        with tracer.span("load_inputs", "sources") as s:
            self.events = load_table(self.spark, self.sf_dir, "events")
            self.docs = load_table(self.spark, self.sf_dir, "documents")
            self.customer = load_table(self.spark, self.sf_dir, "customer")
        parts["sources"] = s.duration
        parts["hubs"] = 0.0
        return parts

    def run_pass(self, tracer: Tracer, p: int, traced: bool) -> Pass:
        from pyspark.sql import functions as F

        from scala_data_pipeline_spark.jobs import (
            dashboard_job,
            data_mart_job,
            features_job,
            filter_job,
            mlproject_job,
            users_items_job,
        )
        from scala_data_pipeline_spark.ml.pipeline import (
            prepare_inference_frame,
            prepare_training_frame,
        )
        from scala_data_pipeline_spark.streaming.windowed import revenue_window_agg

        spark = self.spark
        out = os.path.join(self.ctx.work_dir, f"pass{p}")
        paths = {k: os.path.join(out, k) for k in (
            "filtered", "ui", "features", "mart", "model", "preds", "agg_ckpt")}
        state: dict = {"out": out, "paths": paths}

        def read_stream():
            views = spark.read.json(f"{paths['filtered']}/view")
            buys = spark.read.json(f"{paths['filtered']}/buy")
            return views.unionByName(buys).withColumn(
                "ts", F.col("ts").cast("timestamp"))

        def c_users_items():
            state["stream"] = read_stream()
            return state["stream"].filter(F.col("p_date") != int(self.held_day))

        def x_users_items(early):
            state["p1"] = users_items_job.run(early, paths["ui"], output_files=2)

        def c_update():
            late = state["stream"].filter(F.col("p_date") == int(self.held_day))
            return late, spark.read.parquet(state["p1"])

        def x_update(built):
            late, prev = built
            state["p2"] = users_items_job.run(
                late, paths["ui"], update=True, prev_matrix=prev, output_files=2)

        def c_features():
            visits = state["stream"].filter(F.col("user_id").isNotNull()).select(
                F.col("user_id").alias("uid"),
                F.concat(F.lit("d"), F.from_json("props", "k INT")["k"]).alias("domain"),
                "ts",
            )
            matrix = spark.read.parquet(state["p2"]).withColumnRenamed("user_id", "uid")
            return features_job.build_features(visits, matrix, k=50)

        def c_data_mart():
            clients = self.customer.select(
                F.col("c_custkey").cast("string").alias("uid"),
                F.when(F.col("c_custkey") % 2 == 0, "M").otherwise("F").alias("gender"),
                (F.col("c_custkey") % 50 + 18).cast("int").alias("age"),
            )
            shop_visits = state["stream"].filter(F.col("user_id").isNotNull()).select(
                F.col("user_id").cast("string").alias("uid"),
                F.col("event_type").alias("category"),
            )
            domain_cats = self.docs.select(
                F.concat(F.col("source"), F.lit(".org")).alias("domain"),
                F.col("lang").alias("category"),
            ).distinct()
            logs = self.docs.select(
                F.col("doc_id").cast("string").alias("uid"),
                F.struct(
                    F.lit(0).cast("long").alias("timestamp"),
                    F.concat(F.lit("https://www."), F.col("source"), F.lit(".org/x")).alias("url"),
                ).alias("visit"),
            ).groupBy("uid").agg(F.collect_list("visit").alias("visits"))
            return data_mart_job.build_data_mart(
                clients, shop_visits, domain_cats, logs,
                web_cat_values=["en", "de", "fr", "es", "zh"],
                shop_cat_values=["view", "purchase"],
            )

        def c_agg():
            sdf = (
                spark.readStream.schema(self.events.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.agg_dir)
            )
            state["agg_name"] = f"agg_p{p + 1}"
            return (
                revenue_window_agg(sdf, "60 minutes")
                .writeStream.format("memory")
                .queryName(state["agg_name"])
                .outputMode("complete")
                .option("checkpointLocation", paths["agg_ckpt"])
                .trigger(availableNow=True)
            )

        def x_agg(writer):
            query = writer.start()
            state["agg_query"] = query
            query.awaitTermination()
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))

        stages = {
            "filter": (lambda: self.events,
                       lambda ev: filter_job.run(ev, paths["filtered"], target_files=2)),
            "users_items": (c_users_items, x_users_items),
            "users_items_update": (c_update, x_update),
            "features": (c_features, lambda df: df.write.parquet(paths["features"])),
            "data_mart": (c_data_mart, lambda df: df.write.parquet(paths["mart"])),
            "mlproject": (lambda: prepare_training_frame(self.docs),
                          lambda df: mlproject_job.train(df, paths["model"], vocab_size=64)),
            "dashboard": (lambda: prepare_inference_frame(self.docs),
                          lambda df: dashboard_job.run(paths["model"], df, paths["preds"])),
            "agg": (c_agg, x_agg),
        }
        assert tuple(stages) == PIPELINE_STAGES
        ops = []
        with tracer.span(f"pass{p}", "workload") as pass_span:
            for name, (construct, execute) in stages.items():
                if ops and ops[-1].error:
                    break  # a stage reads the previous stage's output
                ops.append(self._run_op(
                    tracer, p, name, "jobs", construct, execute, traced))
        result = Pass(p, pass_span, ops)
        query = state.get("agg_query")
        if query is not None:
            result.agg_progress = query.recentProgress
            ops[-1].extra_job_groups.append(str(query.runId))
        result.written = _dir_usage(out, exclude=("agg_ckpt",))
        self.last_state = state
        return result

    def check(self, done: Pass) -> None:
        """The chained-lifecycle invariants (tests/test_jobs_e2e.py::
        test_chained_lifecycle_e2e) plus agg stream ≡ batch agg, on this
        pass's outputs.  Untimed."""
        from pyspark.sql import functions as F

        from scala_data_pipeline_spark.jobs import users_items_job
        from scala_data_pipeline_spark.streaming.windowed import revenue_window_agg

        if any(op.error for op in done.ops) or len(done.ops) != len(PIPELINE_STAGES):
            return  # the stage failure is already counted
        spark, st = self.spark, self.last_state
        paths, stream = st["paths"], st["stream"]

        def stream_rows():
            return stream.count() == self.events.filter(
                F.col("event_type").isin("view", "purchase")).count()

        matrix = spark.read.parquet(st["p2"])

        def cell_totals():
            cells = [c for c in matrix.columns if c != "user_id"]
            total = matrix.select(sum(F.sum(c) for c in cells).alias("t")).first()["t"]
            return total == stream.filter(F.col("user_id").isNotNull()).count()

        def incremental_is_oneshot():
            oneshot = spark.read.parquet(users_items_job.run(
                stream, os.path.join(st["out"], "ui_oneshot"), output_files=2))
            return (matrix.exceptAll(oneshot).count() == 0
                    and oneshot.exceptAll(matrix).count() == 0)

        def fractions_in_unit_range():
            feats = spark.read.parquet(paths["features"])
            row = feats.select(
                F.count("*").alias("n"),
                F.min("web_fraction_work_hours").alias("lo_w"),
                F.max("web_fraction_work_hours").alias("hi_w"),
                F.min("web_fraction_evening_hours").alias("lo_e"),
                F.max("web_fraction_evening_hours").alias("hi_e"),
            ).first()
            return (row["n"] == matrix.count()
                    and 0.0 <= row["lo_w"] <= row["hi_w"] <= 1.0
                    and 0.0 <= row["lo_e"] <= row["hi_e"] <= 1.0)

        def mart_age_buckets():
            mart = spark.read.parquet(paths["mart"])
            cats = {r[0] for r in mart.select("age_cat").distinct().collect()}
            return mart.count() > 0 and cats <= {"18-24", "25-34", "35-44", "45-54", ">=55"}

        def predictions_per_document():
            preds = spark.read.parquet(paths["preds"])
            labels = {r[0] for r in self.docs.select("lang").distinct().collect()}
            got = {r[0] for r in preds.select("predicted").distinct().collect()}
            return preds.count() == self.docs.count() and got <= labels

        def agg_stream_is_batch():
            import pandas as pd

            cols = ["window_start", "window_end", "revenue", "visitors", "purchases", "aov"]
            got = spark.sql(f"SELECT * FROM {st['agg_name']}").toPandas()[cols]
            want = revenue_window_agg(self.events, "60 minutes").toPandas()[cols]
            got = got.sort_values(cols[:2], ignore_index=True)
            want = want.sort_values(cols[:2], ignore_index=True)
            pd.testing.assert_frame_equal(got, want, check_exact=False, rtol=1e-9)
            return True

        checks = (stream_rows, cell_totals, incremental_is_oneshot,
                  fractions_in_unit_range, mart_age_buckets,
                  predictions_per_document, agg_stream_is_batch)
        for check in checks:
            self.attempted += 1
            try:
                ok = check()
                error = None if ok else "invariant does not hold"
            except Exception as exc:  # noqa: BLE001 (reported by name)
                error = f"{type(exc).__name__}: {exc}"
            if error:
                self.failures.append(
                    f"{check.__name__} (pass {done.index}): {error.splitlines()[0]}")
        spark.catalog.dropTempView(st["agg_name"])


def _dir_usage(root: str, exclude: tuple[str, ...]) -> tuple[int, int]:
    """Bytes and data files under ``root`` (hidden, ``_SUCCESS`` and
    checksum files left out)."""
    total = files = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if d not in exclude]
        for f in filenames:
            if f.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(dirpath, f))
            files += 1
    return total, files

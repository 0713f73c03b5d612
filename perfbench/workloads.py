"""The benchmark's workloads.

Each workload runs in one process on one SparkSession and goes through four
phases: set-up, including warm-up (``setup_s``), a timed region of passes,
an output check outside the timed region, and teardown. ``pass_s`` is the
median pass: for the batch workload, every query built and run once; for
the streaming workload, one micro-batch of a closed-loop drain.

With tracing on, the timed region also holds traced passes: batch passes
alternate between untraced and traced, and the stream drains its slice once
more with tracing. The traced passes give the per-layer metrics, and the
difference between traced and untraced passes the tracing overhead.
"""

from __future__ import annotations

import os
import random
import statistics
import time
import traceback

import check
import stats
from tracing import ProgressLog, SparkCounters

# Registry queries whose physical plans run Python (Arrow) kernels, where
# construction (eager checkpoints and counts) and kernel work dominate a
# pass; warc_gz_source_roundtrip exercises the sources layer and
# ksql_runbook_predictions the KSQL compat layer and the batch predict
# path. A subset of the registry sized to the run's time budget: a run pays
# a cold check pass before the timed one.
KERNEL_QUERIES = (
    "pagerank_near_dup",
    "prf_query_expansion",
    "dbscan_embedding_clusters",
    "doc_quality_score",
    "corpus_curation_pipeline",
    "minhash_near_dup_pairs",
    "warc_gz_source_roundtrip",
    "ksql_runbook_predictions",
)

# The batch workload reads sf0.01: at sf0.1 one pass takes ~20 s on 4 cores,
# and a run could not then fit a cold check pass and a timed pass in its
# time budget. The stream replays the sf0.1 events.
BATCH_SF = "sf0.01"
STREAM_SF = "sf0.1"
# The stream stages a slice of the events log cut into STREAM_FILES equal
# time ranges, one file per micro-batch, sized so the timed drain lasts
# about --seconds at NOMINAL_BATCH_S per batch. The work is fixed by
# --seconds, not by the measured speed.
STREAM_FILES = 100
NOMINAL_BATCH_S = 0.5
MIN_STREAM_FILES = 10
WARMUP_DRAINS = 2
WATERMARK_DELAY = "2 minutes"
MODEL = "bot_detector"

PER_LAYER = (
    ("session.start_s", "s"),
    ("registry.import_s", "s"),
    ("ml.resolve_model_s", "s"),
    ("registry.build_s", "s"),
    ("registry.build_jobs", "count"),
    ("registry.build_share", "ratio"),
    ("spark.exec_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"),
    ("spark.shuffle_read_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"),
    ("io.input_bytes", "B"),
    ("spark.core_util", "ratio"),
    ("operators.python_run_ms", "ms"),
    ("operators.python_start_ms", "ms"),
    ("operators.python_bytes_sent", "B"),
    ("operators.python_bytes_returned", "B"),
    ("streaming.batches", "count"),
    ("streaming.input_rows", "count"),
    ("streaming.output_rows", "count"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.state_rows_total", "count"),
    ("streaming.state_rows_updated", "count"),
    ("streaming.state_memory_bytes", "B"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.rows_dropped_by_watermark", "count"),
    ("streaming.batch_latency_ms", "ms"),
    ("streaming.batch_latency_tail_ms", "ms"),
    ("streaming.batch_latency_tail_pct", "%"),
    ("streaming.latency_samples", "count"),
    ("streaming.events_per_s", "1/s"),
    ("sinks.write_ms", "ms"),
    ("sinks.rows_written", "count"),
    ("sinks.bytes_written", "B"),
    ("trace.overhead_s", "s"),
) + tuple(
    (f"{phase}.{q}", "s") for q in KERNEL_QUERIES for phase in ("build_s", "exec_s")
)

END_TO_END = (("setup_s", "s"), ("pass_s", "s"))


def query_order(rng: random.Random, names) -> list[str]:
    """One pass's query order, drawn from the run's seeded generator."""
    order = list(names)
    rng.shuffle(order)
    return order


class Run:
    """State of one benchmark run: session, counters and results."""

    def __init__(self, work_dir: str, seed: int, tracing: bool):
        self.work_dir = work_dir
        self.rng = random.Random(seed)
        self.tracing = tracing
        self.cores = os.cpu_count() or 1
        self.spark = None
        self.counters = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layers: dict[str, float] = dict.fromkeys((n for n, _ in PER_LAYER), 0.0)
        self.setup_s = 0.0
        self.pass_times: list[float] = []
        self.traced_times: list[float] = []
        self.pass_kinds: list[str] = []
        self.references = check.ReferenceStore(
            os.path.join(os.path.dirname(work_dir), "references.json")
        )

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)

    def start_session(self) -> None:
        t0 = time.perf_counter()
        from streaming_ml_with_ksql_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench")
        self.layers["session.start_s"] = time.perf_counter() - t0
        self.counters = SparkCounters(self.spark)

    def timed_passes(self, seconds: float, one_pass) -> None:
        """Run whole passes, stopping at the pass boundary nearest to
        ``seconds``; at least one pass, and with tracing, passes alternate
        untraced and traced, at least one of each."""
        start = time.perf_counter()
        i = 0
        while True:
            traced = self.tracing and i % 2 == 1
            t0 = time.perf_counter()
            kind = one_pass(traced)
            elapsed = time.perf_counter() - t0
            if traced:
                self.traced_times.append(elapsed)
            else:
                self.pass_times.append(elapsed)
                self.pass_kinds.append(kind)
            i += 1
            mean = (time.perf_counter() - start) / i
            done = time.perf_counter() - start + mean / 2 >= seconds
            if done and (not self.tracing or self.traced_times):
                break

    def finish_layers(self, per_pass: list[dict]) -> None:
        """Per-layer values: the median over traced passes of each per-pass
        total, and the tracing overhead."""
        if not per_pass:
            return
        for name in per_pass[0]:
            self.layers[name] = statistics.median(p[name] for p in per_pass)
        self.layers["trace.overhead_s"] = stats.median(self.traced_times) - stats.median(
            self.pass_times
        )

    def end_to_end(self) -> dict[str, float]:
        return {"setup_s": self.setup_s, "pass_s": stats.median(self.pass_times)}


# --------------------------------------------------------------------------
# batch workloads
# --------------------------------------------------------------------------


def _reset_state(spark) -> None:
    """Clear the SQL cache between queries, so no query reuses a plan
    another one persisted."""
    spark.catalog.clearCache()


class BatchWorkload:
    """Every query of a list built through ``registry.queries()`` and run
    with the noop sink, in a seed-permuted order per pass."""

    def __init__(self, run: Run, names, sf_dir: str):
        self.run = run
        self.names = tuple(names)
        self.sf_dir = sf_dir
        self.queries = None
        self.results: dict = {}
        self.per_pass: list[dict] = []

    def setup(self) -> None:
        run = self.run
        run.start_session()
        t0 = time.perf_counter()
        from streaming_ml_with_ksql_spark import registry

        self.queries = registry.queries()
        run.layers["registry.import_s"] = time.perf_counter() - t0
        # The first pass collects each result for the output check; it also
        # compiles the plans and starts the Python workers, which makes it
        # 2-3x slower than the passes after it.
        for name in query_order(run.rng, self.names):
            run.attempted += 1
            try:
                self.results[name] = self.queries[name](run.spark, self.sf_dir).toPandas()
            except Exception:
                run.fail(f"{name}: {traceback.format_exc(limit=3)}")
            _reset_state(run.spark)

    def measure(self, seconds: float) -> None:
        self.run.timed_passes(seconds, self.one_pass)

    def one_pass(self, traced: bool) -> str:
        """Build and run every query once; returns the pass's kind, the
        queries that completed."""
        run = self.run
        spark = run.spark
        sc = spark.sparkContext
        totals: dict[str, float] = {}
        completed = []
        build_jobs: list[int] = []
        exec_jobs: list[int] = []
        if traced:
            run.counters.settle()
            run.counters.python_metrics()  # skip executions of earlier work
        pass_start = time.perf_counter()
        for name in query_order(run.rng, self.names):
            run.attempted += 1
            try:
                if traced:
                    sc.setJobGroup(f"build:{name}", name)
                t0 = time.perf_counter()
                df = self.queries[name](spark, self.sf_dir)
                t1 = time.perf_counter()
                if traced:
                    sc.setJobGroup(f"exec:{name}", name)
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception:
                run.fail(f"{name}: {traceback.format_exc(limit=3)}")
                continue
            finally:
                if traced:
                    sc.setJobGroup("perfbench", "between queries")
            completed.append(name)
            if traced:
                run.counters.settle()
                totals[f"build_s.{name}"] = t1 - t0
                totals[f"exec_s.{name}"] = t2 - t1
                build_jobs += run.counters.group_jobs(f"build:{name}")
                exec_jobs += run.counters.group_jobs(f"exec:{name}")
            _reset_state(spark)
        kind = "+".join(sorted(completed))
        if not traced:
            return kind
        wall = time.perf_counter() - pass_start
        build_s = sum(v for k, v in totals.items() if k.startswith("build_s."))
        exec_s = sum(v for k, v in totals.items() if k.startswith("exec_s."))
        exec_c = run.counters.jobs(exec_jobs)
        both = {k: v + exec_c[k] for k, v in run.counters.jobs(build_jobs).items()}
        totals.update(run.counters.python_metrics())
        totals.update(
            {
                "registry.build_s": build_s,
                "registry.build_jobs": float(len(build_jobs)),
                "registry.build_share": build_s / (build_s + exec_s),
                "spark.exec_s": exec_s,
                "spark.jobs": exec_c["jobs"],
                "spark.stages": exec_c["stages"],
                "spark.tasks": exec_c["tasks"],
                "spark.executor_run_ms": both["executor_run_ms"],
                "spark.shuffle_read_bytes": both["shuffle_read_bytes"],
                "spark.shuffle_write_bytes": both["shuffle_write_bytes"],
                "io.input_bytes": both["input_bytes"],
                "spark.core_util": both["executor_run_ms"] / (wall * 1000.0 * run.cores),
            }
        )
        self.per_pass.append(totals)
        return kind

    def verify(self) -> None:
        """Compare each collected result with its DuckDB oracle on the same
        data. A query without an oracle must return rows, and the same rows
        as the first run in this checkout recorded."""
        run = self.run
        from streaming_ml_with_ksql_spark import io as io_mod
        from streaming_ml_with_ksql_spark import registry

        oracles = registry.oracle_sql()
        stamp = check.data_stamp(self.sf_dir, io_mod.TABLES)
        for name, pdf in self.results.items():
            got = check.fingerprint(pdf)
            sql = oracles.get(name)
            key = run.references.key(stamp, sql if sql else f"spark:{name}")
            want = run.references.get(name, key)
            if want is None:
                if sql:
                    want = check.oracle_fingerprint(sql, self.sf_dir, io_mod.TABLES)
                elif got["rows"] > 0:
                    want = got
                else:
                    run.fail(f"{name}: no rows")
                    continue
                run.references.put(name, key, want)
            why = check.mismatch(got, want)
            if why:
                run.fail(f"{name}: output differs from reference: {why}")
        run.references.save()


# --------------------------------------------------------------------------
# streaming workload
# --------------------------------------------------------------------------


def _scored(events, users, finalized_before=None):
    """The serving pipeline: hopping-window aggregate, LEFT JOIN with the
    users table, ``predict``. The model reads the window counts under its
    signature's feature names."""
    from pyspark.sql import functions as F

    from streaming_ml_with_ksql_spark.streaming import queries

    agg = queries.hopping_window_stream(events, watermark_delay=WATERMARK_DELAY)
    if finalized_before is not None:
        agg = agg.filter(F.col("window_end") <= finalized_before)
    feats = agg.select(
        "window_start",
        "window_end",
        "user_id",
        F.col("n_events").alias("events_in_window"),
        F.col("view_count").alias("views_in_window"),
        F.col("click_count").alias("clicks_in_window"),
        F.col("purchase_count").alias("purchases_in_window"),
    )
    return queries.enrich_and_score_stream(
        feats, users, dim_key="c_custkey", model_name=MODEL
    )


class StreamWorkload:
    """The reference's serving query as one Structured Streaming query in a
    closed loop: ``availableNow`` with one file per trigger, so each
    micro-batch starts when the previous one committed. Results go to the
    JSONL collection sink (the Mongo stand-in).

    The seed picks a time slice of the events log, staged as one file per
    micro-batch. In set-up warm-up queries drain the slice; the timed
    query drains it again. A pass is one micro-batch, timed by its
    ``triggerExecution`` from trigger start to sink commit."""

    def __init__(self, run: Run, sf_dir: str, seconds: float):
        self.run = run
        self.sf_dir = sf_dir
        self.files = max(MIN_STREAM_FILES, round(seconds / NOMINAL_BATCH_S))
        self.replay = ""
        self.users = None
        self.log = ProgressLog()
        self.collections: list[str] = []
        self.per_pass: list[dict] = []

    def setup(self) -> None:
        from pyspark.sql import functions as F

        run = self.run
        run.start_session()
        spark = run.spark
        from streaming_ml_with_ksql_spark import io as io_mod
        from streaming_ml_with_ksql_spark.ml import predict as ml_predict
        from streaming_ml_with_ksql_spark.streaming import source

        t0 = time.perf_counter()
        ml_predict.resolve_model(MODEL)
        run.layers["ml.resolve_model_s"] = time.perf_counter() - t0

        spark.streams.addListener(self.log)
        spark.conf.set(
            "spark.sql.streaming.checkpointLocation",
            os.path.join(run.work_dir, "checkpoints"),
        )
        events = io_mod.load_table(spark, self.sf_dir, "events")
        lo, hi = events.agg(F.min("ts"), F.max("ts")).first()
        step = (hi - lo) / STREAM_FILES
        first = lo + step * run.rng.randrange(STREAM_FILES - self.files + 1)
        last = first + step * self.files
        self.replay = os.path.join(run.work_dir, "replay")
        source.shard_table_to_dir(
            events.filter((F.col("ts") >= F.lit(first)) & (F.col("ts") < F.lit(last))),
            self.replay,
            num_shards=self.files,
        )
        self.users = io_mod.load_table(spark, self.sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        # The first batches of a fresh JVM run 1.5-3x slower than later
        # ones, and those of the drain after one warm-up drain still speed
        # up by ~12% from its first half to its second.
        for _ in range(WARMUP_DRAINS):
            self._drain(traced=False)

    def measure(self, seconds: float) -> None:
        """The timed drain; with tracing, an untraced and a traced one."""
        run = self.run
        run.pass_times = self._drain(traced=False)
        run.pass_kinds = ["micro-batch"] * len(run.pass_times)
        if run.tracing:
            run.traced_times = self._drain(traced=True)

    def _drain(self, traced: bool) -> list[float]:
        """Drain the slice with a fresh query; returns the latencies, in
        seconds, of the micro-batches that read a file."""
        from streaming_ml_with_ksql_spark.streaming import sinks, source

        run = self.run
        sink_dir = os.path.join(run.work_dir, f"collection-{len(self.collections)}")
        self.collections.append(sink_dir)
        writer = sinks.foreach_batch_jsonl_collection(sink_dir)
        write_ms: list[float] = []
        if traced:
            inner = writer

            def writer(batch_df, batch_id):
                t0 = time.perf_counter()
                inner(batch_df, batch_id)
                write_ms.append((time.perf_counter() - t0) * 1000.0)

            run.counters.settle()
            run.counters.python_metrics()
        started = len(self.log.started)
        t0 = time.perf_counter()
        try:
            stream = source.stream_parquet_dir(
                run.spark, self.replay, max_files_per_trigger=1
            )
            sinks.run_foreach_batch(_scored(stream, self.users), writer)
        except Exception:
            run.attempted += 1
            run.fail(f"drain {len(self.collections)}: {traceback.format_exc(limit=3)}")
            return []
        wall = time.perf_counter() - t0
        run.counters.settle()
        run_id = self.log.started[started]
        progress = self.log.of_run(run_id)
        run.attempted += len(progress)
        data = [p for p in progress if p.numInputRows > 0]
        latencies = [p.durationMs.get("triggerExecution", 0) / 1000.0 for p in data]
        if traced:
            self.per_pass.append(
                self._layers(run_id, progress, data, wall, write_ms, sink_dir)
            )
        return latencies

    def _layers(self, run_id, progress, data, wall, write_ms, sink_dir) -> dict:
        run = self.run

        def per_batch(key):
            return float(statistics.median(p.durationMs.get(key, 0) for p in data))

        def state(attr):
            return [getattr(op, attr) for p in progress for op in p.stateOperators]

        c = run.counters.jobs(run.counters.group_jobs(run_id))
        input_rows = sum(p.numInputRows for p in progress)
        rows = nbytes = 0
        for f in os.listdir(sink_dir):
            if f.endswith(".jsonl"):
                path = os.path.join(sink_dir, f)
                nbytes += os.path.getsize(path)
                with open(path) as fh:
                    rows += sum(1 for _ in fh)
        latencies = [p.durationMs.get("triggerExecution", 0) for p in data]
        out = {
            "spark.exec_s": wall,
            "spark.jobs": c["jobs"],
            "spark.stages": c["stages"],
            "spark.tasks": c["tasks"],
            "spark.executor_run_ms": c["executor_run_ms"],
            "spark.shuffle_read_bytes": c["shuffle_read_bytes"],
            "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
            "io.input_bytes": c["input_bytes"],
            "spark.core_util": c["executor_run_ms"] / (wall * 1000.0 * run.cores),
            "streaming.batches": float(len(progress)),
            "streaming.input_rows": float(input_rows),
            "streaming.output_rows": float(rows),
            "streaming.add_batch_ms": per_batch("addBatch"),
            "streaming.query_planning_ms": per_batch("queryPlanning"),
            "streaming.latest_offset_ms": per_batch("latestOffset"),
            "streaming.wal_commit_ms": per_batch("walCommit"),
            "streaming.state_rows_total": float(progress[-1].stateOperators[0].numRowsTotal),
            "streaming.state_rows_updated": float(sum(state("numRowsUpdated"))),
            "streaming.state_memory_bytes": float(max(state("memoryUsedBytes"))),
            "streaming.state_commit_ms": float(statistics.median(state("commitTimeMs"))),
            "streaming.rows_dropped_by_watermark": float(
                sum(state("numRowsDroppedByWatermark"))
            ),
            "streaming.batch_latency_ms": statistics.median(latencies),
            "streaming.latency_samples": float(len(latencies)),
            "streaming.events_per_s": input_rows / wall,
            "sinks.write_ms": statistics.median(write_ms),
            "sinks.rows_written": float(rows),
            "sinks.bytes_written": float(nbytes),
        }
        t = stats.tail(latencies)
        if t is not None:
            out["streaming.batch_latency_tail_pct"] = t[0]
            out["streaming.batch_latency_tail_ms"] = t[1]
        out.update(run.counters.python_metrics())
        return out

    def verify(self) -> None:
        """A collection must equal the batch twin over the slice: the
        aggregate restricted to the windows the final watermark finalized,
        the same join and the same model. A replay splits into the same
        micro-batches, so a collection must be byte-identical to the first
        one checked; one that is not is compared with the twin too."""
        from pyspark.sql import functions as F

        run = self.run
        spark = run.spark
        twin = None
        checked = None
        for sink_dir in self.collections:
            name = os.path.basename(sink_dir)
            if not os.path.isdir(sink_dir):
                run.fail(f"{name}: no collection written")
                continue
            content = _collection_bytes(sink_dir)
            if content == checked:
                continue
            if twin is None:
                events = spark.read.parquet(self.replay)
                max_ts = events.agg(F.max("ts")).first()[0]
                watermark = F.lit(max_ts) - F.expr(f"INTERVAL {WATERMARK_DELAY}")
                frame = _scored(events, self.users, finalized_before=watermark)
                twin = (frame.schema, check.spark_fingerprint(frame))
            schema, want = twin
            got = check.spark_fingerprint(spark.read.schema(schema).json(sink_dir))
            why = check.mismatch(got, want)
            if why:
                run.fail(f"{name}: differs from batch twin: {why}")
            elif checked is None:
                checked = content


def _collection_bytes(sink_dir: str) -> dict[str, bytes]:
    out = {}
    for f in sorted(os.listdir(sink_dir)):
        if f.endswith(".jsonl"):
            with open(os.path.join(sink_dir, f), "rb") as fh:
                out[f] = fh.read()
    return out

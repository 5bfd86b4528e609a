"""The benchmark's workloads. Each is driven by one client in a closed
loop: the next operation starts only when the last one has completed.

A workload prepares its seeded inputs, names its warm-up operation (part
of set-up), runs measured passes that record each operation's latency,
checks the passes' outputs, and, when traced, reports its layer counters.
"""

from __future__ import annotations

import os
import shutil

import duckdb

from ai_powered_e_commerce_analytics_spark.pipeline import (
    EngineConfig,
    run_etl_pipeline,
    run_review_pipeline,
)
from ai_powered_e_commerce_analytics_spark.plans import query_map
from ai_powered_e_commerce_analytics_spark.plans.quantiles import release_arranged_cache
from ai_powered_e_commerce_analytics_spark.schemas import BRONZE_PRODUCTS, TESTDATA_TABLES
from ai_powered_e_commerce_analytics_spark.sinks import read_upsert_table
from ai_powered_e_commerce_analytics_spark.sources import read_json_dir
from ai_powered_e_commerce_analytics_spark.streaming.jobs import (
    SESSION_GAP_US,
    session_window_stream,
)

from . import check, gen
from .llm import ClientFactory, Counters
from .trace import epoch

# Full-size and test-size inputs. Table scale 0.01 is the engine's
# oracle-test scale (lineitem 60k rows, events 10k rows). Eight queries,
# one medallion round and a 6-file stream keep a run near one minute on 4
# cores: an ETL call costs about 18 s at any input size, and the
# benchmark's runs must all fit in under an hour.
SIZES = {
    "full": {"scale": 0.01, "bronze_rows": 2000, "bronze_files": 8, "rounds": 1, "stream_files": 6},
    "tiny": {"scale": 0.001, "bronze_rows": 200, "bronze_files": 2, "rounds": 1, "stream_files": 3},
}
WARM_SCALE = 0.001

QUERIES_LIGHT = [
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier_volume",
    "user_kpis",
    "events_user_sessions",
    "retention_cohorts",
    "asof_last_click_before_purchase",
    "text_quality",
    "order_value_outliers_zscore",
]

EVENT_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def dir_bytes(*dirs: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for d in dirs
        for root, _, files in os.walk(d)
        for f in files
    )


def release(spark) -> None:
    """Drop everything a query pinned, as a library caller must."""
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    spark.catalog.clearCache()
    release_arranged_cache()


class QueriesLight:
    """8 headline queries that persist nothing and fire few build jobs:
    fixed per-query costs (schema inference, planning, short stages)
    dominate, and the sharing layer is never used."""

    name = "queries-light"
    PASS_S = 5.0

    def __init__(self, work: str, seed: int, size: str):
        self.data = os.path.join(work, "data")
        self.warm = os.path.join(work, "warm")  # separate tables for the warm-up op
        self.input_bytes = gen.write_tables(self.data, seed, SIZES[size]["scale"])
        gen.write_tables(self.warm, seed + 1, WARM_SCALE)
        self.queries = query_map()
        self.results: list[tuple[str, object]] = []

    def passes(self, seconds: float) -> int:
        """Passes per run, one per PASS_S of ``seconds``: two at the
        benchmark's 10 s. The first pass is each query's first run in the
        session, which compiles its plan's code; the others run warm. The
        end-to-end metrics report all passes together."""
        return max(1, round(seconds / self.PASS_S))

    def warm_up(self, spark) -> None:
        self.queries[QUERIES_LIGHT[0]](spark, self.warm).toPandas()
        release(spark)

    def run_pass(self, spark, tracer, latencies: list[float], failures: list[str]) -> None:
        for name in QUERIES_LIGHT:
            with tracer.span(name, "bench") as op:
                try:
                    with tracer.span("build", "plans.build"):
                        df = self.queries[name](spark, self.data)
                    if tracer.enabled:
                        with tracer.span("plan", "catalyst.plan"):
                            df._jdf.queryExecution().executedPlan()
                    with tracer.span("exec", "exec.run"):
                        pdf = df.toPandas()
                    self.results.append((name, pdf))
                except Exception as e:  # a failed query is counted, not fatal
                    failures.append(f"{name}: {type(e).__name__}: {e}"[:500])
                with tracer.span("release", "share.release"):
                    release(spark)
            latencies.append(op.end - op.start)

    def check(self, spark) -> tuple[int, list[str]]:
        from ai_powered_e_commerce_analytics_spark.plans import oracle_sql_map

        oracles = oracle_sql_map()
        con = check.oracle_connection(self.data, TESTDATA_TABLES)
        want = {}
        failed, errs = 0, []
        for name, pdf in self.results:
            if name not in want:
                want[name] = check.canonical_hash(con.execute(oracles[name]).fetchdf())
            e = check.check_query(pdf, want[name])
            if e:
                failed += 1
                errs += [f"{name}: {x}" for x in e]
        return failed, errs

    def stored_bytes(self) -> int:
        return 0  # every query's result goes to the client

    def layer_metrics(self) -> dict[str, float]:
        return {}


class MedallionStream:
    """The write side: seeded bronze JSON rounds through the review and ETL
    pipelines with the benchmark LLM client and keyed KPI upserts, then the
    event-time-ordered ``events`` split replayed through the session-window
    stream."""

    name = "medallion-stream"
    KPI_TABLES = ("user_kpis", "shop_kpis", "date_kpis")

    def __init__(self, work: str, seed: int, size: str):
        cfg = SIZES[size]
        self.seed = seed
        self.data = os.path.join(work, "data")
        d = lambda *p: os.path.join(self.data, *p)  # noqa: E731
        self.bronze_new, self.bronze_archive = d("bronze", "new"), d("bronze", "archive")
        self.silver, self.silver_archive = d("silver", "to_process"), d("silver", "archive")
        self.gold, self.kpi = d("gold"), d("kpi")
        self.stream_src, self.stream_ck = d("stream", "src"), d("stream", "checkpoint")
        self.staged = []
        for r in range(cfg["rounds"]):
            self.staged.append(gen.write_bronze_round(
                os.path.join(work, "staged", f"round{r}"), seed, r,
                cfg["bronze_rows"], cfg["bronze_files"],
            ))
        tables = os.path.join(work, "tables")
        gen.write_tables(tables, seed, cfg["scale"])
        gen.write_event_split(os.path.join(tables, "events.parquet"),
                              self.stream_src, cfg["stream_files"])
        self.input_bytes = dir_bytes(os.path.join(work, "staged"), self.stream_src)
        self.warm_bronze = os.path.join(work, "warm", "bronze")
        gen.write_bronze_round(self.warm_bronze, seed + 1, 0, 50, 1)
        self.kpi_frames: dict[str, object] = {}
        self.query = None
        self.counters = None

    def passes(self, seconds: float) -> int:
        """One pass: its rounds and its stream consume the generated inputs."""
        return 1

    def warm_up(self, spark) -> None:
        read_json_dir(spark, self.warm_bronze, BRONZE_PRODUCTS).count()

    def run_pass(self, spark, tracer, latencies: list[float], failures: list[str]) -> None:
        self.counters = Counters(spark.sparkContext)
        factory = ClientFactory(self.seed, self.counters)
        config = EngineConfig()
        for r, files in enumerate(self.staged):
            os.makedirs(self.bronze_new, exist_ok=True)
            for f in files:
                shutil.copy(f, self.bronze_new)
            steps = [
                ("review", "pipeline.review", lambda: run_review_pipeline(
                    spark, self.bronze_new, self.silver, self.bronze_archive,
                    config=config, client_factory=factory)),
                ("etl", "pipeline.etl", lambda: run_etl_pipeline(
                    spark, self.silver, self.gold, self.kpi, self.silver_archive,
                    config=config, client_factory=factory)),
            ] + [
                (f"read {t}", "sinks.read_upsert",
                 lambda t=t: self.kpi_frames.__setitem__(
                     t, read_upsert_table(spark, os.path.join(self.kpi, t)).toPandas()))
                for t in self.KPI_TABLES
            ]
            for name, layer, fn in steps:
                with tracer.span(f"round{r} {name}", layer) as op:
                    try:
                        fn()
                    except Exception as e:  # a failed call is counted, not fatal
                        failures.append(f"round{r} {name}: {type(e).__name__}: {e}"[:500])
                latencies.append(op.end - op.start)
        stream = (
            spark.readStream.schema(EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(self.stream_src)
        )
        with tracer.span("stream", "stream.lifecycle") as s:
            self.query = (
                session_window_stream(stream)
                .writeStream.format("memory")
                .queryName("bench_sessions")
                .outputMode("append")
                .option("checkpointLocation", self.stream_ck)
                .trigger(availableNow=True)
                .start()
            )
            self.query.awaitTermination()
        tracer.group_alias[str(self.query.runId)] = s.id
        if self.query.exception() is not None:
            failures.append(f"stream: {self.query.exception()}"[:500])
        for p in self.query.recentProgress:
            d = p["durationMs"]
            latencies.append(d["triggerExecution"] / 1e3)
            start = epoch(p["timestamp"])
            b = tracer.child(s, f"batch {p['batchId']}", "stream.batch",
                             start, start + d["triggerExecution"] / 1e3)
            t = start
            for phase, layer in (("latestOffset", "stream.source"), ("getBatch", "stream.source"),
                                 ("queryPlanning", "stream.query_planning"),
                                 ("addBatch", "stream.add_batch"),
                                 ("walCommit", "stream.wal_commit"),
                                 ("commitOffsets", "stream.commit_offsets")):
                ms = d.get(phase, 0)
                tracer.child(b, phase, layer, t, t + ms / 1e3)
                t += ms / 1e3

    def check(self, spark) -> tuple[int, list[str]]:
        failed, errs = 0, []
        want = check.expected_kpis(self.staged)
        for t in self.KPI_TABLES:
            e = check.check_kpis(self.kpi_frames[t], want[t], check.KPI_KEYS[t])
            failed += bool(e)
            errs += e
        e = check.check_empty_dirs(self.bronze_new, self.silver)
        failed += bool(e)
        errs += e
        row = lambda r: (r.user_id, r.session_start_us, r.session_end_us, r.n_events, r.revenue)  # noqa: E731
        streamed = {row(r) for r in spark.table("bench_sessions").collect()}
        batch_df = spark.read.schema(EVENT_SCHEMA).parquet(self.stream_src)
        batch = {row(r) for r in session_window_stream(batch_df).collect()}
        wm = epoch(self.query.recentProgress[-1]["eventTime"]["watermark"])
        e = check.check_sessions(streamed, batch, round(wm * 1e6), SESSION_GAP_US)
        failed += bool(e)
        errs += e
        return failed, errs

    def stored_bytes(self) -> int:
        """Bytes the pass left under silver, gold, the KPI tables and the
        stream's checkpoint and state; the archived bronze inputs are not
        counted."""
        return dir_bytes(self.silver_archive, self.silver, self.gold, self.kpi, self.stream_ck)

    def layer_metrics(self) -> dict[str, float]:
        c = self.counters.values()
        batches = c["calls"] - c["retries"]
        nulls = _null_rows(self.silver_archive, "review") + _null_rows(self.gold, "sentiment")
        ok = c["first_try_ok"] + c["retries"]  # every retry of this client succeeds
        m = {
            "enrich.batches": batches,
            "enrich.first_try_ok": c["first_try_ok"],
            "enrich.retries": c["retries"],
            "enrich.null_filled_rows": nulls,
            "enrich.llm_wait_s": c["llm_wait_s"],
            "enrich.ok_ratio": ok / c["calls"] if c["calls"] else 0.0,
            "enrich.map_task_s": c["map_task_s"],
            "pipeline.files_archived": _count_files(self.bronze_archive, self.silver_archive),
            "sinks.bytes_written": dir_bytes(self.silver_archive, self.silver, self.gold, self.kpi),
            "sinks.files_written": _count_files(self.silver_archive, self.silver, self.gold, self.kpi),
            "sinks.manifest_versions": sum(_manifest_version(os.path.join(self.kpi, t))
                                           for t in self.KPI_TABLES),
            "sinks.stored_bytes_per_input_byte": self.stored_bytes() / self.input_bytes,
        }
        progress = self.query.recentProgress
        ops = [op for p in progress for op in p["stateOperators"]]
        m.update({
            "stream.batches": len(progress),
            "stream.input_rows": sum(p["numInputRows"] for p in progress),
            "stream.state_rows": progress[-1]["stateOperators"][0]["numRowsTotal"] if ops else 0,
            "stream.state_bytes": max((op["memoryUsedBytes"] for op in ops), default=0),
            "stream.late_rows_dropped": sum(op.get("numRowsDroppedByWatermark", 0) for op in ops),
            # summed over state-store partitions: task time, not wall time
            "stream.state_commit_s": sum(op["commitTimeMs"] for op in ops) / 1e3,
        })
        return m


def _count_files(*dirs: str) -> int:
    return sum(len(files) for d in dirs for _, _, files in os.walk(d))


def _manifest_version(table: str) -> int:
    names = [f for f in os.listdir(table) if f.startswith("_MANIFEST-v")]
    return max((int(f[len("_MANIFEST-v"):].split(".")[0]) for f in names), default=0)


def _null_rows(d: str, col: str) -> int:
    files = [os.path.join(r, f) for r, _, fs in os.walk(d) for f in fs if f.endswith(".json")]
    if not files:
        return 0
    return duckdb.sql(
        f"SELECT count(*) FROM read_json_auto({files!r}) WHERE {col} IS NULL"
    ).fetchone()[0]


WORKLOADS = {w.name: w for w in (QueriesLight, MedallionStream)}

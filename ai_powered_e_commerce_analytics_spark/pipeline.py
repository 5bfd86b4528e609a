"""Batch pipeline orchestrators (SURVEY.md §2.11 M1-M3, §3 lifecycles).

Three entry points mirroring the reference's services:

- :func:`run_etl_pipeline`   — etl_pipeline/main.py:24-62 (silver →
  sentiment LLM → gold + 3 KPI upserts → archive consumed files)
- :func:`run_review_pipeline` — Clients/go/cmd/main.go:34-79 (bronze →
  item ids → review LLM → merge → chunked silver → archive)
- :func:`run_collector`       — collect/collector.py:110-128 (pull →
  pool-enrich → bronze files)

Streaming twins with checkpointed exactly-once semantics live in
streaming/jobs.py; these are the batch-parity forms. Batch-mode file
archival (S9) uses the Hadoop FS rename — same at-least-once contract as
the reference's retry-carryover move (data_loader.py:38-51): a failed
rename leaves the file for the next run, and the keyed MERGE makes
reprocessing idempotent.
"""

from __future__ import annotations

import logging
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.core import released, share
from .operators.enrich import (
    StubLLMClient,
    assign_from_pool,
    assign_item_ids,
    enrich_reviews,
    enrich_sentiments,
    make_shop_pool,
    make_user_pool,
    retry_residuals,
)
from .operators.kpis import all_kpis
from .schemas import BRONZE_PRODUCTS, SILVER_REVIEWS, validate_columns
from .sinks import upsert_kpi_tables, write_gold_snapshot, write_silver_chunks
from .sources import read_json_dir

log = logging.getLogger(__name__)


@dataclass
class EngineConfig:
    """M3: the reference's YAML/env config surface (config.yaml:18-44,
    models_schema.py:25-36) minus the mutable run-state — file progress
    lives in checkpoints/manifests, never in config (survey §2.11)."""

    batch_size: int = 25          # config.yaml:22
    llm_concurrency: int = 4      # data_transformer.py:91
    max_attempts: int = 3         # enricher.go:16-21
    retry_wait_s: float = 0.0     # 3.0 in prod
    silver_chunk_rows: int = 50_000   # loader.go:111
    demo_limit: int | None = None     # cmd/main.go:49-52 (1000 in demo)
    user_pool_size: int = 5000    # collector.py:22
    shop_pool_size: int = 10000   # collector.py:23
    user_pool_seed: int = 42      # collector.py:58
    shop_pool_seed: int = 24      # collector.py:81

    @classmethod
    def from_yaml(cls, path: str) -> "EngineConfig":
        try:
            import yaml
        except ImportError as e:  # pragma: no cover
            raise NotImplementedError("pyyaml not installed") from e
        with open(path) as fh:
            raw = yaml.safe_load(fh) or {}
        known = {k: v for k, v in raw.items() if k in cls.__dataclass_fields__}
        return cls(**known)


def _archive_files(spark: SparkSession, files: list[str], archive_dir: str) -> list[str]:
    """S9 batch form: move consumed files; failures stay queued for the
    next run (at-least-once, reference data_loader.py:38-51)."""
    # FS resolved from each PATH (the files carry full URIs from
    # inputFiles); cross-FS moves (file:// inputs, hdfs:// archive)
    # fall back to copy+delete inside move_file — a plain rename throws
    # 'Wrong FS' and archival would silently never happen.
    from .hadoop import hadoop_fs, hadoop_path, move_file

    hadoop_fs(spark, archive_dir).mkdirs(hadoop_path(spark, archive_dir))
    moved = []
    for f in files:
        name = hadoop_path(spark, f).getName()
        try:
            if move_file(spark, f, f"{archive_dir}/{name}"):
                moved.append(f)
        except Exception:
            log.warning("archive of %s failed; will retry next run", f)
    return moved


def _archive_inputs(spark: SparkSession, df: DataFrame, archive_dir: str | None) -> None:
    """Archive every file ``df`` scans. ``inputFiles()`` reads the scan's
    cached file index — no Spark job — and, unlike ``input_file_name()``,
    it lists files that yield no rows, so an empty input is consumed too
    instead of being re-listed on every run."""
    if archive_dir:
        if files := df.inputFiles():
            _archive_files(spark, files, archive_dir)


def run_etl_pipeline(
    spark: SparkSession,
    silver_to_process_dir: str,
    gold_dir: str,
    kpi_dir: str,
    archive_dir: str | None = None,
    *,
    config: EngineConfig | None = None,
    client_factory: Callable[[], object] = StubLLMClient,
) -> dict[str, int]:
    """Sentiment + KPI pipeline (survey §3.1), one batch run."""
    cfg = config or EngineConfig()
    silver = read_json_dir(spark, silver_to_process_dir, SILVER_REVIEWS)
    missing = validate_columns(silver, ["item_id", "review", "price"])
    if missing:  # P6 (tools.py:97-115)
        raise ValueError(f"silver input missing columns: {missing}")

    enrich = lambda df: enrich_sentiments(  # noqa: E731
        df,
        client_factory,
        batch_size=cfg.batch_size,
        max_attempts=cfg.max_attempts,
        retry_wait_s=cfg.retry_wait_s,
        concurrency=cfg.llm_concurrency,
    )
    # One scan of the input into one cached frame: the job that fills it
    # gives the row count (the P5 empty guard, main.py:41-43) and the
    # null-filled rows, and the KPI upserts and the gold write read it.
    with released(spark):
        gold = share(enrich(silver), "persist")
        n, nulls = gold.agg(
            F.count("*"), F.count_if(F.col("sentiment").isNull())
        ).first()
        if n:
            if nulls:  # P8: re-enrich the null-filled rows once
                gold = share(retry_residuals(gold, enrich), "persist")
            upsert_kpi_tables(spark, all_kpis(gold), kpi_dir)
            write_gold_snapshot(gold, gold_dir)
    _archive_inputs(spark, silver, archive_dir)  # zero-row files too
    return {"rows": n}


def run_review_pipeline(
    spark: SparkSession,
    bronze_new_dir: str,
    silver_dir: str,
    archive_dir: str | None = None,
    *,
    config: EngineConfig | None = None,
    client_factory: Callable[[], object] = StubLLMClient,
) -> dict[str, int]:
    """Review-generation pipeline (survey §3.2), one batch run."""
    cfg = config or EngineConfig()
    bronze = read_json_dir(spark, bronze_new_dir, BRONZE_PRODUCTS)
    items = assign_item_ids(bronze, order_by=["date", "product_name", "price"])
    if cfg.demo_limit:  # L2 (cmd/main.go:49-52)
        items = items.where(F.col("item_id") <= cfg.demo_limit)
    # Silver is the items with their reviews appended in place (J3,
    # loader.go:30-62). Cached around the two actions (count + write):
    # without it the LLM map re-executes per action. The count is also
    # the empty guard.
    with released(spark):
        silver = enrich_reviews(
            items,
            client_factory,
            batch_size=cfg.batch_size,
            max_attempts=cfg.max_attempts,
            retry_wait_s=cfg.retry_wait_s,
            concurrency=cfg.llm_concurrency,
        ).transform(share, "persist")
        if n := silver.count():
            write_silver_chunks(
                silver, silver_dir, max_records_per_file=cfg.silver_chunk_rows
            )
    _archive_inputs(spark, bronze, archive_dir)  # zero-row files too
    return {"rows": n}


def make_http_fetch(
    url: str,
    api_key: str | None = None,
    *,
    timeout: float = 10.0,
    strict: bool = False,
) -> Callable[[], list[dict] | None]:
    """Concrete HTTP poll client for :func:`run_collector` — the
    reference's actual entry point (collector.py:26-39 ``getData``):
    GET ``url`` with an ``X-API-Key`` header, parse the JSON list body.

    Error contract matches the reference faithfully: its ``finally:
    return result`` swallows EVERY failure into ``None`` (one skipped
    pull, the loop continues). Pass ``strict=True`` to surface
    failures as exceptions instead — the behavior the reference's
    raise statements *intended* before the finally-clause quirk.

    stdlib ``urllib`` only (the engine adds no HTTP dependency); the
    driver makes one small request per pull, so a sync client is the
    right shape — no executor ever touches this.
    """
    import json as _json
    import urllib.error
    import urllib.request

    headers = {"X-API-Key": api_key} if api_key is not None else {}

    def fetch() -> list[dict] | None:
        req = urllib.request.Request(url, headers=headers)
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                body = resp.read()
            data = _json.loads(body)
            if not isinstance(data, list):
                raise ValueError(
                    f"expected a JSON list body, got {type(data).__name__}"
                )
            return data
        except Exception as e:  # noqa: BLE001 - reference swallow contract
            if strict:
                raise
            log.warning("collector pull from %s failed: %s", url, e)
            return None

    return fetch


def run_collector(
    spark: SparkSession,
    fetch: Callable[[], list[dict]] | str,
    bronze_new_dir: str,
    *,
    pulls: int = 10,  # collector.py:110 max_size
    config: EngineConfig | None = None,
    api_key: str | None = None,
) -> dict[str, int]:
    """Collector loop (survey §3.3), one flush cycle: accumulate
    ``pulls`` API fetches, enrich with seeded user/shop pools, write one
    bronze batch. ``fetch`` is either a zero-arg callable returning a
    list of dicts (or None for a failed pull) or an http(s) URL string,
    which is wrapped with :func:`make_http_fetch` (+ optional
    ``api_key``) — the reference's GET-poll workflow out of the box."""
    if isinstance(fetch, str):
        fetch = make_http_fetch(fetch, api_key)
    rows: list[dict] = []
    for _ in range(pulls):
        rows.extend(fetch() or [])  # U1 vertical accumulation
    if not rows:
        return {"rows": 0}
    from .sinks import write_bronze_batch

    write_bronze_batch(bronze_from_pulls(spark, rows, config), bronze_new_dir)
    return {"rows": len(rows)}


def bronze_from_pulls(
    spark: SparkSession, rows: list[dict], config: EngineConfig | None = None
) -> DataFrame:
    """Pulled product rows as a bronze frame: the API's columns plus the
    seeded user (``id``) and shop (``shop_id``) pools the collector
    assigns."""
    cfg = config or EngineConfig()
    no_pool = [f for f in BRONZE_PRODUCTS.fields if f.name not in ("id", "shop_id")]
    from pyspark.sql import types as T

    df = spark.createDataFrame(rows, T.StructType(no_pool))
    df = assign_item_ids(df, order_by=["date", "product_name", "price"])
    df = assign_from_pool(
        df,
        make_user_pool(cfg.user_pool_size, seed=cfg.user_pool_seed),
        "id",
        order_by=["item_id"],
        seed=cfg.user_pool_seed,
    )
    df = assign_from_pool(
        df,
        make_shop_pool(cfg.shop_pool_size),
        "shop_id",
        order_by=["item_id"],
        seed=cfg.shop_pool_seed,
    )
    return df.drop("item_id")


def run_pretrain_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    *,
    min_quality: float = 0.2,
) -> dict:
    """The composed training-data-prep pipeline a pretraining team runs
    over a raw document corpus — each stage is one of the oracle-gated
    registry operators, chained on ``doc_id``:

      1. quality gate   (plans/textops.text_quality, score >= min_quality)
      2. decontamination (plans/pretrain.decontaminate_ngram_overlap —
         drop docs overlapping the benchmark shingle set)
      3. near-dup dedup  (plans/textops.dedup_survivors_cc — transitive
         connected-components survivors, exactly one doc per dup class)
      4. split           (plans/sampling.train_test_split_assignment —
         content-addressed 80/10/10)
      5. chunking        (plans/pretrain.doc_chunk_tokens restricted to
         the selected docs), written partitioned by split.

    All gates compose as inner joins on ``doc_id`` — each stage's plan
    keeps its documented scale shape, and the joins are id-keyed
    contractions (docs with empty text carry no shingles and drop at the
    decontamination join, deterministically). Returns per-stage counts —
    the data-loss accounting every curation run reports.
    """
    from .plans.pretrain import decontaminate_ngram_overlap, doc_chunk_tokens
    from .plans.sampling import train_test_split_assignment
    from .plans.textops import dedup_survivors_cc, text_quality

    # One scope over the whole run: it releases the shares of the
    # composed stages too, not just the selected frame.
    with released(spark):
        quality_ids = (
            text_quality(spark, sf_dir)
            .where(F.col("quality_score") >= min_quality)
            .select("doc_id")
        )
        clean_ids = (
            decontaminate_ngram_overlap(spark, sf_dir)
            .where(~F.col("contaminated"))
            .select("doc_id")
        )
        survivor_ids = dedup_survivors_cc(spark, sf_dir).select("doc_id")
        split = train_test_split_assignment(spark, sf_dir).select(
            "doc_id", "source", "split"
        )
        selected = share(
            quality_ids.join(clean_ids, "doc_id")
            .join(survivor_ids, "doc_id")
            .join(split, "doc_id"),
            "persist",
        )
        chunks = doc_chunk_tokens(spark, sf_dir).join(
            selected.select("doc_id", "split"), "doc_id"
        )
        selected.write.mode("overwrite").parquet(f"{out_dir}/selected_docs")
        chunks.write.mode("overwrite").partitionBy("split").parquet(
            f"{out_dir}/chunks"
        )
        stats = {
            "total_docs": text_quality(spark, sf_dir).count(),
            "quality_pass": quality_ids.count(),
            "decontaminated_pass": clean_ids.count(),
            "dedup_survivors": survivor_ids.count(),
            "selected_docs": selected.count(),
            "chunks_written": chunks.count(),
            "splits": {
                r["split"]: r["n"]
                for r in selected.groupBy("split")
                .agg(F.count("*").alias("n"))
                .collect()
            },
        }
    log.info("pretrain pipeline: %s", stats)
    return stats

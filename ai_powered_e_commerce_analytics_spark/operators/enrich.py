"""LLM enrichment operators (SURVEY.md §2.10 F1-F8, §2.2 P3-P4).

The reference's defining operator family is a batch-async LLM map: slice
rows into 25-row batches, build a prompt per batch, POST to an
OpenAI-compatible server with a strict JSON-schema response format, 4
requests in flight, validate cardinality, null-fill failed batches, retry
residuals (tools.py:30-48, data_transformer.py:27-110, enricher.go:39-163).

Spark-first shape: ONE ``mapInPandas`` operator carries the whole family.

- **No shuffle for batching** (F1): batches are consecutive slices, so we
  re-chunk each Arrow batch *locally inside the task* instead of grouping
  by a batch id (which would hash-shuffle 100 TB to form 25-row groups).
- **Concurrency** (F4): an asyncio semaphore inside each task bounds
  in-flight requests; cluster-wide pressure on the model server =
  ``num_partitions x concurrency`` — size partitions to server capacity
  (the reference pins 4 to llama.cpp ``--parallel 4``).
- **Validation + fallback** (F5-F6): strict per-batch cardinality check;
  a failed batch emits null-field rows for the batch's ACTUAL rows (the
  reference fabricates ids ``i*25+c*25+j`` which can mismatch — survey §7
  deviation 6).
- **In place** (J1/J3): the operator appends its generated columns to the
  rows it reads. Only the prompt fields go to the client; every other
  column passes through the Python worker untouched. The reference sends a
  projection to the model and joins the answers back on ``item_id`` (a
  hash-map merge in loader.go:30-62, a left join in
  data_transformer.py:150). At scale that join-back is a shuffle of both
  sides, or a broadcast of a fact-sized frame that cannot hold, and it
  re-scans the input; and because ``item_id`` restarts at 1 on every
  review run, a join over two runs' silver multiplies rows.
- **Retry** (F7): in-task attempt loop, then an optional driver-level
  pass that re-enriches the null-filled rows (P8).

Correctness runs use the deterministic stub client (FIXTURES.md §7); the
real async client is config-swapped behind the same interface.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..schemas import REVIEWS, SENTIMENTS
from ..session import LLM_BATCH_SIZE

# ---------------------------------------------------------------------------
# Clients — stub (deterministic, offline) and OpenAI-compatible (async)
# ---------------------------------------------------------------------------

#: Positive tokens used by the deterministic stub sentiment rule
#: (FIXTURES.md §7: "sentiment = presence of positive token in review").
POSITIVE_TOKENS = ("great", "excellent", "love", "amazing", "good", "perfect")


@dataclass
class StubLLMClient:
    """Deterministic offline stand-in for the llama.cpp server.

    ``fail_batches``: 0-based indices of batches (per task) that raise, to
    exercise the null-fill fallback path (F6) in tests.
    ``invalid_wave_batches``: indices whose ``call_many`` wave result is
    garbage, to exercise the wave→per-batch-retry fallback (F4→F7).
    ``wave_truncate``: return only the first N wave results, to exercise
    the operator's misaligned-client defense.
    """

    fail_batches: frozenset[int] = frozenset()
    invalid_wave_batches: frozenset[int] = frozenset()
    wave_truncate: int | None = None

    def classify_sentiments(
        self, batch: list[dict], batch_index: int
    ) -> list[dict]:
        if batch_index in self.fail_batches:
            raise RuntimeError(f"injected failure for batch {batch_index}")
        out = []
        for row in batch:
            review = (row.get("review") or "").lower()
            out.append(
                {
                    "item_id": row["item_id"],
                    "sentiment": any(t in review for t in POSITIVE_TOKENS),
                }
            )
        return out

    def generate_reviews(self, batch: list[dict], batch_index: int) -> list[dict]:
        if batch_index in self.fail_batches:
            raise RuntimeError(f"injected failure for batch {batch_index}")
        out = []
        for row in batch:
            desc = row.get("description") or ""
            category = row.get("category") or "general"
            polarity = "great" if len(desc) % 2 == 0 else "disappointing"
            out.append(
                {
                    "item_id": row["item_id"],
                    "classification": category.lower(),
                    "review": f"A {polarity} {category.lower()} item: {desc[:64]}",
                }
            )
        return out

    def call_many(
        self,
        method: str,
        batches: list[list[dict]],
        indices: list[int],
        concurrency: int = 4,
    ) -> list[list[dict] | None]:
        """F4 wave interface (sequential in the stub — determinism over
        parallelism): one result or None per batch, order-aligned, same
        failure-injection semantics as the per-batch methods."""
        out: list[list[dict] | None] = []
        for batch, idx in zip(batches, indices):
            if idx in self.invalid_wave_batches:
                out.append([{"item_id": -1}])  # garbage: fails validation
                continue
            try:
                out.append(getattr(self, method)(batch, idx))
            except Exception:
                out.append(None)
        if self.wave_truncate is not None:
            return out[: self.wave_truncate]
        return out


def _httpx():
    """Real httpx when installed (production), else the vendored
    stdlib shim (same interface subset) — so the async client's code
    paths run, and are tested, in both environments."""
    try:
        import httpx

        return httpx
    except ImportError:  # pragma: no cover - depends on environment
        from . import _http_shim

        return _http_shim


class OpenAICompatClient:
    """Async OpenAI-compatible chat client with strict JSON-schema output
    (reference data_transformer.py:27-54, enricher.go:73-121).

    Uses httpx when installed; otherwise the vendored stdlib shim
    (operators/_http_shim.py) with the same interface subset, so the
    success / malformed-JSON / HTTP-error / timeout / retry paths are
    exercised for real by tests/test_llm_client.py against a stdlib
    fake-OpenAI server. The interface matches StubLLMClient so the
    operator is client-agnostic.
    """

    def __init__(
        self,
        base_url: str,
        model: str,
        *,
        timeout_s: float = 60.0,       # reference data_transformer.py:50
        temperature: float = 0.9,      # reference docker-compose.yml:40
        api_key: str = "not-needed",
    ):
        self.base_url = base_url
        self.model = model
        self.timeout_s = timeout_s
        self.temperature = temperature
        self.api_key = api_key

    def classify_sentiments(
        self, batch: list[dict], batch_index: int
    ) -> list[dict]:
        import asyncio

        return asyncio.run(self._chat_json(batch, kind="sentiments"))

    def generate_reviews(
        self, batch: list[dict], batch_index: int
    ) -> list[dict]:
        import asyncio

        return asyncio.run(self._chat_json(batch, kind="reviews"))

    def call_many(
        self,
        method: str,
        batches: list[list[dict]],
        indices: list[int],
        concurrency: int = 4,
    ) -> list[list[dict] | None]:
        """F4: semaphore-bounded concurrent fan-out over a wave of
        batches (reference data_transformer.py:91-97, enricher.go:140-163
        — 4 in-flight requests sized to llama.cpp ``--parallel 4``).
        Returns one result (or None on failure) per batch, order-aligned;
        failed batches fall back to the operator's per-batch retry path.
        """
        import asyncio

        kind = "sentiments" if method == "classify_sentiments" else "reviews"

        async def run_all():
            sem = asyncio.Semaphore(concurrency)

            async def one(batch):
                async with sem:
                    try:
                        return await self._chat_json(batch, kind=kind)
                    except Exception:
                        return None

            return await asyncio.gather(*[one(b) for b in batches])

        return asyncio.run(run_all())

    @staticmethod
    def _prompt_and_schema(batch, kind):
        """Shared by the OpenAI-compatible and Ollama-native protocols:
        the id+review prompt lines (reference dict_to_text,
        ollama_client.py:55-60) and the strict array-of-len(batch)
        response schema (the pydantic min_length contract,
        models_schema.py:16-22 / ollama_client.py:27-34)."""
        prompt = "\n".join(
            f"id : {r['item_id']} , review : {r.get('review', r.get('description', ''))}"
            for r in batch
        )
        schema = {
            "type": "object",
            "properties": {
                kind: {
                    "type": "array",
                    "minItems": len(batch),
                    "maxItems": len(batch),
                    "items": {"type": "object"},
                }
            },
            "required": [kind],
        }
        return prompt, schema

    async def _chat_json(self, batch, kind):
        httpx = _httpx()

        prompt, schema = self._prompt_and_schema(batch, kind)
        async with httpx.AsyncClient(timeout=self.timeout_s) as client:
            resp = await client.post(
                f"{self.base_url}/v1/chat/completions",
                headers={"Authorization": f"Bearer {self.api_key}"},
                json={
                    "model": self.model,
                    "temperature": self.temperature,
                    "messages": [{"role": "user", "content": prompt}],
                    "response_format": {
                        "type": "json_schema",
                        "json_schema": {
                            "name": kind,
                            "strict": True,
                            "schema": schema,
                        },
                    },
                },
            )
            resp.raise_for_status()
            import json

            content = resp.json()["choices"][0]["message"]["content"]
            return json.loads(content)[kind]


class OllamaClient(OpenAICompatClient):
    """Ollama-NATIVE chat client (reference Clients/python/
    ollama_client.py:38-50): POST ``/api/chat`` with the JSON schema in
    the top-level ``format=`` field (Ollama's structured-output mode —
    the reference passes ``Response.model_json_schema()`` there),
    ``stream=False``, ``keep_alive`` and ``options.temperature``
    carried through. Response shape is ``{"message": {"content":
    <json string>}}``.

    Same interface and failure semantics as :class:`OpenAICompatClient`
    (which covers the reference's llama.cpp deployment through the
    OpenAI-compatible endpoint the same server also exposes); this
    variant removes the last switch-over gap for users pointing at a
    stock Ollama daemon. Inherits the semaphore-bounded ``call_many``
    fan-out unchanged.
    """

    def __init__(
        self,
        base_url: str,
        model: str,
        *,
        timeout_s: float = 60.0,
        temperature: float = 0.9,
        keep_alive: int = 20,      # reference ollama_client.py:44
        api_key: str = "not-needed",
    ):
        super().__init__(
            base_url, model,
            timeout_s=timeout_s, temperature=temperature, api_key=api_key,
        )
        self.keep_alive = keep_alive

    async def _chat_json(self, batch, kind):
        httpx = _httpx()
        import json

        prompt, schema = self._prompt_and_schema(batch, kind)
        async with httpx.AsyncClient(timeout=self.timeout_s) as client:
            resp = await client.post(
                f"{self.base_url}/api/chat",
                # A stock Ollama daemon ignores auth, but the accepted
                # api_key must not be silently dropped — a daemon behind
                # an authenticating proxy gets the same bearer header
                # the OpenAI-compatible client sends.
                headers={"Authorization": f"Bearer {self.api_key}"},
                json={
                    "model": self.model,
                    "messages": [{"role": "user", "content": prompt}],
                    "format": schema,
                    "stream": False,
                    "keep_alive": self.keep_alive,
                    "options": {"temperature": self.temperature},
                },
            )
            resp.raise_for_status()
            content = resp.json()["message"]["content"]
            return json.loads(content)[kind]


# ---------------------------------------------------------------------------
# The operator
# ---------------------------------------------------------------------------


def _validate_batch(result: list[dict], batch: list[dict], fields: list[str]) -> list[dict]:
    """F5: strict cardinality + id-set validation (the pydantic
    ``minItems=25,maxItems=25`` contract, models_schema.py:16-22).

    Results are matched to the batch's rows by ``item_id``. A batch that
    holds one id twice (a frame over several review runs, whose 1-based
    ids restart) still validates, and both rows take the one result kept
    for that id: the mapping is ambiguous there. It is rare, because a
    batch never spans two input partitions and each silver file is its
    own partition.
    """
    want = [r["item_id"] for r in batch]
    got = {r["item_id"]: r for r in result}
    if len(result) != len(batch) or set(got) != set(want):
        raise ValueError(
            f"batch cardinality/id mismatch: want {len(want)} ids, got {len(result)}"
        )
    return [{f: got[i].get(f) for f in fields} for i in want]


def _enrich_map(
    client_factory: Callable[[], object],
    method: str,
    prompt_cols: list[str],
    fields: list[str],
    batch_size: int,
    max_attempts: int,
    retry_wait_s: float,
    concurrency: int = 4,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """Build the mapInPandas function. Must be a top-level closure over
    plain picklable values — the client is constructed INSIDE the task
    (connection objects don't survive pickling to executors).

    Each 25-row slice sends its ``prompt_cols`` to the client and comes
    back as the same rows with ``fields`` appended.

    F4: if the client exposes ``call_many`` (the async OpenAI-compatible
    client does), batches are dispatched in semaphore-bounded waves of
    ``concurrency`` — cluster-wide in-flight requests = partitions ×
    concurrency, sized to the model server's slots. A wave result that
    fails validation falls back to the per-batch retry path (F7), so
    failure semantics are identical with or without the fan-out.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        client = client_factory()
        call = getattr(client, method)
        call_many = getattr(client, "call_many", None)

        def finish(rows, batch, batch_index, first_result, wave_attempted):
            result, attempts_left = None, max_attempts
            if wave_attempted:  # the wave dispatch WAS attempt #1, even
                attempts_left -= 1  # if it failed — total attempts per
                # batch must match the no-fan-out contract exactly.
            if first_result is not None:
                try:
                    result = _validate_batch(first_result, batch, fields)
                except Exception:
                    result = None
            if result is None:
                for attempt in range(attempts_left):  # F7: in-task retry
                    try:
                        result = _validate_batch(
                            call(batch, batch_index), batch, fields
                        )
                        break
                    except Exception:
                        if attempt + 1 < attempts_left and retry_wait_s:
                            time.sleep(retry_wait_s)
            if result is None:
                # F6: null-fill fallback on the batch's actual rows.
                result = [dict.fromkeys(fields) for _ in batch]
            return rows.assign(**{f: [r[f] for r in result] for f in fields})

        def flush(wave):
            wave_attempted = call_many is not None
            if wave_attempted:
                try:
                    firsts = list(
                        call_many(
                            method,
                            [b for _, b, _ in wave],
                            [i for _, _, i in wave],
                            concurrency,
                        )
                    )
                except Exception:
                    firsts = [None] * len(wave)
                # Defend against a misaligned duck-typed client: zip
                # would silently DROP trailing batches from the output
                # (they'd get neither results nor the F6 null-fill).
                if len(firsts) < len(wave):
                    firsts += [None] * (len(wave) - len(firsts))
            else:
                firsts = [None] * len(wave)
            for (rows, batch, idx), first in zip(wave, firsts):
                yield finish(rows, batch, idx, first, wave_attempted)

        batch_index = 0
        wave: list[tuple[pd.DataFrame, list[dict], int]] = []
        for pdf in batches:
            prompt = pdf[prompt_cols]
            for start in range(0, len(pdf), batch_size):  # F1: local re-chunk
                stop = start + batch_size
                wave.append((
                    pdf.iloc[start:stop],
                    prompt.iloc[start:stop].to_dict("records"),
                    batch_index,
                ))
                batch_index += 1
                if len(wave) >= max(concurrency, 1):
                    yield from flush(wave)
                    wave = []
        if wave:
            yield from flush(wave)

    return fn


def _enrich(
    items: DataFrame,
    client_factory: Callable[[], object],
    method: str,
    prompt_cols: list[str],
    fields: list[T.StructField],
    batch_size: int,
    max_attempts: int,
    retry_wait_s: float,
    concurrency: int,
) -> DataFrame:
    """``items`` with the client's answer appended as ``fields``; a
    same-named input column is replaced."""
    names = [f.name for f in fields]
    rows = items.drop(*names)
    fn = _enrich_map(
        client_factory, method, prompt_cols, names,
        batch_size, max_attempts, retry_wait_s, concurrency,
    )
    return rows.mapInPandas(fn, T.StructType(rows.schema.fields + fields))


def enrich_sentiments(
    items: DataFrame,
    client_factory: Callable[[], object] = StubLLMClient,
    *,
    batch_size: int = LLM_BATCH_SIZE,
    max_attempts: int = 3,          # reference enricher.go:16-21
    retry_wait_s: float = 0.0,      # 3.0 in prod; 0 for tests
    concurrency: int = 4,           # reference data_transformer.py:91
) -> DataFrame:
    """items(item_id, review, ...) → the same rows + ``sentiment`` bool?
    (gold = silver + sentiment, the reference's left join
    data_transformer.py:150 without the join).

    Only ``item_id`` and ``review`` are converted into the prompt; the
    other columns ride through the Arrow exchange unchanged. Projecting
    before the UDF barrier (survey §4.1) would shrink that exchange, but
    the projection then has to be joined back to the rows it came from:
    at scale a shuffle of both sides, or a broadcast of a frame as large
    as the fact table, which cannot hold.
    """
    return _enrich(
        items, client_factory, "classify_sentiments", ["item_id", "review"],
        [SENTIMENTS["sentiment"]], batch_size, max_attempts, retry_wait_s,
        concurrency,
    )


def enrich_reviews(
    items: DataFrame,
    client_factory: Callable[[], object] = StubLLMClient,
    *,
    batch_size: int = LLM_BATCH_SIZE,
    max_attempts: int = 3,
    retry_wait_s: float = 0.0,
    concurrency: int = 4,           # reference enricher.go:19
) -> DataFrame:
    """items(item_id, description, category?, ...) → the same rows +
    ``classification``, ``review`` — the Go review-generation pipeline's
    LLM stage and its merge (enricher.go:140-163, loader.go:30-62)."""
    cols = [c for c in ("item_id", "description", "category") if c in items.columns]
    return _enrich(
        items, client_factory, "generate_reviews", cols,
        [REVIEWS["classification"], REVIEWS["review"]],
        batch_size, max_attempts, retry_wait_s, concurrency,
    )


def retry_residuals(
    enriched: DataFrame,
    enrich_fn: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """P8: driver-level retry pass (ollama_client.py:87-95). Rows whose
    last generated column came back null (F6 null-fill) are enriched once
    more and unioned with the rows that succeeded.

    Both branches read ``enriched``, so pass a cached frame: unpinned, the
    LLM map would run once per branch, and with a nondeterministic client
    the two runs could disagree on which rows failed (a row emitted twice
    or dropped). The pipelines call this only when the job that counted
    the rows also found null ones.
    """
    field = F.col(enriched.columns[-1])
    return enriched.where(field.isNotNull()).unionByName(
        enrich_fn(enriched.where(field.isNull()))
    )


# ---------------------------------------------------------------------------
# Id + pool assignment (P3, P4)
# ---------------------------------------------------------------------------


def assign_item_ids(
    df: DataFrame, order_by: list[str] | None = None
) -> DataFrame:
    """P3: global contiguous 1-based ``item_id`` (reference
    extractor.go:107-110, ollama_client.py:19-21).

    - ``order_by`` given → ``row_number() OVER (ORDER BY ...)``:
      deterministic, but a global sort barrier (range exchange). Fine when
      a stable key exists; this is the oracle-checkable form.
    - ``order_by=None`` → two-pass zipWithIndex: pass 1 counts rows per
      partition (tiny), pass 2 adds the per-partition offset. No sort, no
      single-partition funnel — the 100 TB path (survey §7 decision 2).
    """
    if order_by:
        w = Window.orderBy(*[F.col(c) for c in order_by])
        return df.withColumn("item_id", F.row_number().over(w).cast("long"))
    rdd = df.rdd.zipWithIndex().map(
        lambda pair: (*pair[0], pair[1] + 1)
    )
    # COPY the schema: StructType.add mutates in place and df.schema is
    # cached, so adding to it directly would plant a phantom item_id
    # field on the CALLER's frame.
    schema = T.StructType(list(df.schema.fields)).add("item_id", "long", False)
    return df.sparkSession.createDataFrame(rdd, schema)


def assign_item_ids_ranged(
    df: DataFrame,
    order_by: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """P3 at scale: deterministic global contiguous 1-based ids WITHOUT
    the single-task sort of ``row_number() OVER (ORDER BY ...)``.

    ``repartitionByRange`` gives a global order ACROSS partitions
    (sampled range bounds — a parallel exchange, not a funnel),
    ``sortWithinPartitions`` orders inside each, and ``zipWithIndex``
    composes the per-partition prefix offsets (its internal count job +
    id pass — survey §7 decision 2's "per-partition offset
    composition").

    Why zipWithIndex and not a hand-rolled spark_partition_id()/offset
    join: range-bound SAMPLING IS SEEDED BY THE RDD ID, so two separate
    jobs over the same plan draw different bounds and pid->rows maps
    (measured: per-partition counts differ run to run at sf0.01) —
    composing offsets across jobs silently corrupts ids. zipWithIndex's
    two internal jobs share ONE RDD instance (one seed), so its offsets
    are consistent. Cost: rows round-trip through Python; at real scale
    do the same two-pass over a persisted frame (pinning the
    partitioning) in one of the JVM-side forms documented in SCALE.md.

    Ties in ``order_by`` get arbitrary ids among themselves — identical
    to the window form.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    cols = [F.col(c) for c in order_by]
    ranged = df.repartitionByRange(n, *cols).sortWithinPartitions(*cols)
    rdd = ranged.rdd.zipWithIndex().map(lambda pair: (*pair[0], pair[1] + 1))
    # Copy before .add — StructType.add mutates the cached caller schema.
    schema = T.StructType(list(ranged.schema.fields)).add("item_id", "long", False)
    return df.sparkSession.createDataFrame(rdd, schema)


def assign_from_pool(
    df: DataFrame,
    pool: list[str],
    out: str,
    *,
    order_by: list[str],
    seed: int,
) -> DataFrame:
    """P4: modulo pool assignment (collector.py:41-86): row i gets
    ``pool[(i-1) % len(pool)]`` after a seeded permutation of the pool.

    The permutation is applied to the POOL (5k/10k entries, driver-side,
    seeded ``random.Random`` — deterministic across runs), never to the
    data; the data side is a pure ``pmod`` on a row number, joined against
    the broadcast pool table. Survey §7 decision 3: we reproduce the
    contract (fixed pool, deterministic, ~uniform), not Polars' exact
    permutation.
    """
    import random

    rng = random.Random(seed)
    permuted = list(pool)
    rng.shuffle(permuted)
    spark = df.sparkSession
    pool_df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(permuted)], f"__pool_idx long, {out} string"
    )
    w = Window.orderBy(*[F.col(c) for c in order_by])
    with_idx = df.withColumn(
        "__pool_idx",
        F.pmod(F.row_number().over(w) - 1, F.lit(len(pool))).cast("long"),
    )
    return with_idx.join(F.broadcast(pool_df), "__pool_idx").drop("__pool_idx")


def make_user_pool(n: int = 5000, seed: int = 42) -> list[str]:
    """5,000 deterministic UUID4 user ids (collector.py:22)."""
    import random
    import uuid

    rng = random.Random(seed)
    return [str(uuid.UUID(int=rng.getrandbits(128), version=4)) for _ in range(n)]


def make_shop_pool(n: int = 10000) -> list[str]:
    """10,000 ``shop_{i}`` ids (collector.py:23)."""
    return [f"shop_{i}" for i in range(n)]

"""Structured Streaming extensions (SURVEY.md §2.12).

The reference has no streaming runtime — its closest analogues are lazy
generator ingest (``/root/reference/docarray/document/generators.py``) and
streamed binary deserialization (``array/mixins/io/binary.py:92-142``).
These operators are the engine extensions the BASELINE north star names:
streaming ingest → the SAME compiled QL filters (stateless ops are
identical between batch and stream) → watermarked dedup / windowed
aggregation → kNN against a static corpus.

Scale notes:

* Stateless stages (filter/project/QL) run identically at any rate — no
  state store.
* ``streaming_dedup`` uses ``dropDuplicatesWithinWatermark`` so the state
  store evicts fingerprints older than the watermark — bounded memory at
  unbounded input, unlike a global ``dropDuplicates``.
* ``stream_static_match`` runs the batch ``match`` operator per micro-batch
  via ``foreachBatch``: the corpus side is a static DataFrame (broadcast
  inside ``match`` when small), so each batch is one map-side kNN + a
  per-query top-k — the stream side never shuffles against itself.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from docarray_spark.functions.timeutil import with_utc_timestamp
from docarray_spark.operators.dedup import fingerprint_expr
from docarray_spark.queryset import compile_filter


def read_stream(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
    **options: Any,
) -> DataFrame:
    """Streaming ingest from a landing directory (files appearing over time
    — the streaming counterpart of ``from_files``/``from_ndjson``)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load(path)


def _with_watermark(sdf: DataFrame, ts_col: str, watermark: str) -> DataFrame:
    """``sdf.withWatermark(ts_col, watermark)``, or ``sdf`` unchanged when an
    upstream operator (``streaming_dedup`` feeding ``session_windows``, say)
    already set that watermark. Spark 4.1 refuses to redefine a watermark
    ("Redefining watermark is disallowed") when the query starts; the
    event-time column carries the upstream delay as ``spark.watermarkDelayMs``
    metadata, so a chain on the same column and delay reuses it, and any
    other upstream watermark raises here, before the query runs."""
    key = "spark.watermarkDelayMs"
    upstream = {f.name: f.metadata[key] for f in sdf.schema.fields if key in f.metadata}
    out = sdf.withWatermark(ts_col, watermark)
    if not upstream:
        return out
    delay = out.schema[ts_col].metadata[key]
    if upstream != {ts_col: delay}:
        raise ValueError(
            f"the stream already carries an event-time watermark (delay ms by "
            f"column: {upstream}); a chained operator can only reuse it, but "
            f"asks for {ts_col!r} with {watermark!r} ({delay} ms)"
        )
    return sdf


def streaming_find(sdf: DataFrame, query: dict) -> DataFrame:
    """Mongo-QL filter on a stream — the exact batch compiler
    (``queryset/compiler.py``); stateless, so semantics are identical."""
    return sdf.filter(compile_filter(sdf, query))


def streaming_dedup(
    sdf: DataFrame,
    cols: list,
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: fingerprint the content columns, keep the
    first arrival within the watermark horizon. State is evicted past the
    watermark — bounded memory at 100 TB/day rates."""
    sdf = with_utc_timestamp(sdf, ts_col)
    fp = _with_watermark(sdf.withColumn("_fp", fingerprint_expr(cols)), ts_col, watermark)
    return fp.dropDuplicatesWithinWatermark(["_fp"]).drop("_fp")


def streaming_fingerprint_dedup(
    sdf: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    bits: int = 32,
    out_col: str = "simhash",
) -> DataFrame:
    """Streaming NEAR-dup ingest gate: fingerprint each document with the
    same ``bits``-bit SimHash the batch dedup passes use
    (``operators/dedup.py:simhash_col``) and keep only the first arrival
    per fingerprint within the watermark horizon. Token-level-identical
    (and simhash-colliding near-identical) re-crawls never enter the
    corpus; the banded hamming-ball pass stays a batch job (cross-key OR
    logic — "drop if ANY band was seen" — is not a keyed-dedup shape).

    Surviving key set == batch ``SELECT DISTINCT simhash`` — an exact SQL
    oracle. State = one row per distinct fingerprint inside the watermark,
    evicted past it — bounded at ingest rates."""
    from docarray_spark.operators.dedup import simhash_col

    sdf = with_utc_timestamp(sdf, ts_col)
    fp = _with_watermark(
        sdf.withColumn(out_col, simhash_col(text_col, bits)), ts_col, watermark
    )
    return fp.dropDuplicatesWithinWatermark([out_col])


def windowed_counts(
    sdf: DataFrame,
    ts_col: str,
    group_cols: list[str],
    window_duration: str = "1 minute",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation over event time —
    late rows beyond the watermark are dropped, state is bounded."""
    sdf = with_utc_timestamp(sdf, ts_col)
    w = F.window(F.col(ts_col), window_duration, slide or window_duration)
    return (
        _with_watermark(sdf, ts_col, watermark)
        .groupBy(w.alias("window"), *[F.col(c) for c in group_cols])
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            *group_cols,
            "n",
            "sum_value",
        )
    )


def session_windows(
    sdf: DataFrame,
    ts_col: str,
    key_cols: list[str],
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    value_col: str | None = None,
) -> DataFrame:
    """Streaming gap-based sessionization via ``session_window`` — the
    stream twin of ``operators.sessionize.session_summary``: a session
    extends while the next event arrives within ``gap`` of the last; state
    for sessions older than the watermark is finalized and evicted.

    Boundary note: ``session_window`` starts a new session at a gap of
    EXACTLY ``gap`` (window interval is half-open), the batch operator at
    strictly greater — identical on real-valued event times.

    → one row per closed session: (key…, start, end, n_events[, sum_value]).
    """
    sdf = with_utc_timestamp(sdf, ts_col)
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.round(F.sum(value_col), 6).alias("sum_value"))
    return (
        _with_watermark(sdf, ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("session"), *key_cols)
        .agg(*aggs)
        .select(
            *key_cols,
            F.col("session.start").alias("session_start"),
            F.col("session.end").alias("session_end"),
            "n_events",
            *(["sum_value"] if value_col else []),
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "rts",
    max_lag_seconds: int = 600,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join within an event-time interval: each left
    row pairs with right rows of the same key where
    ``left_ts - max_lag_seconds <= right_ts <= left_ts`` (the
    "view that preceded this click" shape). Both sides carry watermarks and
    the join condition bounds event-time skew, so the state store holds only
    ``max(watermark, max_lag)`` of either stream — the REQUIRED shape for an
    unbounded stream-stream join (without the time bound Spark rejects the
    plan / state grows forever). Column names must be disjoint apart from
    ``keys`` (rename the right side's before calling).

    Result equals the batch inner interval join of the same frames — an
    exact SQL oracle exists.
    """
    l = _with_watermark(with_utc_timestamp(left, left_ts), left_ts, watermark)
    r = _with_watermark(with_utc_timestamp(right, right_ts), right_ts, watermark)
    cond = (
        (F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {max_lag_seconds} SECONDS"))
        & (F.col(right_ts) <= F.col(left_ts))
    )
    for k in keys:
        cond = cond & (l[k] == r[k])
    joined = l.join(r, cond, "inner")
    # drop the duplicated key columns from the right side
    return joined.drop(*[r[k] for k in keys])


def stream_static_match(
    stream_queries: DataFrame,
    corpus: DataFrame,
    sink_table: str,
    k: int = 10,
    metric: str = "cosine",
    corpus_id_col: str = "id",
    query_id_col: str = "id",
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    **match_kwargs: Any,
):
    """Streaming kNN: each micro-batch of query vectors is matched against
    the STATIC corpus with the batch ``match`` operator (per-batch window
    functions are legal inside ``foreachBatch``). Results append to the
    ``sink_table`` memory/Delta sink. Returns the StreamingQuery."""
    from docarray_spark.operators.match import match

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = match(
            corpus,
            batch_df.select(F.col(query_id_col).alias("id"), "embedding"),
            k=k,
            metric=metric,
            corpus_id_col=corpus_id_col,
            **match_kwargs,
        )
        res.withColumn("batch_id", F.lit(batch_id)).write.mode("append").saveAsTable(
            sink_table
        )

    writer = stream_queries.writeStream.foreachBatch(_process).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_running_agg(
    sdf: DataFrame,
    key_cols: list[str],
    value_col: str,
    ts_col: str,
    watermark: str = "10 minutes",
    timeout_minutes: int = 60,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``
    (the survey's §2.12 extension path for semantics windows can't express):
    a per-key running (count, sum, max) that emits an updated row per key
    per micro-batch and drops state for keys idle past the timeout —
    bounded memory at unbounded input.

    → stream of (key…, n, total, peak)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    key_fields = [sdf.schema[k] for k in key_cols]
    out_schema = StructType(
        [*key_fields,
         StructField("n", LongType()),
         StructField("total", DoubleType()),
         StructField("peak", DoubleType())]
    )
    state_schema = StructType(
        [StructField("n", LongType()),
         StructField("total", DoubleType()),
         StructField("peak", DoubleType())]
    )

    def _update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        n, total, peak = state.get if state.exists else (0, 0.0, float("-inf"))
        for pdf in pdfs:
            vals = pdf[value_col].dropna()
            n += len(vals)
            total += float(vals.sum())
            if len(vals):
                peak = max(peak, float(vals.max()))
        state.update((n, total, peak))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        yield pd.DataFrame([[*key, n, total, peak]], columns=[*key_cols, "n", "total", "peak"])

    return (
        _with_watermark(with_utc_timestamp(sdf, ts_col), ts_col, watermark)
        .groupBy(*key_cols)
        .applyInPandasWithState(
            _update, out_schema, state_schema, "update",
            GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def run_to_memory_sink(
    sdf: DataFrame,
    query_name: str,
    output_mode: str = "append",
    timeout_sec: int = 120,
) -> None:
    """Drain a (finite) stream into an in-memory sink table named
    ``query_name`` using availableNow, blocking until complete — the test
    harness path."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)
    q.stop()


def stream_upsert_jdbc(
    sdf: DataFrame,
    url: str,
    table: str,
    id_col: str = "id",
    checkpoint: str | None = None,
    order_col: str | None = None,
    delete_chunk: int = 256,
    available_now: bool = True,
):
    """Streaming upsert into the JDBC document store — the ``foreachBatch``
    MERGE pattern (Structured Streaming's documented recipe for sinks
    without native MERGE): each micro-batch is reduced to one row per id
    (``order_col`` DESC wins when given, e.g. an event time; otherwise an
    arbitrary in-batch representative), existing ids are deleted in chunked
    parameterized statements, and the batch appends. Net effect: an
    id-keyed upsert — the reference backend's ``__setitem__``-by-id
    semantics (``array/storage/base/setitem.py``) fed by a stream.

    Replay-safe: a retried batch re-deletes then re-appends the same rows,
    so the sink converges to the same table (idempotent per batch id).
    Returns the started StreamingQuery; callers ``awaitTermination()``."""
    from docarray_spark.sources.jdbc_store import (
        DERBY_DRIVER,
        _quote_ident,
        _table_ref,
        jdbc_execute,
        jdbc_table_exists,
        save_jdbc,
    )

    def _upsert(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        if order_col is not None:
            from pyspark.sql import Window as W

            rn = F.row_number().over(
                W.partitionBy(id_col).orderBy(F.col(order_col).desc())
            )
            b = batch_df.withColumn("_rn", rn).filter("_rn = 1").drop("_rn")
        else:
            b = batch_df.dropDuplicates([id_col])
        b = b.persist()
        ids = [r[0] for r in b.select(id_col).collect()]
        if ids:
            # Skip deletes ONLY when the table genuinely does not exist
            # yet (first batch against a fresh database; the append below
            # creates it). A catalog probe, not a swallowed exception: any
            # DELETE failure against an EXISTING table (lock timeout,
            # permissions, …) must re-raise — appending anyway would leave
            # duplicate ids for every chunk whose delete never ran
            # (round-5 verdict #2: replay safety requires it).
            if jdbc_table_exists(spark, url, table, DERBY_DRIVER):
                for i in range(0, len(ids), delete_chunk):
                    chunk = ids[i : i + delete_chunk]
                    marks = ", ".join("?" for _ in chunk)
                    jdbc_execute(
                        spark, url,
                        f"DELETE FROM {_table_ref(table)} WHERE "
                        f"{_quote_ident(id_col)} IN ({marks})",
                        DERBY_DRIVER, chunk,
                    )
            save_jdbc(b, url, table, mode="append")
        b.unpersist()

    w = sdf.writeStream.foreachBatch(_upsert)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_upsert_parquet_store(
    sdf: DataFrame,
    path: str,
    id_col: str = "id",
    n_buckets: int = 64,
    checkpoint: str | None = None,
    order_col: str | None = None,
    available_now: bool = True,
    refresh: "Callable[[SparkSession, dict], Any] | None" = None,
    gate: "Callable[[SparkSession, DataFrame], DataFrame] | None" = None,
):
    """Streaming upsert into the bucketed parquet MERGE store, with
    per-batch incremental index maintenance — the full index-behind-CRUD
    pipeline (reference ``storage/annlite/backend.py:27-30`` keeps its ANN
    index in lockstep with every ``__setitem__``; here the stream IS the
    setitem source):

        landing stream → foreachBatch MERGE (copy-on-write, bucket-pruned)
                       → ``refresh(spark, summary)`` rebuilds ONLY the
                         affected buckets' index segments

    ``refresh`` receives :func:`~docarray_spark.sources.writers.
    merge_parquet_store`'s summary — pass e.g. ``lambda spark, s:
    hnsw_refresh(spark, path, index_path, buckets=s["buckets"])``. A batch
    of ``b`` rows touches ≤ ``b`` buckets, so per-batch cost is bounded by
    batch locality, never corpus size; micro-batching amortizes the fixed
    job overhead (the reason this beats per-row index updates at scale).

    ``gate`` (optional) filters each deduplicated batch BEFORE the merge —
    the admission-control slot of a continuous crawl ingest. Pass e.g. a
    probe against the :func:`~docarray_spark.operators.index_store.
    dedup_refresh`-maintained history that drops rows duplicating the
    already-ingested corpus; with ``refresh=dedup_refresh(...)`` the
    history then tracks exactly what was admitted, closing the loop
    (ingest-dedup-behind-CRUD). The gate sees the batch AFTER per-batch
    id dedup and must return a subset of its rows; if a batch can carry
    the same CONTENT under different ids, dedup within the batch in the
    gate too (e.g. ``dropDuplicates`` on a text fingerprint) — the
    history only knows about previous batches.

    First batch against a missing store initializes it (existence probed,
    not inferred from an exception). Replay-safe: MERGE is idempotent per
    batch — a retried batch re-merges the same rows to the same state and
    re-refreshes the same segments (the gate must therefore be
    deterministic given the same store state, which a history probe is).
    Returns the started StreamingQuery."""
    import os

    from docarray_spark.sources.registry import _exists
    from docarray_spark.sources.writers import init_parquet_store, merge_parquet_store

    def _upsert(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        if order_col is not None:
            from pyspark.sql import Window as W

            rn = F.row_number().over(
                W.partitionBy(id_col).orderBy(F.col(order_col).desc())
            )
            b = batch_df.withColumn("_rn", rn).filter("_rn = 1").drop("_rn")
        else:
            b = batch_df.dropDuplicates([id_col])
        if b.isEmpty():
            return
        if gate is not None:
            b = gate(spark, b)
            if b.isEmpty():
                return
        if not _exists(path, spark) or (
            "://" not in path and not os.listdir(path)
        ):
            init_parquet_store(b, path, id_col=id_col, n_buckets=n_buckets)
            up = b.withColumn(
                "_bucket",
                F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_buckets)).cast("int"),
            )
            buckets = sorted(r._bucket for r in up.select("_bucket").distinct().collect())
            summary = {
                "affected_buckets": len(buckets),
                "total_buckets": n_buckets,
                "rows_written": b.count(),
                "buckets_emptied": 0,
                "buckets": buckets,
            }
        else:
            summary = merge_parquet_store(
                spark, path, b, id_col=id_col, n_buckets=n_buckets
            )
        if refresh is not None:
            refresh(spark, summary)

    w = sdf.writeStream.foreachBatch(_upsert)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_merge_shards(
    sdf: DataFrame,
    path: str,
    n_shards: int | None = None,
    id_col: str | None = None,
    order_within: "list[str] | None" = None,
    hash_method: str | None = None,
    checkpoint: str | None = None,
    available_now: bool = True,
    gate: "Callable[[SparkSession, DataFrame], DataFrame] | None" = None,
    files_per_shard: "int | None" = None,
    max_rows_per_file: "int | None" = None,
    full_rewrite_at: float = 1.0,
    swap_mode: str = "auto",
    keep_versions: "int | None" = None,
    mode: str = "merge",
    compact_at: "int | None" = None,
):
    """Streaming maintenance of a :func:`~docarray_spark.sources.writers.
    save_shards` training-shard export: every micro-batch upserts into the
    sharded layout via :func:`~docarray_spark.sources.writers.
    merge_shards`, rewriting only the shard directories the batch hashes
    into — the continuously-refreshed dataloader feed (crawl → gate →
    shards) rather than a periodic full re-export.

    Per-batch cost is O(batch + touched-shard rows); a batch of ``b`` ids
    touches ≤ min(b, n_shards) shards. Replay-safe the same way the store
    upsert is: the merge is idempotent per batch (same rows → same shard
    state). ``gate`` slots admission control (quality filter, dedup
    probe) before the merge, after per-batch id dedup. First batch
    against an empty path initializes the export (``n_shards`` is
    required then; against an EXISTING export every layout knob defaults
    to its persisted ``_shard_layout.json`` value, same as
    :func:`~docarray_spark.sources.writers.merge_shards`). Returns the
    started StreamingQuery.

    In this wrapper ``None`` means "not passed" for every layout knob
    (defer to the sidecar / legacy default) — a streaming caller cannot
    express "explicitly unsorted/uncapped against a sorted/capped
    export"; re-export with save_shards for that.

    ``swap_mode`` is ``'auto'``, ``'rename'`` or ``'manifest'``, checked
    before the query starts (anything else raises ``ValueError``). A
    legacy ``_v_N/`` pointer export migrates to manifest on its first
    ``mode='merge'`` micro-batch, exactly as :func:`~docarray_spark.
    sources.writers.merge_shards` does; ``mode='append'`` onto one
    raises until it has migrated.

    ``mode='append'`` (manifest layout only) is the high-rate ingest
    path: each micro-batch publishes a zero-copy append snapshot
    (``manifest_scope='batch'`` — O(batch) end to end, no touched-shard
    COW rewrite) with ``compact_at`` bounding every shard's batch
    fan-out LSM-style. Append is blind to ids already in the export —
    rows are ADDED, never upserted — so it fits known-new streams
    (e.g. gated by a dedup-against-history probe); use the default
    ``mode='merge'`` when re-seen ids must converge by upsert. Replay
    safety: the (checkpoint identity, micro-batch id) pair is recorded
    in the published manifest's ``meta`` (the same atomic flip as the
    data), and a batch whose id is <= the id recorded by the SAME
    checkpoint is SKIPPED — exactly-once appends from foreachBatch's
    at-least-once delivery. The identity is a token file INSIDE the
    checkpoint directory (not the path): it lives and dies with the
    checkpoint, so a fresh checkpoint — including one recreated at the
    same path after a delete — never matches and is appended normally.
    Holds under the export family's single-writer contract (another
    writer's publish replaces the metadata; don't compact
    mid-stream)."""
    import os

    from docarray_spark.sources.registry import _exists
    from docarray_spark.sources.writers import (
        _UNSET,
        _current_pointer,
        _load_layout_sidecar,
        _load_manifest,
        _resolve_swap_mode,
        merge_shards,
        save_shards,
    )

    _resolve_swap_mode(swap_mode, path)  # reject before anything starts
    if mode not in ("merge", "append"):
        raise ValueError(
            f"stream_merge_shards: mode must be 'merge' or 'append', "
            f"got {mode!r}"
        )
    if mode == "append" and swap_mode not in ("auto", "manifest"):
        raise ValueError(
            "stream_merge_shards: mode='append' publishes zero-copy "
            "manifest snapshots — swap_mode must be 'manifest' (or "
            f"'auto' onto a manifest export), got {swap_mode!r}"
        )
    if compact_at is not None and mode != "append":
        raise ValueError(
            "stream_merge_shards: compact_at is the append-mode fold "
            "threshold; mode='merge' self-compacts the shards it touches"
        )
    eff_swap = "manifest" if mode == "append" else swap_mode
    # replay-guard identity: batch ids are per-checkpoint INSTANCE, so
    # the recorded id may only suppress a replay from the same one. The
    # checkpoint PATH is not enough — a checkpoint deleted and recreated
    # at the same path restarts ids at 0 and would silently drop every
    # batch up to the recorded id (r12 review). A token file inside the
    # checkpoint directory shares its lifecycle exactly: delete the
    # checkpoint, the token dies with it and a fresh one never matches.
    import uuid as _uuid

    _app: dict = {"id": None}

    def _app_identity(spark):
        if _app["id"] is not None:
            return _app["id"]
        if checkpoint is None:
            _app["id"] = f"ephemeral-{_uuid.uuid4().hex}"
            return _app["id"]
        from docarray_spark.sources.registry import (
            _exists,
            _read_text,
            _write_text,
        )

        tok = f"{checkpoint.rstrip('/')}/_shard_stream_identity"
        if _exists(tok, spark):
            _app["id"] = _read_text(tok, spark).strip()
        else:
            _app["id"] = _uuid.uuid4().hex
            _write_text(tok, _app["id"], spark)
        return _app["id"]

    def _u(v):
        return v if v is not None else _UNSET

    def _applied_batch_id(spark):
        cur = _current_pointer(path, spark)
        if cur is None or not cur.startswith("_m_"):
            return None
        meta = _load_manifest(path, cur, spark).get("meta") or {}
        if meta.get("stream_app_id") != _app_identity(spark):
            return None
        return meta.get("stream_batch_id")

    def _merge(batch_df: DataFrame, _batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = not _exists(path, spark) or (
            "://" not in path and not os.listdir(path)
        )
        if mode == "append" and not fresh:
            last = _applied_batch_id(spark)
            if last is not None and _batch_id <= last:
                return  # replayed batch whose publish already landed
        sidecar = None if fresh else _load_layout_sidecar(path, spark)
        eff_id = id_col or (sidecar or {}).get("id_col") or "id"
        b = batch_df.dropDuplicates([eff_id])
        if b.isEmpty():
            return
        if gate is not None:
            b = gate(spark, b)
            if b.isEmpty():
                return
        if fresh:
            if n_shards is None:
                raise ValueError(
                    "stream_merge_shards: n_shards is required to "
                    "initialize a fresh export"
                )
            save_shards(
                b, path, n_shards, id_col=eff_id,
                order_within=order_within,
                hash_method=hash_method or "md5",
                files_per_shard=files_per_shard or 1,
                max_rows_per_file=max_rows_per_file,
                swap_mode=eff_swap,
                keep_versions=keep_versions or 1,
                manifest_meta=(
                    {
                        "stream_app_id": _app_identity(spark),
                        "stream_batch_id": _batch_id,
                    }
                    if mode == "append" else None
                ),
            )
        elif mode == "append":
            # forward the caller's layout knobs so save_shards validates
            # them against the persisted sidecar exactly like merge mode
            # — dropping them here would swallow an n_shards/id_col
            # contradiction instead of raising it (r12 review)
            save_shards(
                b, path, n_shards, id_col=_u(id_col),
                order_within=_u(order_within),
                hash_method=_u(hash_method),
                files_per_shard=_u(files_per_shard),
                max_rows_per_file=_u(max_rows_per_file),
                keep_versions=_u(keep_versions),
                mode="append", compact_at=compact_at,
                manifest_scope="batch",
                manifest_meta={
                    "stream_app_id": _app_identity(spark),
                    "stream_batch_id": _batch_id,
                },
            )
        else:
            merge_shards(
                b, path, n_shards, id_col=_u(id_col),
                order_within=_u(order_within),
                hash_method=_u(hash_method),
                files_per_shard=_u(files_per_shard),
                max_rows_per_file=_u(max_rows_per_file),
                full_rewrite_at=full_rewrite_at,
                swap_mode=swap_mode,
                keep_versions=_u(keep_versions),
            )

    w = sdf.writeStream.foreachBatch(_merge)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()

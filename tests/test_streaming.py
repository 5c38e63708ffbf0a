"""Structured Streaming extension tests: ingest → QL filter → watermark
dedup / windowed agg → stream-static kNN (SURVEY.md §2.12)."""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from docarray_spark.streaming import (
    read_stream,
    run_to_memory_sink,
    stream_static_match,
    streaming_dedup,
    streaming_find,
    windowed_counts,
)


@pytest.fixture(scope="module")
def landing(spark, sf_dir):
    """A landing dir seeded with the events table split into parquet files."""
    d = tempfile.mkdtemp(prefix="stream_landing_")
    from docarray_spark.sources import read_table

    read_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _schema(spark, landing):
    return spark.read.parquet(landing).schema


def test_streaming_ql_filter(spark, landing):
    sdf = read_stream(spark, landing, _schema(spark, landing))
    out = streaming_find(sdf, {"event_type": "click", "value": {"$gt": 10.0}})
    assert out.isStreaming
    run_to_memory_sink(out, "t_filter")
    got = spark.table("t_filter")
    expect = spark.read.parquet(landing).filter("event_type = 'click' AND value > 10.0")
    assert got.count() == expect.count() > 0


def test_streaming_dedup_bounded_state(spark, landing):
    sdf = read_stream(spark, landing, _schema(spark, landing))
    out = streaming_dedup(sdf, ["user_id", "event_type"], ts_col="ts")
    run_to_memory_sink(out, "t_dedup")
    got = spark.table("t_dedup")
    distinct = (
        spark.read.parquet(landing).select("user_id", "event_type").distinct().count()
    )
    assert got.count() == distinct
    assert got.groupBy("user_id", "event_type").count().filter("count > 1").count() == 0


def test_windowed_counts(spark, landing):
    sdf = read_stream(spark, landing, _schema(spark, landing))
    # complete mode: every window's state is emitted at the end, and no
    # input row is dropped, so the result equals the batch aggregation
    out = windowed_counts(sdf, "ts", ["event_type"], window_duration="1 hour")
    run_to_memory_sink(out, "t_window", output_mode="complete")
    got = spark.table("t_window")
    assert got.count() > 0
    batch = (
        spark.read.parquet(landing)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert got.agg(F.sum("n")).collect()[0][0] == batch.agg(F.sum("n")).collect()[0][0]


def test_stream_static_match(spark, sf_dir, tmp_path):
    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").alias("id"), "embedding"
    )
    qdir = str(tmp_path / "queries")
    corpus.filter("id < 3").write.parquet(qdir)
    stream_q = read_stream(spark, qdir, spark.read.parquet(qdir).schema)
    spark.sql("DROP TABLE IF EXISTS t_knn")
    # DROP doesn't always clear a stale managed-table location from a
    # previous test session
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{warehouse}/t_knn", ignore_errors=True)
    q = stream_static_match(
        stream_q, corpus, sink_table="t_knn", k=5, metric="cosine",
        query_id_col="id", corpus_id_col="id", exclude_self=True, eps=0.0,
    )
    q.awaitTermination(120)
    got = spark.table("t_knn")
    assert got.count() == 15  # 3 queries x k=5
    from docarray_spark.operators.match import match

    batch = match(
        corpus, corpus.filter("id < 3"), k=5, metric="cosine",
        corpus_id_col="id", exclude_self=True, eps=0.0,
    )
    a = {(r["query_id"], r["match_id"], r["rank"]) for r in got.collect()}
    b = {(r["query_id"], r["match_id"], r["rank"]) for r in batch.collect()}
    assert a == b


def test_stateful_running_agg(spark, landing):
    from docarray_spark.streaming import stateful_running_agg

    sdf = read_stream(spark, landing, _schema(spark, landing))
    out = stateful_running_agg(sdf, ["event_type"], "value", ts_col="ts")
    run_to_memory_sink(out, "t_state", output_mode="update")
    got = spark.table("t_state")
    # last emitted row per key must equal the batch aggregate
    batch = {
        r["event_type"]: r
        for r in spark.read.parquet(landing)
        .groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.sum("value").alias("total"),
            F.max("value").alias("peak"),
        )
        .collect()
    }
    latest = {
        r["event_type"]: r
        for r in got.orderBy("n").collect()  # biggest n per key wins
    }
    assert set(latest) == set(batch)
    for k, r in latest.items():
        assert r["n"] == batch[k]["n"]
        assert r["total"] == pytest.approx(batch[k]["total"], rel=1e-9)
        assert r["peak"] == batch[k]["peak"]


# ------------------------------------------------------- late-data semantics

def _ts_rows(spark, rows, extra="value double"):
    cols = "user_id long, t long, " + extra
    df = spark.createDataFrame(rows, cols)
    return df.select(
        "user_id", F.timestamp_seconds("t").alias("ts"),
        *[c.split()[0] for c in extra.split(", ")],
    )


def test_session_windows_drop_late_rows(spark, tmp_path):
    """VERDICT r2 #9: a row arriving BEHIND the watermark must be dropped —
    the already-advanced session state cannot resurrect. Two micro-batches
    (maxFilesPerTrigger=1): batch 1 carries user 1's session plus a far-
    future event that advances the watermark; batch 2 carries a late event
    inside user 1's session horizon, which must NOT extend it."""
    import time as _time

    from docarray_spark.streaming import session_windows

    d = str(tmp_path / "late_sess")
    _ts_rows(spark, [(1, 1000, 1.0), (1, 1010, 1.0), (99, 10000, 0.0)]) \
        .coalesce(1).write.mode("append").parquet(d)
    _time.sleep(1.2)  # distinct mtime → deterministic batch order
    # Spark filters late rows with the PREVIOUS batch's watermark
    # (StateStoreSave carries a late-events wm one batch behind the
    # eviction wm), so an intermediate batch must carry the advanced
    # watermark before the late row arrives.
    _ts_rows(spark, [(98, 10001, 0.0)]).coalesce(1).write.mode("append").parquet(d)
    _time.sleep(1.2)
    _ts_rows(spark, [(1, 1020, 1.0)]).coalesce(1).write.mode("append").parquet(d)

    sdf = read_stream(
        spark, d, "user_id long, ts timestamp, value double",
        max_files_per_trigger=1, latestFirst="false",
    )
    out = session_windows(
        sdf, "ts", ["user_id"], gap="30 seconds", watermark="100 seconds",
        value_col="value",
    )
    run_to_memory_sink(out, "t_late_sess")
    rows = spark.table("t_late_sess").collect()
    u1 = [r for r in rows if r.user_id == 1]
    # one finalized session of exactly the two on-time events; had the
    # late 1020 row been accepted it would have extended it to n_events=3
    assert len(u1) == 1
    assert u1[0].n_events == 2 and u1[0].sum_value == 2.0


def test_dedup_then_session_windows_chain(spark, tmp_path):
    """``session_windows`` consumes ``streaming_dedup``'s output: it reuses
    the upstream watermark the event-time column carries instead of
    redefining it (Spark 4.1 refuses that when the query starts), and a
    chained operator asking for another delay raises before running."""
    from docarray_spark.streaming import session_windows

    d = str(tmp_path / "chain")
    # user 1's second event arrives twice; user 99 advances the watermark
    _ts_rows(spark, [(1, 1000, 1.0), (1, 1010, 2.0), (1, 1010, 2.0), (99, 10000, 0.0)]) \
        .coalesce(1).write.mode("append").parquet(d)
    sdf = read_stream(spark, d, "user_id long, ts timestamp, value double")
    deduped = streaming_dedup(sdf, ["user_id", "ts", "value"], ts_col="ts",
                              watermark="100 seconds")
    with pytest.raises(ValueError, match="already carries an event-time watermark"):
        session_windows(deduped, "ts", ["user_id"], watermark="200 seconds")
    out = session_windows(deduped, "ts", ["user_id"], gap="30 seconds",
                          watermark="100 seconds", value_col="value")
    run_to_memory_sink(out, "t_chain_sess")
    u1 = [r for r in spark.table("t_chain_sess").collect() if r.user_id == 1]
    assert [(r.n_events, r.sum_value) for r in u1] == [(2, 3.0)]


def test_stream_interval_join_drops_late_rows(spark, tmp_path):
    """VERDICT r2 #9: a right-side row behind the global watermark produces
    no join output even though it satisfies the interval condition."""
    import time as _time

    from docarray_spark.streaming import stream_interval_join

    cdir, vdir = str(tmp_path / "clicks"), str(tmp_path / "views")
    _ts_rows(spark, [(1, 1000, 0.0), (99, 10000, 0.0)]).select(
        "user_id", "ts", F.lit("c").alias("click_event")
    ).coalesce(1).write.mode("append").parquet(cdir)
    _ts_rows(spark, [(1, 950, 0.0), (99, 9950, 0.0)]).select(
        "user_id", F.col("ts").alias("rts"), F.lit("v").alias("view_event")
    ).coalesce(1).write.mode("append").parquet(vdir)
    _time.sleep(1.2)
    # intermediate batch: late filtering uses the previous batch's wm
    _ts_rows(spark, [(98, 9960, 0.0)]).select(
        "user_id", F.col("ts").alias("rts"), F.lit("v_mid").alias("view_event")
    ).coalesce(1).write.mode("append").parquet(vdir)
    _time.sleep(1.2)
    # late view for user 1: inside the click's interval, behind the watermark
    _ts_rows(spark, [(1, 960, 0.0)]).select(
        "user_id", F.col("ts").alias("rts"), F.lit("v_late").alias("view_event")
    ).coalesce(1).write.mode("append").parquet(vdir)

    clicks = read_stream(
        spark, cdir, "user_id long, ts timestamp, click_event string",
        max_files_per_trigger=1, latestFirst="false",
    )
    views = read_stream(
        spark, vdir, "user_id long, rts timestamp, view_event string",
        max_files_per_trigger=1, latestFirst="false",
    )
    out = stream_interval_join(
        clicks, views, ["user_id"], max_lag_seconds=600,
        watermark="100 seconds",
    )
    run_to_memory_sink(out, "t_late_sij")
    got = {(r.user_id, r.view_event) for r in spark.table("t_late_sij").collect()}
    assert got == {(1, "v"), (99, "v")}  # the late view joined nothing


def test_streaming_fingerprint_dedup_drops_repeats(spark, tmp_path):
    """Streaming near-dup ingest gate: token-identical re-crawls (same
    SimHash) are dropped at ingest; distinct content survives."""
    from docarray_spark.streaming import streaming_fingerprint_dedup

    d = str(tmp_path / "nd")
    rows = [
        (1, "alpha beta gamma"), (2, "alpha beta gamma"),   # exact repeat
        (3, "ALPHA  beta   gamma"),                          # normalizes equal
        (4, "totally different text"),
    ]
    df = spark.createDataFrame(rows, "doc long, text string").select(
        "doc", "text", F.timestamp_seconds(F.col("doc") + 1).alias("ts")
    )
    df.coalesce(1).write.parquet(d)
    sdf = read_stream(spark, d, "doc long, text string, ts timestamp")
    out = streaming_fingerprint_dedup(sdf, "text", "ts", watermark="1 hour")
    run_to_memory_sink(out, "t_fpdedup")
    got = spark.table("t_fpdedup").collect()
    assert len(got) == 2  # one survivor per fingerprint
    assert {r.simhash for r in got} == {
        r.simhash for r in spark.table("t_fpdedup").select("simhash").distinct().collect()
    }
    survivors = {r.doc for r in got}
    assert 4 in survivors and len(survivors & {1, 2, 3}) == 1

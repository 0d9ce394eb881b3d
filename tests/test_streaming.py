"""Streaming layer tests (T3-T7, §3.2 foreachBatch maintenance)."""

from __future__ import annotations

import os
from functools import partial

import pytest
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.sources.batch import load_table
from iheardai_data_pipeline_spark.streaming.readers import read_events_stream
from iheardai_data_pipeline_spark.streaming.sinks import (
    archive_sink,
    session_kpis_foreach_batch,
    session_state_foreach_batch,
)
from iheardai_data_pipeline_spark.streaming.stores import BucketedTransactionalStore
from iheardai_data_pipeline_spark.streaming.windows import dedup_within_watermark

# the data-sized store (one bucket at test scale, its keyed commits
# folding in one task) must satisfy the same foreachBatch contract as a
# store pinned to several buckets, whose keyed commits fold the touched
# buckets with a shuffle instead
DATA_SIZED = "parquet_bucketed"
PINNED_4 = "parquet_bucketed_pinned_4"


def _open_store(spark, path, key_cols, order_cols, layout):
    n_buckets = 4 if layout == PINNED_4 else None
    return BucketedTransactionalStore(
        spark, path, key_cols, order_cols, n_buckets=n_buckets
    )


def test_t5_watermark_dedup(spark, sf_dir, tmp_path):
    """Doubled stream deduped by event_id within the watermark."""
    stream = read_events_stream(spark, sf_dir)
    deduped = dedup_within_watermark(stream, ("event_id",))
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_src = load_table(spark, sf_dir, "events").count()
    n_out = spark.read.parquet(str(tmp_path / "out")).count()
    assert n_out == n_src  # single pass: all unique ids kept


def test_t7_archive_sink_partitioning(spark, sf_dir, tmp_path):
    stream = read_events_stream(spark, sf_dir)
    q = archive_sink(
        stream,
        str(tmp_path / "archive"),
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    # dt=YYYY-MM-DD/topic=... layout on disk (reference config/config.yaml:161-167)
    days = [d for d in os.listdir(tmp_path / "archive") if d.startswith("dt=")]
    assert days, "no dt= partitions written"
    topics = os.listdir(tmp_path / "archive" / days[0])
    assert any(t.startswith("topic=") for t in topics)
    n_src = load_table(spark, sf_dir, "events").count()
    n_out = spark.read.parquet(str(tmp_path / "archive")).count()
    assert n_out == n_src


@pytest.mark.parametrize("layout", [DATA_SIZED, PINNED_4])
def test_foreachbatch_session_kpis_incremental(spark, sf_dir, tmp_path, layout):
    """Two micro-batches merged == one-shot batch aggregate (§3.2),
    identical at every bucket layout."""
    events = load_table(spark, sf_dir, "events")
    b1 = events.filter(F.col("event_id") % 2 == 0)
    b2 = events.filter(F.col("event_id") % 2 == 1)
    store = _open_store(
        spark, str(tmp_path / "kpis"), ["user_id"], ["ended_at_s"], layout
    )
    fb = session_kpis_foreach_batch(store)
    fb(b1, 0)
    fb(b2, 1)
    got = store.read().select(
        "user_id", "n_events", F.col("sum_value_dec").cast("double").alias("sum_value")
    )
    want = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


@pytest.mark.parametrize("layout", [DATA_SIZED, PINNED_4])
def test_foreachbatch_session_state_seq_guard(spark, tmp_path, layout):
    """Stale updates (lower seq) never overwrite newer state (J4/W3)."""
    store = _open_store(
        spark, str(tmp_path / "state"), ["session_id"], ["seq"], layout
    )
    fb = session_state_foreach_batch(store)
    b1 = spark.createDataFrame(
        [("s1", 3, "engaged"), ("s2", 1, "new")], "session_id string, seq int, stage string"
    )
    fb(b1, 0)
    # batch 2: stale s1 update (seq 2) + fresh s2 (seq 5)
    b2 = spark.createDataFrame(
        [("s1", 2, "STALE"), ("s2", 5, "converted")],
        "session_id string, seq int, stage string",
    )
    fb(b2, 1)
    got = {r["session_id"]: (r["seq"], r["stage"]) for r in store.read().collect()}
    assert got == {"s1": (3, "engaged"), "s2": (5, "converted")}


def test_foreachbatch_session_state_replay_commits_nothing(spark, tmp_path):
    """A replayed session-state batch is skipped by its epoch: the
    seq-guarded fold would leave the rows as they are, but without the
    epoch it would still commit a rewrite as a new version."""
    store = BucketedTransactionalStore(
        spark, str(tmp_path / "state"), ["session_id"], ["seq"]
    )
    fb = session_state_foreach_batch(store)
    b1 = spark.createDataFrame(
        [("s1", 3, "engaged"), ("s2", 1, "new")], "session_id string, seq int, stage string"
    )
    fb(b1, 0)
    assert store.current_version() == 1
    fb(b1, 0)  # the replay
    assert store.current_version() == 1
    got = {r["session_id"]: (r["seq"], r["stage"]) for r in store.read().collect()}
    assert got == {"s1": (3, "engaged"), "s2": (1, "new")}


def _kpi_batch(spark, rows):
    """(user_id, epoch seconds, value) rows as an events micro-batch."""
    return spark.createDataFrame(
        rows, "user_id string, t long, value double"
    ).withColumn("ts", F.timestamp_seconds("t"))


def _kpis(store):
    return {
        r["user_id"]: (r["n_events"], float(r["sum_value_dec"]))
        for r in store.read().collect()
    }


def _state(store):
    return {r["session_id"]: (r["seq"], r["stage"]) for r in store.read().collect()}


def test_foreachbatch_session_kpis_replay_is_exactly_once(spark, tmp_path):
    """foreachBatch is at-least-once: a batch replayed after a crash
    must not add its counts and money to the summed KPIs a second time."""
    store = BucketedTransactionalStore(
        spark, str(tmp_path / "kpis"), ["user_id"], ["ended_at_s"]
    )
    fb = session_kpis_foreach_batch(store)
    fb(_kpi_batch(spark, [("u0", 100, 1.25)]), 0)
    b1 = _kpi_batch(spark, [("u0", 200, 2.0), ("u1", 150, 0.5)])
    fb(b1, 1)
    assert _kpis(store) == {"u0": (2, 3.25), "u1": (1, 0.5)}
    fb(b1, 1)  # the replay
    assert _kpis(store) == {"u0": (2, 3.25), "u1": (1, 0.5)}
    assert store.current_version() == 2


def test_foreachbatch_session_kpis_second_handle_reads_every_commit(spark, tmp_path):
    """Every KPI commit stages the same column types, so a second handle
    that read (and cached the file schema of) the store after the first
    commit still reads it after the fold of the second."""
    path = str(tmp_path / "kpis")
    store = BucketedTransactionalStore(spark, path, ["user_id"], ["ended_at_s"])
    fb = session_kpis_foreach_batch(store)
    fb(_kpi_batch(spark, [("u0", 100, 1.25)]), 0)
    reader = BucketedTransactionalStore(spark, path, ["user_id"], ["ended_at_s"])
    assert _kpis(reader) == {"u0": (1, 1.25)}
    fb(_kpi_batch(spark, [("u0", 200, 2.0)]), 1)
    assert _kpis(reader) == {"u0": (2, 3.25)}


def test_foreachbatch_session_kpis_streams_sharing_a_store(spark, tmp_path):
    """Two streams folding into ONE KPI store both start at batch id 0:
    their epochs are namespaced by query id, so neither stream's batch
    is skipped as a replay of the other's."""
    import json

    store = BucketedTransactionalStore(
        spark, str(tmp_path / "kpis"), ["user_id"], ["ended_at_s"]
    )
    fb = session_kpis_foreach_batch(store)
    for w, rows in ((1, [("u0", 100, 1.25)]), (2, [("u0", 200, 2.0)])):
        src = str(tmp_path / f"src{w}")
        _kpi_batch(spark, rows).write.parquet(src)
        (
            spark.readStream.schema("user_id string, t long, value double, ts timestamp")
            .parquet(src)
            .writeStream.foreachBatch(fb)
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ckpt{w}"))
            .start()
            .awaitTermination()
        )
    assert _kpis(store) == {"u0": (2, 3.25)}
    commits = store._store._commits_dir()
    epochs = []
    for f in sorted(os.listdir(commits)):
        if f.isdigit():
            with open(os.path.join(commits, f)) as fh:
                epochs.append(json.load(fh)["epoch"])
    assert len(set(epochs)) == 2 and all(e.endswith(":0") for e in epochs)


def _jobs_run_by(spark, group: str, fn) -> int:
    """How many Spark jobs ``fn()`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(prop, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("sink", ["kpis", "state"])
def test_one_bucket_keyed_commit_is_one_job(spark, tmp_path, sink):
    """At one bucket a sink's commit folds the batch into the store and
    stages the result in ONE Spark job: the fold's inputs arrive as one
    partition each, so neither the aggregate nor the window shuffles.
    The batches hold several rows per key and a stale update, and the
    answers stay the one-shot aggregate and last-write-wins."""
    path = str(tmp_path / sink)
    if sink == "kpis":
        store = BucketedTransactionalStore(spark, path, ["user_id"], ["ended_at_s"])
        fb = session_kpis_foreach_batch(store)
        batches = [
            _kpi_batch(spark, [("u0", 100, 1.25), ("u0", 90, 0.5), ("u1", 150, 2.0)]),
            _kpi_batch(spark, [("u0", 200, 2.0), ("u2", 300, 0.25), ("u2", 310, 1.0)]),
        ]
        want = {"u0": (3, 3.75), "u1": (1, 2.0), "u2": (2, 1.25)}
        read = _kpis
    else:
        store = BucketedTransactionalStore(spark, path, ["session_id"], ["seq"])
        fb = session_state_foreach_batch(store)
        schema = "session_id string, seq int, stage string"
        batches = [
            spark.createDataFrame([("s1", 3, "engaged"), ("s1", 1, "new")], schema),
            spark.createDataFrame(
                [("s1", 2, "STALE"), ("s2", 4, "new"), ("s2", 5, "converted")],
                schema,
            ),
        ]
        want = {"s1": (3, "engaged"), "s2": (5, "converted")}
        read = _state
    for bid, batch in enumerate(batches):
        n_jobs = _jobs_run_by(spark, f"one-job-{sink}-{bid}", partial(fb, batch, bid))
        assert n_jobs == 1, (bid, n_jobs)
    assert store._store.bucket_count("rows") == 1
    assert read(store) == want
    # no _SUCCESS marker in the staged dirs: the commit claim is the marker
    snaps = os.path.join(path, "_snapshots")
    assert not any("_SUCCESS" in files for _r, _d, files in os.walk(snaps))

"""Streaming sinks (T7/K7 archive, §3.2 foreachBatch maintenance, J4/K5 state).

The reference's loader writes each micro-batch to Postgres (upserts),
refreshes the touched-session aggregate, and updates Redis session state
(enhanced_kpi_consumer.py:137-250). The Spark restatement is one
``foreachBatch`` that (a) merges facts, (b) recomputes the per-session
aggregate for the batch's touched keys, (c) maintains a session-state
table with a seq guard. The stores are the OCC commit log's keyed-upsert
view, :class:`~streaming.stores.BucketedTransactionalStore`; each sink makes one ``apply_keyed`` call per
micro-batch, so a lost commit race re-reads and re-merges instead of
clobbering the winner.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from iheardai_data_pipeline_spark.operators.mutations import last_write_wins
from iheardai_data_pipeline_spark.streaming.stores import BucketedTransactionalStore

# the staged type of the KPI money sum, wide enough for any fold of it
_MONEY = "decimal(38,2)"


def ram_tempdir(prefix: str) -> str:
    """A fresh temp dir in RAM (/dev/shm) when the platform provides
    it, else a normal tempdir, for short-lived local state that the
    caller deletes when its run ends (a leaked /dev/shm dir is leaked
    RAM): the checkpoints of bounded availableNow replays, and the demo
    stores and indexes of catalog entries. Every stateful
    operator commits one state-store delta file per shuffle partition
    per micro-batch into the checkpoint; for a replay that lives a few
    seconds this disk I/O IS the dominant fixed cost (measured: the
    stream-stream join drops ~20% from the move to RAM alone).
    Production deployments must point checkpointLocation at durable
    cluster storage instead."""
    root = "/dev/shm" if os.path.isdir("/dev/shm") else None
    return tempfile.mkdtemp(prefix=prefix, dir=root)


def _drain(writer: DataStreamWriter, prefix: str) -> None:
    """Run ``writer``'s query over every batch its source has now
    (availableNow) with a fresh :func:`ram_tempdir` checkpoint, and
    delete the checkpoint whether the query succeeds or fails."""
    ckpt = ram_tempdir(prefix)
    try:
        writer.trigger(availableNow=True).option(
            "checkpointLocation", ckpt
        ).start().awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def run_foreach_batch(
    stream: DataFrame, fn: Callable[[DataFrame, int], None]
) -> None:
    """Call ``fn(batch_df, batch_id)`` on every micro-batch ``stream``
    has now, then return: the bounded local harness for the
    ``foreachBatch`` entries of the streaming catalog. The checkpoint
    is deleted afterwards; an error raised by ``fn`` stops the query
    and reaches the caller as a ``StreamingQueryException``."""
    _drain(stream.writeStream.foreachBatch(fn), "foreach_ckpt_")


def archive_sink(
    stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    topic_col: str = "event_type",
    trigger: dict | None = None,
) -> StreamingQuery:
    """T7/K7: partitioned parquet archive (dt=YYYY-MM-DD/topic=... layout,
    snappy — reference config/config.yaml:153-174). Hourly flush in prod
    (trigger=processingTime='1 hour'); availableNow in tests."""
    partitioned = stream.withColumn(
        "dt", F.date_format(F.col(ts_col), "yyyy-MM-dd")
    ).withColumn("topic", F.col(topic_col))
    writer = (
        partitioned.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .option("compression", "snappy")
        .partitionBy("dt", "topic")
        .outputMode("append")
    )
    writer = writer.trigger(**(trigger or {"availableNow": True}))
    return writer.start()


def _stream_epoch(batch_df: DataFrame, epoch_id: int):
    """Idempotent-commit marker for one foreachBatch call: the batch id,
    namespaced by the streaming query's id so two streams sharing a
    store cannot take each other's batches for replays. Spark sets the
    id as a local property of the thread that runs foreachBatch, and it
    is stable across restarts from one checkpoint. Outside a stream (a
    direct call) the marker is the bare batch id."""
    query_id = batch_df.sparkSession.sparkContext.getLocalProperty(
        "sql.streaming.queryId"
    )
    return epoch_id if query_id is None else f"{query_id}:{epoch_id}"


def session_kpis_foreach_batch(
    store: BucketedTransactionalStore,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
):
    """§3.2 step 3: incremental materialized-aggregate maintenance.

    The reference recomputes the session_kpis row for every session
    touched by the batch (enhanced_kpi_consumer.py:210-250,560-609).
    Batch analog: fold the micro-batch's events straight into the
    touched keys' snapshot rows with ONE aggregate, combining
    counts/sums/min/max associatively — the streaming equivalent of
    recompute-touched-keys without rereading the base table. Each event
    enters the fold as a one-event KPI row; Spark's partial aggregation
    combines the batch's rows per key before any exchange, so no
    separate pre-aggregation runs. At one bucket the store hands the
    fold one-partition inputs, and the commit is one Spark job with no
    shuffle (``MultiRelationTransactionalStore.apply_keyed`` in
    :mod:`streaming.stores`).

    The fold sums, so a replayed batch would double-count: each commit
    carries the batch's epoch (see :func:`_stream_epoch`) and a replay
    is a no-op. Every commit stages the same column types (``bigint``
    count, ``decimal(38,2)`` money), as the store requires.
    """

    def merge_fn(current: DataFrame | None, batch: DataFrame) -> DataFrame:
        ts = F.unix_seconds(F.col(ts_col))
        rows = batch.select(
            user_col,
            F.lit(1).cast("bigint").alias("n_events"),
            F.col(value_col).cast("decimal(18,2)").cast(_MONEY).alias("sum_value_dec"),
            ts.alias("started_at_s"),
            ts.alias("ended_at_s"),
        )
        if current is not None:
            rows = current.unionByName(rows)
        return rows.groupBy(user_col).agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("sum_value_dec").cast(_MONEY).alias("sum_value_dec"),
            F.min("started_at_s").alias("started_at_s"),
            F.max("ended_at_s").alias("ended_at_s"),
        )

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        # the per-user fold is key-local, so only touched buckets rewrite
        store.apply_keyed(batch_df, merge_fn, epoch=_stream_epoch(batch_df, epoch_id))

    return apply


def session_state_foreach_batch(
    store: BucketedTransactionalStore,
    seq_col: str = "seq",
):
    """J4/K5/W3: per-key mutable session state with a monotonic seq guard
    (reference Redis HSET + seq compare, enhanced_kpi_consumer.py:638-673).

    ONE last-write-wins window over the touched keys' stored rows and
    the batch's rows keeps each key's largest seq — stale updates are
    dropped exactly like the reference's `seq <= current` check. The
    seq-guard last-write-wins is key-local, so the bucketed partial
    rewrite applies, and at one bucket the window runs in the staged
    write's own task (one Spark job, no shuffle). It is also
    idempotent, but a replay would still rewrite the touched buckets as
    a new version: each commit carries the batch's epoch (see
    :func:`_stream_epoch`), so a replay commits nothing.
    """

    def merge_fn(current: DataFrame | None, batch: DataFrame) -> DataFrame:
        rows = batch if current is None else current.unionByName(batch)
        return last_write_wins(rows, store.key_cols, [seq_col])

    def apply(batch_df: DataFrame, epoch_id: int) -> None:
        store.apply_keyed(batch_df, merge_fn, epoch=_stream_epoch(batch_df, epoch_id))

    return apply


def run_to_memory(
    result: DataFrame,
    name: str,
    output_mode: str = "complete",
    state_partitions: int | None = 4,
) -> DataFrame:
    """Execute a streaming aggregation to completion into an in-memory
    table and return it as a batch DataFrame (availableNow + memory sink
    — the local test harness for T3/T4).

    ``state_partitions`` pins ``spark.sql.shuffle.partitions`` for the
    query's lifetime: every stateful operator materializes one state
    store (checkpoint dir + per-batch delta file) PER shuffle partition,
    so a bounded local replay with 32 partitions pays 32x the state I/O
    for the same answer. 4 is the local-harness default (measured: the
    stream-stream join's per-partition store count, not parallelism, is
    the fixed cost — 16 partitions run 2x SLOWER than 4 on the sf0.1
    replay); pass None to inherit the session value (what a production
    deployment would do — state partitioning is fixed at first
    checkpoint, so size it for peak key cardinality there).

    The checkpoint is a :func:`ram_tempdir` owned by this call and
    deleted after the replay; Spark's own auto-created
    ``/tmp/temporary-*`` checkpoint has shown a state-dir creation race
    for stateful Python operators (applyInPandasWithState) under many
    state partitions.
    """
    spark = result.sparkSession
    writer = result.writeStream.format("memory").queryName(name).outputMode(output_mode)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        _drain(writer, f"{name}_ckpt_")
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


def kafka_message_frame(df: DataFrame, key_col: str, topic: str | None = None) -> DataFrame:
    """K1: project a DataFrame into the Kafka sink contract — string
    ``key`` (per-key partition ordering, the reference keys by lead id /
    session_id) and ``value`` = JSON of the full row.

    Reference: marketo_extractor.py:253-266, frontend_events_extractor.py
    :231-251 (idempotent JSON producers, acks=all). Feed the result to
    ``.write.format("kafka")`` / ``.writeStream.format("kafka")``;
    exactly-once comes from checkpoint + the idempotent producer.
    """
    from pyspark.sql import functions as F

    out = df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )
    if topic is not None:
        out = out.withColumn("topic", F.lit(topic))
    return out


def compact_archive_partition(
    spark: SparkSession,
    root: str,
    dt: str,
    topic: str,
    target_files: int = 1,
) -> int:
    """Compact one dt/topic partition of the T7/K7 archive into
    ``target_files`` parquet files.

    Streaming archives accrete one small file per micro-batch per
    partition — the classic small-files problem that degrades every
    downstream scan (footer/open overhead dominates under ~100 MB
    files). This is the maintenance companion: rewrite the partition at
    the target file count, verify the row count, then swap directories.

    Single-maintenance-writer assumption: the rename swap has a
    non-atomic window, so run compaction from one scheduled job (and
    never against the partition the stream is CURRENTLY appending to —
    compact closed partitions, e.g. previous days, exactly like the
    reference's hourly archive rotation). Concurrent READERS never
    double-count: the work dirs are dot-prefixed, which Spark's
    partition discovery ignores, so at no point do two copies of a row
    appear under the root. There IS a brief window between the two swap
    renames where the partition directory is absent — a scan racing that
    window undercounts the partition (or fails listing); schedule reads
    of a partition away from its compaction slot if that matters.
    A crash between the two swap renames is repaired on the next
    invocation (the dot-backup is restored before compacting).
    Returns the number of data files after compaction.
    """
    part_dir = os.path.join(root, f"dt={dt}")
    src = os.path.join(part_dir, f"topic={topic}")
    # dot-prefixed siblings: invisible to partition discovery, so a
    # concurrent scan of `root` sees exactly one copy of every row
    tmp = os.path.join(part_dir, f".compact-tmp-{topic}")
    backup = os.path.join(part_dir, f".pre-compact-{topic}")
    # crash repair: a previous run that died between its two renames
    # left the data only in the backup — restore it first; a backup
    # left AFTER a completed swap is stale and simply dropped
    if os.path.exists(backup):
        if not os.path.exists(src):
            os.rename(backup, src)
        else:
            shutil.rmtree(backup)
    df = spark.read.parquet(src)
    before = df.count()
    shutil.rmtree(tmp, ignore_errors=True)
    df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    after = spark.read.parquet(tmp).count()
    if before != after:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction row-count mismatch for {src}: {before} -> {after}"
        )
    os.rename(src, backup)
    os.rename(tmp, src)
    shutil.rmtree(backup)
    return sum(
        1 for f in os.listdir(src) if f.endswith(".parquet")
    )

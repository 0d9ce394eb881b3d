"""K1 Kafka message shape, T8 progress listener, the bounded
foreachBatch runner and archive compaction."""

from __future__ import annotations

import json
import os
import tempfile
import time

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.streaming import sinks
from iheardai_data_pipeline_spark.streaming.monitoring import ProgressMonitor
from iheardai_data_pipeline_spark.streaming.readers import read_file_stream
from iheardai_data_pipeline_spark.streaming.sinks import (
    kafka_message_frame,
    run_foreach_batch,
)


def test_kafka_message_frame_shape(spark):
    df = spark.createDataFrame(
        [(1, "s-1", 2.5), (2, "s-2", 3.5)], "lead_id bigint, session_id string, score double"
    )
    msg = kafka_message_frame(df, key_col="session_id", topic="leads.delta")
    assert msg.columns == ["key", "value", "topic"]
    rows = {r["key"]: r for r in msg.collect()}
    assert set(rows) == {"s-1", "s-2"}
    payload = json.loads(rows["s-1"]["value"])
    assert payload == {"lead_id": 1, "session_id": "s-1", "score": 2.5}
    assert rows["s-1"]["topic"] == "leads.delta"


def test_progress_monitor_collects_and_alerts(spark, sf_dir):
    from iheardai_data_pipeline_spark.streaming.readers import read_events_stream

    mon = ProgressMonitor(lag_alert_rows=10)
    spark.streams.addListener(mon)
    try:
        stream = read_events_stream(spark, sf_dir)
        agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        q = (
            agg.writeStream.format("memory")
            .queryName("t8_probe")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener callbacks are async; give the bus a moment
        for _ in range(50):
            if mon.progress:
                break
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(mon)
    assert mon.progress, "no progress events captured"
    assert sum(p.num_input_rows for p in mon.progress) > 0
    # the sf0.001 events table exceeds the 10-row alert threshold in one trigger
    assert mon.alerts


def test_compact_archive_partition(spark, tmp_path):
    """Many per-batch files in one dt/topic partition compact to one,
    value-identically."""
    import os

    from pyspark.sql import functions as F

    from iheardai_data_pipeline_spark.streaming.sinks import (
        compact_archive_partition,
    )

    root = str(tmp_path / "archive")
    part = os.path.join(root, "dt=2024-01-01", "topic=click")
    # simulate micro-batch appends: 5 separate small writes
    for i in range(5):
        spark.range(i * 10, (i + 1) * 10).select(
            F.col("id"), F.lit("click").alias("event_type")
        ).write.mode("append").parquet(part)
    n_before = sum(1 for f in os.listdir(part) if f.endswith(".parquet"))
    assert n_before >= 5
    rows_before = sorted(r["id"] for r in spark.read.parquet(part).collect())

    n_after = compact_archive_partition(spark, root, "2024-01-01", "click")
    assert n_after == 1
    rows_after = sorted(r["id"] for r in spark.read.parquet(part).collect())
    assert rows_after == rows_before == list(range(50))


def test_compaction_workdirs_invisible_to_discovery(spark, tmp_path):
    """Mid-compaction work dirs must not double-count rows for a
    concurrent reader scanning the archive root."""
    import os
    import shutil

    from pyspark.sql import functions as F

    root = str(tmp_path / "arch2")
    part = os.path.join(root, "dt=2024-01-01", "topic=click")
    spark.range(20).select(F.col("id"), F.lit("click").alias("event_type")).write.parquet(part)
    # simulate an in-flight compaction work dir next to the partition
    shutil.copytree(part, os.path.join(root, "dt=2024-01-01", ".compact-tmp-click"))
    assert spark.read.parquet(root).count() == 20  # not 40


def test_compaction_crash_repair(spark, tmp_path):
    """A crash between the two swap renames leaves data only in the
    backup; the next invocation must restore and proceed."""
    import os

    from pyspark.sql import functions as F

    from iheardai_data_pipeline_spark.streaming.sinks import (
        compact_archive_partition,
    )

    root = str(tmp_path / "arch3")
    dt_dir = os.path.join(root, "dt=2024-01-01")
    part = os.path.join(dt_dir, "topic=click")
    for i in range(3):
        spark.range(i * 5, (i + 1) * 5).select(
            F.col("id"), F.lit("click").alias("event_type")
        ).write.mode("append").parquet(part)
    # simulate the crash window: src renamed to backup, new dir never landed
    os.rename(part, os.path.join(dt_dir, ".pre-compact-click"))
    n = compact_archive_partition(spark, root, "2024-01-01", "click")
    assert n == 1
    assert sorted(r["id"] for r in spark.read.parquet(part).collect()) == list(range(15))


def _three_file_stream(spark, tmp_path):
    """A JSON file stream of three files, read one file per micro-batch."""
    src = tmp_path / "src"
    src.mkdir()
    for i in range(3):
        (src / f"part-{i}.json").write_text(
            "".join(json.dumps({"id": 10 * i + j}) + "\n" for j in range(2))
        )
    return read_file_stream(
        spark, str(src), "id bigint", fmt="json", max_files_per_trigger=1
    )


def _recorded_checkpoints(monkeypatch):
    """The checkpoint dirs that run_foreach_batch makes from here on."""
    made = []
    real = sinks.ram_tempdir

    def record(prefix):
        made.append(real(prefix))
        return made[-1]

    monkeypatch.setattr(sinks, "ram_tempdir", record)
    return made


def test_run_foreach_batch_sees_every_batch(spark, tmp_path, monkeypatch):
    made = _recorded_checkpoints(monkeypatch)
    seen = []
    run_foreach_batch(
        _three_file_stream(spark, tmp_path),
        lambda batch, batch_id: seen.append(
            (batch_id, sorted(r["id"] for r in batch.collect()))
        ),
    )
    assert [batch_id for batch_id, _ in seen] == [0, 1, 2]
    assert sorted(i for _, ids in seen for i in ids) == [0, 1, 10, 11, 20, 21]
    assert len(made) == 1 and not os.path.exists(made[0])


def test_run_foreach_batch_failure_reaches_caller(spark, tmp_path, monkeypatch):
    made = _recorded_checkpoints(monkeypatch)

    def fail(batch, batch_id):
        raise ValueError("batch rejected")

    with pytest.raises(StreamingQueryException, match="batch rejected"):
        run_foreach_batch(_three_file_stream(spark, tmp_path), fail)
    assert len(made) == 1 and not os.path.exists(made[0])


@pytest.mark.parametrize(
    "name", ["t9_stream_ingest_dedup", "t12_stream_ingest_neardup"]
)
def test_foreach_entries_delete_their_temp_root(
    spark, sf_dir, tmp_path, monkeypatch, name
):
    """The entry's result is pinned before its temp root goes, so
    collecting it leaves nothing under the temp dir."""
    from iheardai_data_pipeline_spark.plans.catalog import CATALOG, _ensure_loaded

    _ensure_loaded()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert CATALOG[name].fn(spark, sf_dir).collect()
    assert os.listdir(tmp_path) == []

"""Warehouse batch-load sink (SURVEY §2.2 K6).

The reference's Snowflake loader (etl/load/snowflake_loader.py:114-136)
drains Kafka topics and ``write_pandas``-appends each poll batch into a
per-topic warehouse table (chunked, keyed tables). The Spark
restatement is a foreachBatch-able loader with the same split the Kafka
reader uses (``streaming/readers.py:read_kafka_stream``): the
engine-side semantics — last-write-wins on the key within a batch and
across batches, and exactly-once delivery — are real and tested. The
table is a local :class:`~streaming.stores.BucketedTransactionalStore`
at ``target``, the same keyed MERGE contract a warehouse's server-side
MERGE gives: the loader hands each batch straight to the store's keyed
merge, which resolves several versions of one key in the batch itself,
and :meth:`~WarehouseBatchLoader.foreach_batch` passes the stream's
epoch so a replayed micro-batch commits nothing.

At scale the loader adds no exchange of its own: the merge is a
merge-on-read commit — the batch's last-write-wins rows are appended
to each touched bucket's dir list with a logarithmic fold of its tail,
so a batch costs O(batch) and a read resolves the list last-write-wins.
A loader reads the store at ``target`` whoever wrote it, so a restarted
process reads its own table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from iheardai_data_pipeline_spark.streaming.stores import BucketedTransactionalStore


class WarehouseBatchLoader:
    """K6 batch loader: last-write-wins merge of each batch into the
    keyed store at the local path ``target`` (data-sized buckets,
    exactly-once under replays). ``fmt`` names the table format and
    accepts only ``parquet_bucketed``."""

    def __init__(
        self,
        spark: SparkSession,
        target: str,
        key_cols: list[str],
        order_cols: list[str],
        fmt: str = "parquet_bucketed",
    ) -> None:
        if fmt != "parquet_bucketed":
            raise ValueError(
                f"unknown warehouse format {fmt!r}; the loader writes "
                "'parquet_bucketed' only"
            )
        self.spark = spark
        self.target = target
        self.key_cols = list(key_cols)
        self.order_cols = list(order_cols)
        self._store = None

    def load_batch(self, df: DataFrame, epoch=None) -> None:
        """Load one batch. A poll batch can carry several versions of
        one key (the reference appends them all and leans on downstream
        views); the latest by ``order_cols`` wins. ``epoch``: the
        idempotent-commit marker — a batch whose epoch was already
        committed is a no-op."""
        self._table().merge(df, epoch=epoch)

    def _table(self) -> BucketedTransactionalStore:
        """The store at ``target``, opened on first use."""
        if self._store is None:
            self._store = BucketedTransactionalStore(
                self.spark, self.target, self.key_cols, self.order_cols
            )
        return self._store

    def read(self) -> DataFrame | None:
        """Current table contents, or None while the table is empty. A
        fresh loader reads what any earlier one committed at ``target``."""
        return self._table().read()

    def foreach_batch(self):
        """Adapter for ``writeStream.foreachBatch`` — the streaming K6
        path, the reference's manual-commit loop restated. Exactly-once:
        each batch commits with the stream's epoch
        (``sinks._stream_epoch``), so a replayed batch commits nothing."""
        from iheardai_data_pipeline_spark.streaming.sinks import _stream_epoch

        def _fn(df: DataFrame, epoch_id: int) -> None:
            self.load_batch(df, epoch=_stream_epoch(df, epoch_id))

        return _fn

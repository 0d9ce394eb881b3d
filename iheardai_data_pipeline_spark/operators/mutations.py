"""Upsert / merge / dedup semantics (SURVEY.md §2.10 M1-M5).

The reference's mutation surface is PostgreSQL ``ON CONFLICT DO UPDATE``
(enhanced_kpi_consumer.py:395-434, 472-536) and a per-session monotonic
``seq`` guard (enhanced_kpi_consumer.py:643-646). On parquet-backed Spark
the equivalent is a deterministic dedup-on-read convention:
last-writer-wins by key via ``row_number`` over an ordering column —
exactly what a Delta MERGE would materialize.

Scale posture: one shuffle on the key columns (the window partition);
at 100 TB pre-bucketing the fact table by the merge key makes this
shuffle-free. No driver-side state, no collects.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def last_write_wins(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """M1/M2: keep the newest row per key.

    ``order_cols`` are sorted DESC (latest first); include a unique
    tiebreaker last for determinism.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def lww_order_key() -> Column:
    """The versioned-row order of the persistent indexes: greatest
    ``seq`` wins and, at one ``seq``, a tombstone (``live`` false) beats
    a live row (delete-biased — the conservative resolution of a
    retraction race). Linearized into ONE BIGINT, ``2*seq + (0 if live
    else 1)``, which orders rows exactly as the (seq, tombstone) struct
    would for ``|seq| < 2^62``: a primitive ordering key lets ``max_by``
    hash-aggregate, where a struct key forces a Sort + SortAggregate.
    Live winners have an even key, and their seq is ``key DIV 2``."""
    return F.col("seq") * 2 + F.when(F.col("live"), F.lit(0)).otherwise(F.lit(1))


def latest_live(
    rows: DataFrame,
    key_cols: Sequence[str],
    cols: Sequence[str],
    keep_version: bool = False,
) -> DataFrame:
    """M1/M2 for versioned (seq, live) rows: collapse each key to its
    latest version under :func:`lww_order_key` and drop keys whose
    latest version is a tombstone. Returns ``key_cols`` + ``cols`` of
    the live winners; ``keep_version`` also keeps their ``seq`` and
    ``live`` stamp, so a compaction's survivors still order against
    later writes."""
    okey = lww_order_key()
    payload = [c for c in cols if c not in key_cols]
    # a lone payload column stays primitive, so max_by can hash-aggregate
    value = F.col(payload[0]) if len(payload) == 1 else F.struct(*payload)
    latest = rows.groupBy(*key_cols).agg(
        F.max_by(value, okey).alias("__v"), F.max(okey).alias("__okey")
    )
    out = [F.col(c) for c in key_cols] + (
        [F.col("__v").alias(payload[0])]
        if len(payload) == 1
        else [F.col(f"__v.{c}").alias(c) for c in payload]
    )
    if keep_version:
        out += [F.expr("__okey DIV 2").alias("seq"), F.lit(True).alias("live")]
    return latest.filter(F.col("__okey") % 2 == 0).select(*out)


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """M3: apply an updates batch to a target snapshot, last-writer-wins.

    Equivalent to Delta ``MERGE WHEN MATCHED UPDATE WHEN NOT MATCHED
    INSERT`` with update-priority; expressed as union + window dedup so it
    is parquet-safe and oracle-checkable.
    """
    return merge_upsert_chain([target, updates], key_cols, order_cols)


def merge_upsert_chain(
    parts: Sequence[DataFrame],
    key_cols: Sequence[str],
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """:func:`merge_upsert` folded over ``parts``, oldest first: per key,
    the rows of the LATEST part holding the key win (update priority),
    and among those the newest by ``order_cols`` (sorted DESC). One
    union and one window, however many parts. A merge-on-read store
    resolves a bucket's snapshot-dir list with it (streaming/stores.py)."""
    return latest_by_priority(tag_priority(parts, order_cols), key_cols)


def tag_priority(
    parts: Sequence[DataFrame], order_cols: Sequence[str] = ()
) -> DataFrame:
    """The union of ``parts`` with each row's priority as ``__prio``:
    its part index (oldest 0), then its ``order_cols`` — a struct when
    there are any, which orders as the index DESC then each column DESC
    NULLS LAST. The input of :func:`latest_by_priority`."""
    return reduce(
        lambda a, b: a.unionByName(b),
        [
            p.withColumn(
                "__prio",
                F.struct(F.lit(i), *order_cols) if order_cols else F.lit(i),
            )
            for i, p in enumerate(parts)
        ],
    )


def latest_by_priority(tagged: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Per key of ``tagged`` (see :func:`tag_priority`), the row with
    the greatest ``__prio``; ``__prio`` dropped. One window, whose
    exchange Spark skips when the input is already hash-partitioned on
    a subset of ``key_cols``."""
    w = Window.partitionBy(*key_cols).orderBy(F.col("__prio").desc())
    return (
        tagged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio")
    )


def seq_guard_dedup(
    df: DataFrame,
    key_cols: Sequence[str],
    seq_col: str,
) -> DataFrame:
    """M4/W3: keep only the max-seq row per key (monotonic seq guard —
    stale updates with seq <= current are dropped)."""
    return last_write_wins(df, key_cols, [seq_col])


def dedup_by_event_id(df: DataFrame, id_col: str = "event_id") -> DataFrame:
    """M5: event-level exact dedup by id (reference enable_deduplication,
    config/config.yaml:260). Batch analog of streaming
    ``dropDuplicates`` within watermark."""
    return df.dropDuplicates([id_col])

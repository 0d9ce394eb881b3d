"""Streaming catalog queries (T3/T4): executed through Structured
Streaming (file source -> one bounded run over every file present ->
memory sink or foreachBatch) and compared to the SAME DuckDB oracles as
their batch analogs — proving the streaming operators produce the
batch-equivalent answer. The runs go through ``streaming/sinks.py``
(``run_to_memory``, ``run_foreach_batch``), which own and delete the
checkpoints.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.plans.catalog import register
from iheardai_data_pipeline_spark.sources.batch import load_table
from iheardai_data_pipeline_spark.streaming.readers import (
    read_events_stream,
    read_table_stream,
)
from iheardai_data_pipeline_spark.streaming.sinks import (
    ram_tempdir,
    run_foreach_batch,
    run_to_memory,
)
from iheardai_data_pipeline_spark.streaming.stores import BucketedTransactionalStore
from iheardai_data_pipeline_spark.streaming.windows import session_windows, tumbling_usage


def _count_by(spark: SparkSession, out_dir: str, col: str) -> DataFrame:
    """Rows per ``col`` of the parquet under ``out_dir``, ordered by
    ``col``. The rollup is small and pinned, so the caller can delete
    the dir as soon as this returns."""
    return (
        spark.read.parquet(out_dir)
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n_accepted"))
        .localCheckpoint(eager=True)
        .orderBy(col)
    )


_T3_ORACLE = """
SELECT CAST(FLOOR(epoch(date_trunc('minute', ts))) AS BIGINT) AS bucket_start_s,
    user_id, COUNT(*) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


@register(
    "t3_stream_tumbling_windows",
    oracle=_T3_ORACLE,
    tags=("streaming",),
    doc="T3: 60s tumbling billing windows executed as a Structured "
    "Streaming query (file source, bounded run, memory sink); equals the "
    "batch A8 answer (reference config/config.yaml:208-212).",
)
def t3_stream_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    result = tumbling_usage(stream)
    out = run_to_memory(result, f"t3_out_{uuid.uuid4().hex[:8]}")
    return out.orderBy("bucket_start_s", "user_id")


_T4_ORACLE = """
WITH seq AS (
    SELECT user_id, event_id, ts, value,
        CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w > INTERVAL 1800 SECOND
             THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
    SELECT *, SUM(is_new) OVER (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
    FROM seq
)
SELECT user_id,
    CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS started_at_s,
    COUNT(*) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM sess GROUP BY user_id, session_seq
ORDER BY user_id, started_at_s
"""


@register(
    "t4_stream_session_windows",
    oracle=_T4_ORACLE,
    tags=("streaming", "sessionization"),
    doc="T4: session_window(ts, 30 min) as a streaming query — produces "
    "the identical session set to batch gap-sessionization (A1), the "
    "event-time upgrade of the reference's Redis session TTL "
    "(enhanced_kpi_consumer.py:638-673).",
)
def t4_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = read_events_stream(spark, sf_dir)
    result = session_windows(stream, gap="30 minutes")
    out = run_to_memory(result, f"t4_out_{uuid.uuid4().hex[:8]}")
    return out.orderBy("user_id", "started_at_s")


_T5_ORACLE = """
SELECT COUNT(*) AS n_unique, COUNT(DISTINCT user_id) AS n_users FROM events
"""


@register(
    "t5_stream_watermark_dedup",
    oracle=_T5_ORACLE,
    tags=("streaming", "dedup"),
    doc="T5: watermark-bounded event-id dedup as a streaming query — the "
    "doubled input stream collapses back to exactly the original events "
    "(reference enable_deduplication + seq guard, config/config.yaml:260, "
    "enhanced_kpi_consumer.py:643-646). State is evicted past the "
    "watermark, so dedup memory stays bounded at any scale.",
)
def t5_stream_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.streaming.windows import dedup_within_watermark

    stream = read_events_stream(spark, sf_dir)
    doubled = stream.unionByName(stream)
    deduped = dedup_within_watermark(doubled, id_cols=("event_id",), watermark="1 hour")
    # streaming forbids exact distinct aggregates: aggregate per user in
    # the stream, finish the rollup on the batch side of the memory sink
    per_user = deduped.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    out = run_to_memory(per_user, f"t5_out_{uuid.uuid4().hex[:8]}")
    return out.agg(
        F.sum("n").alias("n_unique"), F.count(F.lit(1)).alias("n_users")
    )


_T6_ORACLE = """
SELECT user_id,
    COUNT(*) AS n_events,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
    CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS started_at_s,
    CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS last_seen_s,
    MAX(event_id) AS max_event_id
FROM events GROUP BY user_id ORDER BY user_id
"""


@register(
    "t6_stream_session_state",
    oracle=_T6_ORACLE,
    tags=("streaming", "stateful"),
    doc="T6/K5: per-key session state via applyInPandasWithState — "
    "Spark's keyed state store as the reference's Redis session hash "
    "(seq high-water, counts, started/last-seen) with the state timeout "
    "as the 1h TTL (enhanced_kpi_consumer.py:638-673, "
    "config/config.yaml:146-151). The final snapshot per key equals the "
    "batch per-user rollup.",
)
def t6_stream_session_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.mutations import last_write_wins
    from iheardai_data_pipeline_spark.streaming.stateful import track_session_state

    stream = read_events_stream(spark, sf_dir)
    # ttl_ms=None: TTL timeouts would keep the bounded replay alive
    # forever (see streaming/stateful.py docstring)
    snapshots = track_session_state(stream, ttl_ms=None)
    out = run_to_memory(
        snapshots,
        f"t6_out_{uuid.uuid4().hex[:8]}",
        output_mode="update",
        # per-key pandas batches run in Python workers: state I/O is not
        # the bottleneck here, worker parallelism is — keep session width
        state_partitions=None,
    )
    # update mode appends one snapshot per (key, touching micro-batch);
    # the session's final state is the one with the highest event count
    final = last_write_wins(out, ["user_id"], ["n_events", "last_seen_s"])
    return final.select(
        "user_id", "n_events", "sum_value", "started_at_s", "last_seen_s", "max_event_id"
    ).orderBy("user_id")


_T8_ORACLE = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
    CAST(FLOOR(epoch(c.ts)) AS BIGINT) AS click_ts_s,
    CAST(FLOOR(epoch(p.ts)) AS BIGINT) AS purchase_ts_s,
    CAST(ROUND(CAST(p.value AS DECIMAL(18,2)), 2) AS DOUBLE) AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
"""


@register(
    "t8_stream_stream_join",
    oracle=_T8_ORACLE,
    tags=("streaming", "join"),
    doc="Stream-stream event-time join: purchases attributed to a "
    "preceding same-user click within 30 min, BOTH sides unbounded "
    "streams. The explicit time-range bound + watermarks let Spark "
    "evict join state past watermark+horizon, so state tracks the "
    "horizon, not stream length. Equals the batch interval self-join "
    "(the oracle) — the fully-streaming upgrade of x_asof_attribution.",
)
def t8_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.streaming.windows import (
        stream_stream_attribution_join,
    )

    stream = read_events_stream(spark, sf_dir)
    clicks = stream.filter(F.col("event_type") == "click")
    purchases = stream.filter(F.col("event_type") == "purchase")
    joined = stream_stream_attribution_join(clicks, purchases, horizon="30 minutes")
    return run_to_memory(joined, f"t8_out_{uuid.uuid4().hex[:8]}", output_mode="append")


# --- T9 (extension): streaming-ingest dedup against a fingerprint index ------------

_T9_ORACLE = """
WITH fp AS (
    SELECT doc_id, source,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
),
seed AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 5 = 0),
fresh AS (
    SELECT * FROM fp
    WHERE fingerprint NOT IN (SELECT fingerprint FROM seed)
),
acc AS (SELECT fingerprint, MIN(doc_id) AS doc_id FROM fresh GROUP BY fingerprint)
SELECT f.source, COUNT(*) AS n_accepted
FROM acc a JOIN fp f ON a.doc_id = f.doc_id
GROUP BY f.source
ORDER BY f.source
"""


@register(
    "t9_stream_ingest_dedup",
    oracle=_T9_ORACLE,
    tags=("streaming", "dedup"),
    doc="Streaming-ingest dedup (extension): the documents table streams "
    "through the file source and each micro-batch passes "
    "operators/dedup.py:incremental_dedup against a pre-seeded "
    "fingerprint index (docs with doc_id%5==0 simulate the existing "
    "corpus) inside foreachBatch — the production loop a growing "
    "training corpus runs on ingest. Accepted docs land in a parquet "
    "store (K3 append pattern); the oracle is the batch-equivalent "
    "anti-join + min-id answer, proving stream == batch.",
)
def t9_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.dedup import incremental_dedup
    from iheardai_data_pipeline_spark.operators.text import fingerprint_md5

    docs = load_table(spark, sf_dir, "documents")
    seed_fps = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(fingerprint_md5(F.col("text")).alias("fingerprint"))
        .distinct()
    )
    # pin the (tiny) seed index once so every micro-batch probes the same
    # in-memory build side instead of re-reading the corpus
    seed_fps.cache().count()

    root = tempfile.mkdtemp(prefix="t9_")
    out_dir = os.path.join(root, "accepted")

    def ingest_batch(batch: DataFrame, batch_id: int) -> None:
        # probe = seed index ∪ fingerprints ACCEPTED BY EARLIER BATCHES —
        # without the second leg, a duplicate spanning two micro-batches
        # would be accepted twice and the stream != batch. (The fixture
        # happens to arrive as one batch; the probe must not rely on it.)
        probe = seed_fps
        if os.path.exists(out_dir):
            probe = seed_fps.unionByName(
                spark.read.parquet(out_dir).select("fingerprint")
            )
        accepted = incremental_dedup(batch, probe)
        accepted.select("doc_id", "source", "fingerprint").write.mode(
            "append"
        ).parquet(out_dir)

    try:
        run_foreach_batch(
            read_table_stream(spark, sf_dir, "documents", docs.schema), ingest_batch
        )
        return _count_by(spark, out_dir, "source")
    finally:
        seed_fps.unpersist()
        shutil.rmtree(root, ignore_errors=True)


# --- T10 (extension): sliding windows ----------------------------------------------

_T10_ORACLE = """
WITH offsets AS (SELECT 0 AS k UNION ALL SELECT 1),
ev AS (
    SELECT event_type, value,
           CAST(FLOOR(epoch(ts)) AS BIGINT) AS ts_s
    FROM events
),
assigned AS (
    -- each event belongs to the two 10-min windows sliding by 5 min
    -- whose start = floor((ts - k*300)/600)*600 + k*300
    SELECT event_type, value,
           (ts_s - ((ts_s - k * 300) % 600)) AS win_start_s
    FROM ev, offsets
)
SELECT win_start_s, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM assigned
GROUP BY win_start_s, event_type
ORDER BY win_start_s, event_type
"""


@register(
    "t10_stream_sliding_windows",
    oracle=_T10_ORACLE,
    tags=("streaming",),
    doc="T10 (extension): 10-minute windows sliding every 5 minutes per "
    "event type — each event contributes to exactly two windows (the "
    "moving-average shape tumbling can't express). Executed as a "
    "Structured Streaming query; the oracle assigns each event to its "
    "two windows with integer epoch arithmetic and must match exactly.",
)
def t10_stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.streaming.windows import sliding_usage

    stream = read_events_stream(spark, sf_dir)
    result = sliding_usage(stream, duration="10 minutes", slide="5 minutes")
    out = run_to_memory(result, f"t10_out_{uuid.uuid4().hex[:8]}")
    return out.orderBy("win_start_s", "event_type")


# --- T11 (extension): stream-static dimension join ---------------------------------

_T11_ORACLE = """
WITH cohort AS (
    SELECT user_id,
           MIN(CAST(FLOOR(epoch(ts)) AS BIGINT)) // 86400 AS first_day_num
    FROM events GROUP BY user_id
)
SELECT CAST(c.first_day_num AS BIGINT) AS cohort_day,
       e.event_type,
       COUNT(*) AS n_events
FROM events e JOIN cohort c ON e.user_id = c.user_id
GROUP BY cohort_day, e.event_type
ORDER BY cohort_day, e.event_type
"""


@register(
    "t11_stream_static_join",
    oracle=_T11_ORACLE,
    tags=("streaming", "join"),
    doc="T11 (extension): stream enriched with a STATIC dimension — the "
    "events stream joins a batch-computed user->cohort-day table "
    "(broadcast; re-resolved per micro-batch, the standard slowly-"
    "changing-dim streaming pattern) and rolls up counts per "
    "(cohort, type). Streaming aggregate equals the batch join answer.",
)
def t11_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # static dim: computed batch-side once (in production: a dim table)
    events_batch = load_table(spark, sf_dir, "events")
    cohort = (
        events_batch.groupBy("user_id")
        .agg(F.expr("MIN(unix_seconds(ts)) DIV 86400").alias("cohort_day"))
    )
    stream = read_events_stream(spark, sf_dir)
    joined = stream.join(F.broadcast(cohort), "user_id")
    result = joined.groupBy("cohort_day", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = run_to_memory(result, f"t11_out_{uuid.uuid4().hex[:8]}")
    return out.orderBy("cohort_day", "event_type")


# --- T12 (extension): streaming-ingest NEAR-dup gate -------------------------------

from iheardai_data_pipeline_spark.functions.exact import sql_ratio_half_up

_T12_JACCARD = sql_ratio_half_up("s", "ca.n + cb.n - s", 4)

_T12_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(ws) - 4, 0)),
                               i -> array_to_string(ws[i:i+4], ' '))) AS shingle
  FROM toks
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
near AS (
  SELECT doc_a, doc_b FROM shared
  JOIN counts ca ON shared.doc_a = ca.doc_id
  JOIN counts cb ON shared.doc_b = cb.doc_id
  WHERE {_T12_JACCARD} >= 0.7
),
kept AS (
  SELECT d.doc_id, d.source FROM documents d
  WHERE d.doc_id % 5 <> 0
    AND NOT EXISTS (
      SELECT 1 FROM near
      WHERE near.doc_a = d.doc_id
        AND (near.doc_b % 5 = 0 OR near.doc_b < d.doc_id)
    )
)
SELECT source, CAST(count(*) AS BIGINT) AS n_accepted
FROM kept GROUP BY source ORDER BY source
"""


@register(
    "t12_stream_ingest_neardup",
    oracle=_T12_ORACLE,
    tags=("streaming", "dedup", "sketch"),
    doc="Streaming-ingest NEAR-dup gate (extension): each micro-batch of "
    "incoming docs (doc_id%5!=0) passes incremental_minhash_dedup "
    "against the seeded corpus (doc_id%5==0) UNION every previously "
    "seen incoming doc inside foreachBatch — accepted docs append to a "
    "parquet store, and the probe includes rejected docs too so "
    "near-dup chains split across micro-batches resolve exactly like "
    "the batch answer (near-dup is not transitive, unlike t9's exact "
    "fingerprints). Arrival order = id order is the deterministic "
    "tiebreak, which is what a production ingest loop uses (earlier "
    "arrival wins). Oracle = the exact all-pairs batch answer.",
)
def t12_stream_ingest_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.dedup import incremental_minhash_dedup

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    corpus.cache().count()

    root = tempfile.mkdtemp(prefix="t12_")
    out_dir = os.path.join(root, "accepted")
    seen_dir = os.path.join(root, "seen")

    def ingest_batch(batch: DataFrame, batch_id: int) -> None:
        inc = batch.filter(F.col("doc_id") % 5 != 0)
        probe = corpus
        if os.path.exists(seen_dir):
            probe = corpus.unionByName(
                spark.read.parquet(seen_dir).select("doc_id", "text")
            )
        kept = incremental_minhash_dedup(inc, probe, threshold=0.7)
        kept.select("doc_id", "source").write.mode("append").parquet(out_dir)
        inc.select("doc_id", "text").write.mode("append").parquet(seen_dir)

    try:
        run_foreach_batch(
            read_table_stream(spark, sf_dir, "documents", docs.schema), ingest_batch
        )
        return _count_by(spark, out_dir, "source")
    finally:
        corpus.unpersist()
        shutil.rmtree(root, ignore_errors=True)


@register(
    "t13_stream_indexed_neardup",
    oracle=_T12_ORACLE,
    tags=("streaming", "dedup", "sketch"),
    doc="Streaming-ingest NEAR-dup gate over the PERSISTENT band index "
    "(round 5): the corpus (doc_id%5==0) bootstraps a MinHashBandIndex "
    "once; each micro-batch of incoming docs probes the index with "
    "bucket-pruned lookups and appends its own bands (kept AND "
    "rejected — near-dup is not transitive), so per-batch work is "
    "batch- and candidate-bounded instead of t12's per-batch corpus "
    "re-banding. Oracle = the same exact all-pairs batch answer.",
)
def t13_stream_indexed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.neardup_index import MinHashBandIndex

    docs = load_table(spark, sf_dir, "documents")
    # RAM-backed: the demo index's OCC commit I/O is the dominant fixed cost
    root = ram_tempdir("t13_")
    out_dir = os.path.join(root, "accepted")
    try:
        idx = MinHashBandIndex(spark, os.path.join(root, "idx"), threshold=0.7)
        idx.append(docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text"))

        def ingest_batch(batch: DataFrame, batch_id: int) -> None:
            inc = batch.filter(F.col("doc_id") % 5 != 0).select(
                "doc_id", "source", "text"
            )
            idx.ingest(inc).select("doc_id", "source").write.mode("append").parquet(
                out_dir
            )

        run_foreach_batch(
            read_table_stream(spark, sf_dir, "documents", docs.schema), ingest_batch
        )
        return _count_by(spark, out_dir, "source")
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- T14 (extension): streaming-maintained HyperLogLog ------------------------------

# Same oracle arithmetic as x_sketch_hll, restated over the streamed
# events: registers are MERGEABLE BY MAX, so micro-batch maintenance is
# exact — however the stream splits batches, the final register table
# (and therefore the estimate double) equals the one-shot batch answer
# bit for bit. That exactness is the entire reason the sketch state is
# relational rows instead of an opaque binary.
# 2904.064 is 0.709*64*64 (alpha_64 * m^2) — repr-identical to the
# Python double the engine embeds, verified: 0.709*64*64 == 2904.064.
_T14_ORACLE = """
WITH keys AS (
  SELECT user_id,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h1,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8))::BIGINT AS v
  FROM events WHERE user_id IS NOT NULL
),
regs AS (
  SELECT h1 % 64 AS bucket,
         CAST(max(CASE WHEN v > 0 THEN 33 - length(bin(v)) ELSE 33 END) AS INTEGER)
           AS max_rank
  FROM keys GROUP BY 1
),
s AS (
  SELECT CAST(sum(CAST(1 AS BIGINT) << (33 - max_rank)) AS BIGINT) AS s_obs,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM regs
)
SELECT r.bucket, r.max_rank,
       round((2904.064 * 8589934592.0)
         / CAST(s.s_obs + (64 - s.n_obs) * 8589934592 AS DOUBLE), 6)
         AS est_distinct
FROM regs r, s
"""


@register(
    "t14_stream_hll",
    oracle=_T14_ORACLE,
    tags=("streaming", "sketch"),
    doc="Streaming-maintained HyperLogLog (round 5): each micro-batch "
    "computes its own (bucket, max_rank) registers and MAX-merges them "
    "into a keyed store inside foreachBatch (one whole-relation "
    "BucketedTransactionalStore.apply per batch) — bounded state (<=2^p "
    "rows) however long the stream runs, and because max is the "
    "sketch's merge, the final registers and estimate equal the batch "
    "answer BIT FOR BIT regardless of micro-batch splits. The "
    "streaming twin of x_sketch_hll.",
)
def t14_stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    root = tempfile.mkdtemp(prefix="t14_")
    store = BucketedTransactionalStore(
        spark,
        os.path.join(root, "hll"),
        key_cols=["bucket"],
        order_cols=["max_rank"],
    )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        regs = hll_registers(
            batch.where(F.col("user_id").isNotNull()), "user_id", p=6
        )

        def fn(current: DataFrame | None) -> DataFrame:
            if current is None:
                return regs
            return (
                current.unionByName(regs)
                .groupBy("bucket")
                .agg(F.max("max_rank").alias("max_rank"))
            )

        store.apply(fn)

    try:
        run_foreach_batch(read_events_stream(spark, sf_dir), merge_batch)
        regs = store.read()
        summary = regs.agg(F.round(hll_estimate(p=6), 6).alias("est_distinct"))
        return (
            regs.select("bucket", F.col("max_rank").cast("int").alias("max_rank"))
            .crossJoin(F.broadcast(summary))
            # <=2^p rows: pin them so the store's tmp dir can be reclaimed
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- T15 (extension): streaming-maintained Count-Min sketch -------------------------

# Same arithmetic as x_sketch_heavy_hitters' oracle: CMS cells merge by
# SUM, so micro-batch maintenance is exact — the final cell table (and
# every estimate) equals the one-shot batch sketch regardless of how
# the stream was split.
_T15_HASH = (
    "(('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' || "
    "CAST({key} AS VARCHAR)), 1, 8))::BIGINT % 64)"
)

_T15_ORACLE = f"""
WITH keys AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM events GROUP BY user_id
),
cells AS (
  SELECT e.user_id, d.d AS depth,
         {_T15_HASH.format(key="e.user_id")} AS cell
  FROM events e, unnest(generate_series(0, 3)) AS d(d)
),
sketch AS (
  SELECT depth, cell, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY depth, cell
),
probes AS (
  SELECT k.user_id, d.d AS depth,
         {_T15_HASH.format(key="k.user_id")} AS cell
  FROM keys k, unnest(generate_series(0, 3)) AS d(d)
),
est AS (
  SELECT p.user_id, CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS est
  FROM probes p LEFT JOIN sketch s USING (depth, cell)
  GROUP BY p.user_id
)
SELECT k.user_id, e.est, k.exact_cnt, e.est >= k.exact_cnt AS over_ok
FROM keys k JOIN est e USING (user_id)
ORDER BY e.est DESC, k.user_id LIMIT 20
"""


@register(
    "t15_stream_cms",
    oracle=_T15_ORACLE,
    tags=("streaming", "sketch"),
    doc="Streaming-maintained Count-Min sketch (round 5): each "
    "micro-batch builds its own 4x64 cell table and SUM-merges it into "
    "a keyed store inside foreachBatch — bounded d*w state for an "
    "unbounded stream, and because sum is the CMS merge, the final "
    "cells and every estimate equal the one-shot batch sketch exactly. "
    "Unlike t14's max-merge (naturally idempotent), sum double-counts "
    "a crash-replayed batch, so each commit records its epoch in the "
    "OCC commit marker (BucketedTransactionalStore.apply's epoch guard) "
    "and already-merged epochs are skipped — "
    "exactly-once even though the store commits independently of the "
    "stream checkpoint. The frequency twin of t14's sketch.",
)
def t15_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.sketch import cms_build, cms_estimate

    root = tempfile.mkdtemp(prefix="t15_")
    store = BucketedTransactionalStore(
        spark,
        os.path.join(root, "cms"),
        key_cols=["depth", "cell"],
        order_cols=["cnt"],
    )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        part = cms_build(batch, "user_id", depth=4, width=64)

        def fn(current: DataFrame | None) -> DataFrame:
            if current is None:
                return part
            return (
                current.unionByName(part)
                .groupBy("depth", "cell")
                .agg(F.sum("cnt").alias("cnt"))
            )

        # sum is NOT an idempotent merge: the epoch marker makes a
        # replayed micro-batch a no-op instead of a double count
        store.apply(fn, epoch=int(batch_id))

    try:
        run_foreach_batch(read_events_stream(spark, sf_dir), merge_batch)
        # d*w rows: pin the sketch so the store's tmp dir can be reclaimed
        sketch = store.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    events = load_table(spark, sf_dir, "events")
    est = cms_estimate(sketch, events.select("user_id"), "user_id", depth=4, width=64)
    exact = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return (
        exact.join(est, "user_id")
        .select(
            "user_id",
            "est",
            "exact_cnt",
            (F.col("est") >= F.col("exact_cnt")).alias("over_ok"),
        )
        .orderBy(F.desc("est"), "user_id")
        .limit(20)
    )


# --- T16 (extension): streaming-maintained Bloom filter -----------------------------

# Completes the mergeable-sketch trio: HLL merges by MAX (t14), CMS by
# SUM (t15, epoch-guarded), Bloom by OR — and OR, like max, is
# IDEMPOTENT, so a crash-replayed micro-batch re-ORs the same bits and
# the packed words are untouched: exactly-once falls out of the merge
# algebra with no epoch bookkeeping. The oracle is the ONE-SHOT batch
# filter's packed words (same md5-portable bit hash as x_sketch_bloom;
# bit 63's shift wraps to min-long via CASE — DuckDB's signed << cannot
# produce it directly).
_T16_HASH = (
    "(('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':' || "
    "CAST(k.user_id AS VARCHAR)), 1, 8))::BIGINT % 4096)"
)

_T16_ORACLE = f"""
WITH keys AS (
  SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
),
bits AS (
  SELECT DISTINCT {_T16_HASH} AS bit
  FROM keys k, unnest(generate_series(0, 5)) AS i(i)
),
words AS (
  SELECT CAST(bit // 64 AS BIGINT) AS word_idx,
         CAST(sum(CASE WHEN bit % 64 = 63
                       THEN CAST(-9223372036854775808 AS BIGINT)
                       ELSE CAST(1 AS BIGINT) << CAST(bit % 64 AS INT)
                  END) AS BIGINT) AS word
  FROM bits GROUP BY 1
)
SELECT word_idx, word, CAST(bit_count(word) AS INT) AS n_bits
FROM words
"""


@register(
    "t16_stream_bloom",
    oracle=_T16_ORACLE,
    tags=("streaming", "sketch"),
    doc="Streaming-maintained Bloom filter (round 6): each micro-batch "
    "packs its own set bits into m/64 BIGINT words and OR-merges them "
    "into a keyed store inside foreachBatch — bounded state for an "
    "unbounded stream, and because OR is the Bloom merge AND is "
    "idempotent, the final words equal the one-shot batch filter BIT "
    "FOR BIT with replays safe by algebra (contrast t15's sum, which "
    "needs the epoch guard). Completes the HLL/CMS/Bloom mergeable-"
    "sketch trio.",
)
def t16_stream_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.sketch import (
        bloom_build,
        bloom_pack_words,
    )

    root = tempfile.mkdtemp(prefix="t16_")
    store = BucketedTransactionalStore(
        spark,
        os.path.join(root, "bloom"),
        key_cols=["word_idx"],
        order_cols=["word"],
    )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        part = bloom_pack_words(
            bloom_build(
                batch.where(F.col("user_id").isNotNull()), "user_id",
                m=4096, k=6,
            ),
            m=4096,
        )

        def fn(current: DataFrame | None) -> DataFrame:
            if current is None:
                return part
            return (
                current.unionByName(part)
                .groupBy("word_idx")
                .agg(F.expr("bit_or(word)").alias("word"))
            )

        store.apply(fn)

    try:
        run_foreach_batch(read_events_stream(spark, sf_dir), merge_batch)
        # <= m/64 rows: pin them so the store's tmp dir can be reclaimed
        words = store.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return words.select(
        "word_idx", "word", F.bit_count("word").cast("int").alias("n_bits")
    )


# --- T17 (extension): streaming-maintained quantile sketch --------------------------

# The quantile member of the streaming sketch set: DDQ buckets merge by
# SUM like the CMS (t15), so micro-batch maintenance is exact but NOT
# idempotent — each commit is epoch-guarded with its batch_id. The
# final bucket table (and therefore every quantile read-off) equals the
# one-shot batch sketch exactly; the oracle is the same as
# x_sketch_quantile's.
def _t17_oracle() -> str:
    from iheardai_data_pipeline_spark.plans.extension_queries import _DDQ_ORACLE

    return _DDQ_ORACLE


@register(
    "t17_stream_quantile",
    oracle=_t17_oracle(),
    tags=("streaming", "sketch"),
    doc="Streaming-maintained quantile sketch (round 6): each "
    "micro-batch builds its own DDQ bucket table (bounded ~256 rows) "
    "and SUM-merges it into a keyed store inside foreachBatch, "
    "epoch-guarded like t15 (sum is exact but not idempotent). The "
    "final p50/p90/p99 read-offs equal the one-shot batch sketch "
    "exactly. Completes the streaming sketch set: HLL (max), CMS "
    "(sum), Bloom (or), quantile (sum).",
)
def t17_stream_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.sketch import (
        ddq_build,
        ddq_quantiles,
    )

    root = tempfile.mkdtemp(prefix="t17_")
    store = BucketedTransactionalStore(
        spark,
        os.path.join(root, "ddq"),
        key_cols=["e", "m"],
        order_cols=["cnt"],
    )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        part = ddq_build(batch, "value")

        def fn(current: DataFrame | None) -> DataFrame:
            if current is None:
                return part
            return (
                current.unionByName(part)
                .groupBy("e", "m")
                .agg(F.sum("cnt").alias("cnt"))
            )

        store.apply(fn, epoch=int(batch_id))

    try:
        run_foreach_batch(read_events_stream(spark, sf_dir), merge_batch)
        # ~256 rows: pin them so the store's tmp dir can be reclaimed
        sketch = store.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return ddq_quantiles(sketch, qs=(0.5, 0.9, 0.99))


# --- T18 (extension): streaming semantic-dedup ingest over the persistent index -----

# The streaming twin of x_dedup_semantic_ingest (every persistent index
# gets one — t13 is the band index's): the oracle is the ONE-SHOT
# incremental gate answer rolled up per label, valid for ANY micro-batch
# split because the index stores kept AND rejected vectors and the probe
# is replay-guarded (the same split-batch == one-shot contract the batch
# entry's oracle proves pairwise).
def _t18_oracle() -> str:
    from iheardai_data_pipeline_spark.plans.extension_queries import (
        _SEM_INGEST_ORACLE,
    )

    return f"""
WITH kept AS ({_SEM_INGEST_ORACLE})
SELECT e.label, CAST(count(*) AS BIGINT) AS n_accepted
FROM kept k JOIN embeddings e USING (vec_id)
GROUP BY e.label
ORDER BY e.label
"""


@register(
    "t18_stream_semantic_neardup",
    oracle=_t18_oracle(),
    tags=("streaming", "dedup", "similarity"),
    doc="Streaming semantic-dedup ingest over the PERSISTENT cluster "
    "index (round 6): the corpus (vec_id%5==0) bootstraps a "
    "SemanticDedupIndex once; each micro-batch of incoming vectors "
    "assigns narrowly against the pinned centroids, probes only its "
    "touched clusters, and appends itself through the O(batch) "
    "add-files commit. Accepted counts per label equal the one-shot "
    "batch gate for ANY micro-batch split — the streaming twin of "
    "x_dedup_semantic_ingest, as t13 is of x_dedup_indexed_ingest.",
)
def t18_stream_semantic_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.semantic_index import (
        SemanticDedupIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    root = ram_tempdir("t18_")
    out_dir = os.path.join(root, "accepted")
    try:
        idx = SemanticDedupIndex.bootstrap(
            spark,
            os.path.join(root, "idx"),
            emb.filter(F.col("vec_id") % 5 == 0),
            n_centroids=16,
            threshold=0.4,
        )

        def ingest_batch(batch: DataFrame, batch_id: int) -> None:
            inc = batch.filter(
                F.col("embedding").isNotNull() & (F.col("vec_id") % 5 != 0)
            ).select("vec_id", "label", "embedding")
            idx.ingest(inc, epoch=int(batch_id)).select(
                "vec_id", "label"
            ).write.mode("append").parquet(out_dir)

        run_foreach_batch(
            read_table_stream(spark, sf_dir, "embeddings", emb.schema), ingest_batch
        )
        return _count_by(spark, out_dir, "label")
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- T19 (extension): streaming PCA co-moment maintenance ---------------------------

# The streaming twin of x_embed_pca_cov's build half. The one design
# constraint that makes it exact: the quantization scale is PINNED
# (plans/pca_artifact.py) — a per-batch amax would put every micro-batch
# on a different integer grid and the moments would not merge. With the
# pinned grid, each batch's (i, j, sxy, si, sj, n) cells are plain
# BIGINTs and micro-batch maintenance is an epoch-guarded SUM-merge
# (the t15/t17 pattern), so the final store equals the one-shot
# pinned-scale co-moments for ANY micro-batch split — which is the
# whole story of maintaining a PCA basis over an append-only corpus
# without ever rescanning it.
def _t19_oracle() -> str:
    from iheardai_data_pipeline_spark.operators.embedred import (
        quantize_global_sql,
    )
    from iheardai_data_pipeline_spark.plans.pca_artifact import PCA_SCALE

    qsql = quantize_global_sql("embedding::DOUBLE[]", PCA_SCALE, "duckdb")
    return f"""
WITH q AS (
  SELECT vec_id, {qsql} AS qv FROM embeddings WHERE embedding IS NOT NULL
),
qx AS (
  SELECT vec_id, CAST(t.i - 1 AS INT) AS i, qv[t.i] AS qq
  FROM q, unnest(generate_series(1, 64)) t(i)
),
mom AS (
  SELECT a.i AS i, b.i AS j,
         CAST(sum(CAST(a.qq AS BIGINT) * b.qq) AS BIGINT) AS sxy,
         CAST(count(*) AS BIGINT) AS n
  FROM qx a JOIN qx b ON a.vec_id = b.vec_id AND a.i <= b.i
  GROUP BY 1, 2
),
ds AS (SELECT i, CAST(sum(qq) AS BIGINT) AS s FROM qx GROUP BY i)
SELECT mom.i, mom.j, mom.sxy, sa.s AS si, sb.s AS sj, mom.n
FROM mom JOIN ds sa ON mom.i = sa.i JOIN ds sb ON mom.j = sb.i
"""


@register(
    "t19_stream_pca_cov",
    oracle=_t19_oracle(),
    tags=("streaming", "embedding"),
    doc="Streaming-maintained PCA co-moments: each micro-batch of "
    "embeddings quantizes on the PINNED artifact grid (per-batch "
    "scales would not merge), computes its own 2080-cell BIGINT "
    "co-moment table, and SUM-merges it into a keyed store inside "
    "foreachBatch, epoch-guarded like t15/t17. The final cells equal "
    "the one-shot pinned-scale comoment_sums for any micro-batch "
    "split — a PCA basis maintained over an append-only corpus "
    "without rescans (operators/embedred.py:comoment_sums).",
)
def t19_stream_pca_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.embedred import comoment_sums
    from iheardai_data_pipeline_spark.plans.pca_artifact import PCA_SCALE

    emb_schema = load_table(spark, sf_dir, "embeddings").schema
    root = ram_tempdir("t19_")
    store = BucketedTransactionalStore(
        spark,
        os.path.join(root, "mom"),
        key_cols=["i", "j"],
        order_cols=["sxy"],
    )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        part = comoment_sums(batch, dim=64, scale=PCA_SCALE)

        def fn(current: DataFrame | None) -> DataFrame:
            if current is None:
                return part
            return (
                current.unionByName(part)
                .groupBy("i", "j")
                .agg(
                    F.sum("sxy").alias("sxy"),
                    F.sum("si").alias("si"),
                    F.sum("sj").alias("sj"),
                    F.sum("n").alias("n"),
                )
            )

        store.apply(fn, epoch=int(batch_id))

    try:
        run_foreach_batch(
            read_table_stream(spark, sf_dir, "embeddings", emb_schema), merge_batch
        )
        # 2080 rows: pin them so the store's tmp dir can be reclaimed
        res = store.read().localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return res.select("i", "j", "sxy", "si", "sj", "n")


# --- T20 (extension): streaming ingest over the persistent fingerprint index --------

# One-shot answer of the same gated ingest: the incremental_dedup
# survivor set (min-doc_id keeper per fingerprint, corpus excluded),
# rolled up per language so the output stays small. However the stream
# splits the incoming docs into micro-batches, the FingerprintIndex's
# gate must accept EXACTLY this set — earlier batches' survivors join
# the stored relation and block later batches' duplicates, the same
# chain-correctness t9/t13/t18 pin for their dedup families.
_T20_ORACLE = """
WITH corpus AS (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    AS fingerprint
  FROM documents WHERE doc_id % 3 <> 0 AND text IS NOT NULL
),
incoming AS (
  SELECT doc_id, lang,
    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
  FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
),
fresh AS (
  SELECT i.* FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fingerprint = i.fingerprint)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_accepted
FROM fresh GROUP BY lang
"""


@register(
    "t20_stream_indexed_exact",
    oracle=_T20_ORACLE,
    tags=("streaming", "dedup", "sketch"),
    doc="Streaming ingest over the PERSISTENT exact-dedup fingerprint "
    "index (round 9 — the fingerprint family's t13/t18 twin): the "
    "corpus (doc_id%3<>0) bootstraps a FingerprintIndex once; each "
    "micro-batch of incoming docs pre-filters row-locally against the "
    "driver-cached packed Bloom words, anti-joins only its suspects "
    "against the stored fingerprints, and commits its survivors "
    "EPOCH-GUARDED (a replayed batch cannot double-append bits or "
    "fingerprints). Per-batch cost is batch-bounded — the corpus is "
    "never rescanned. Oracle = the one-shot incremental answer rolled "
    "up per language.",
)
def t20_stream_indexed_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.fingerprint_index import (
        FingerprintIndex,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    root = ram_tempdir("t20_")
    out_dir = os.path.join(root, "accepted")
    try:
        idx = FingerprintIndex(
            spark, os.path.join(root, "idx"), expected_docs=docs.count()
        )
        idx.append(
            docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text"),
            epoch="t20-bootstrap",
        )

        def ingest_batch(batch: DataFrame, batch_id: int) -> None:
            inc = batch.filter(
                (F.col("doc_id") % 3 == 0) & F.col("text").isNotNull()
            ).select("doc_id", "lang", "text")
            # per-batch OVERWRITE dir, not a flat append: a checkpoint-
            # recovered replay of this batch re-runs with the SAME batch_id
            # (and ingest's replay guard returns the first run's exact
            # survivors), so the rewrite is a byte-identical no-op instead
            # of a double-append — exactly-once through a real restart
            # (pinned by test_stream_restart.py, round 10)
            idx.ingest(inc, epoch=f"t20-{batch_id}").select(
                "doc_id", "lang"
            ).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"b={batch_id}")
            )

        run_foreach_batch(
            read_table_stream(spark, sf_dir, "documents", docs.schema), ingest_batch
        )
        return _count_by(spark, out_dir, "lang")
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- T21 (extension): streaming ingest into the persistent ANN index ---------------

# VALUE oracle (round 10 — the x_sim_index_topk replay, applied to a
# STREAM-BUILT index): with the pinned SF-independent serve artifacts
# the serve is deterministic and assignment/PQ-encoding depend only on
# the artifacts, never on batch boundaries — so an index built by a
# sequence of epoch-guarded streaming appends must serve rows that
# hash-match the independent DuckDB replay of the full-corpus serve.
# A replayed/double-committed micro-batch duplicates served rows, a
# lost batch drops candidates — both fail the row hash. Strictly
# stronger than the r9 in-engine one-shot-equality flag (which could
# not catch a bug breaking streamed and one-shot builds identically).
def _t21_oracle() -> str:
    from iheardai_data_pipeline_spark.plans.extension_queries import (
        _index_serve_oracle,
    )

    return _index_serve_oracle()


_T21_ORACLE = _t21_oracle()


@register(
    "t21_stream_ann_ingest",
    oracle=_T21_ORACLE,
    tags=("streaming", "similarity", "approximate"),
    doc="Streaming ingest into the PERSISTENT ANN index (round 9 — the "
    "fourth and last persistent index gains its streaming twin, beside "
    "t13/t18/t20): the corpus (vec_id%2==0) bootstraps a "
    "PersistentAnnIndex with pinned artifacts; each micro-batch of new "
    "vectors (vec_id%2==1) appends EPOCH-GUARDED — normalize, assign "
    "to the pinned lists, PQ-encode, one atomic O(batch) commit. The "
    "stream-built index's served (vec_id, l2_dist) top-10 must then "
    "hash-match the independent DuckDB replay of the full-corpus serve "
    "(round 10; same artifacts => same assignment and codes regardless "
    "of batch boundaries — and transitively row-identical to a "
    "one-shot build, since x_sim_index_topk pins one-shot == replay).",
)
def t21_stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )
    from iheardai_data_pipeline_spark.plans.extension_queries import (
        _SERVE_BOOKS,
        _SERVE_CENTROIDS,
        _probe_vector,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    qid, qvec = _probe_vector(emb)
    shortlist = max(100, n // 5)
    root = ram_tempdir("t21_")
    try:
        idx = PersistentAnnIndex.bootstrap(
            spark,
            os.path.join(root, "stream_idx"),
            emb.filter(F.col("vec_id") % 2 == 0),
            centroids=_SERVE_CENTROIDS,
            books=_SERVE_BOOKS,
        )

        def ingest_batch(batch: DataFrame, batch_id: int) -> None:
            inc = batch.filter(
                (F.col("vec_id") % 2 == 1) & F.col("embedding").isNotNull()
            ).select("vec_id", "embedding")
            idx.append(inc, epoch=f"t21-{batch_id}", seq=1)

        run_foreach_batch(
            read_table_stream(spark, sf_dir, "embeddings", emb.schema), ingest_batch
        )
        return idx.topk(
            qvec, k=10, nprobe=4, shortlist=shortlist, exclude_id=qid
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- T22 (extension): streaming ingest into the persistent postings index ----------


def _t22_oracle() -> str:
    from iheardai_data_pipeline_spark.plans.extension_queries import (
        _BM25_ORACLE,
    )

    return _BM25_ORACLE


_T22_ORACLE = _t22_oracle()


@register(
    "t22_stream_bm25_ingest",
    oracle=_T22_ORACLE,
    tags=("streaming", "text", "retrieval"),
    doc="Streaming ingest into the PERSISTENT inverted index (the "
    "PostingsIndex joins the t13/t18/t20/t21 twin family): every "
    "micro-batch of documents appends EPOCH-GUARDED — one (doc, term) "
    "tf shuffle, its doclen rollup, one additive stats delta, one "
    "atomic O(batch) commit; nothing rescans the corpus. The "
    "stream-built index's BM25 serve over the fixed query workload "
    "must then hash-match the brute one-shot DuckDB replay "
    "(x_text_bm25_topk's oracle): postings/doclens/stats are additive "
    "across disjoint batches, so batch boundaries must be invisible — "
    "a double-committed batch inflates tf/df/stats, a lost one "
    "deflates them, either fails the hash.",
)
def t22_stream_bm25_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )
    from iheardai_data_pipeline_spark.plans.extension_queries import (
        _BM25_B,
        _BM25_K1,
        _bm25_query_frame,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = ram_tempdir("t22_")
    try:
        idx = PostingsIndex(
            spark, os.path.join(root, "idx"), k1=_BM25_K1, b=_BM25_B
        )

        def ingest_batch(batch: DataFrame, batch_id: int) -> None:
            idx.append(
                batch.where(F.col("text").isNotNull()).select("doc_id", "text"),
                seq=0,
                epoch=f"t22-{batch_id}",
            )

        run_foreach_batch(
            read_table_stream(spark, sf_dir, "documents", docs.schema), ingest_batch
        )
        return idx.topk(_bm25_query_frame(spark), k=5).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- T23 (extension): streaming ingest into the FIELDED (BM25F) postings index ----


def _t23_oracle() -> str:
    from iheardai_data_pipeline_spark.plans.extension_queries import (
        _bm25f_oracle_sql,
    )

    return _bm25f_oracle_sql(
        "SELECT doc_id, text FROM documents WHERE text IS NOT NULL"
    )


_T23_ORACLE = _t23_oracle()


@register(
    "t23_stream_bm25f_ingest",
    oracle=_T23_ORACLE,
    tags=("streaming", "text", "retrieval"),
    doc="Streaming ingest into the FIELDED (BM25F) postings index "
    "(round 14 — t22's multi-field twin): every micro-batch derives "
    "the document fields (title = leading tokens, body = full text) "
    "and appends EPOCH-GUARDED into a field_weights index — the exact "
    "BIGINT milli tf fold rides the UNCHANGED five-relation append "
    "(one weighted-token shuffle, doclen rollup, additive "
    "stats/termstats deltas, O(batch) commit); nothing rescans the "
    "corpus, and the fresh-id batches take the round-14 append diet "
    "(no forward-diff probe). The stream-built index's BM25F serve "
    "must hash-match the brute one-shot BM25F replay: the milli sums "
    "are additive across disjoint batches, so batch boundaries must "
    "be invisible to fielded ranking exactly as t22 proves for the "
    "unfielded index.",
)
def t23_stream_bm25f_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )
    from iheardai_data_pipeline_spark.plans.extension_queries import (
        _BM25_B,
        _BM25_K1,
        _BM25F_WEIGHTS,
        _bm25_query_frame,
        _bm25f_doc_fields,
    )

    docs = load_table(spark, sf_dir, "documents")
    root = ram_tempdir("t23_")
    try:
        idx = PostingsIndex(
            spark,
            os.path.join(root, "idx"),
            k1=_BM25_K1,
            b=_BM25_B,
            field_weights=_BM25F_WEIGHTS,
        )

        def ingest_batch(batch: DataFrame, batch_id: int) -> None:
            idx.append(
                _bm25f_doc_fields(
                    batch.where(F.col("text").isNotNull()).select(
                        "doc_id", "text"
                    )
                ),
                seq=0,
                epoch=f"t23-{batch_id}",
            )

        run_foreach_batch(
            read_table_stream(spark, sf_dir, "documents", docs.schema), ingest_batch
        )
        return idx.topk(_bm25_query_frame(spark), k=5).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)

"""Checkpoint-RESTART recovery for the streaming index twins (round 10,
VERDICT r9 #5): t20/t21 prove chain-correctness across batch SPLITS,
but only a real kill-and-restart through a Structured Streaming
checkpoint proves the epoch guard makes a REPLAYED batch a no-op in
recovery — the crash window Structured Streaming actually creates is
"sink side effects committed, source offset not yet marked complete",
and on restart the batch re-runs with the SAME batch_id.

The test replicates t20_stream_indexed_exact's exact anatomy
(plans/streaming_queries.py:t20) over a 3-file source with
maxFilesPerTrigger=1, injects a crash AFTER batch 1's side effects
(store commit + per-batch parquet dir both already written), restarts
the query from the same checkpoint with a REOPENED index, and asserts
the final accepted set equals the one-shot incremental answer — i.e.
the replayed epoch no-ops in the store and the per-batch overwrite
rewrites identical bytes instead of double-appending."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryException

from iheardai_data_pipeline_spark.operators.dedup import incremental_dedup
from iheardai_data_pipeline_spark.operators.fingerprint_index import (
    FingerprintIndex,
)
from iheardai_data_pipeline_spark.operators.text import fingerprint_md5

# 3 incoming parts with duplicates INSIDE a part, ACROSS parts, and
# AGAINST the corpus — every dedup edge a replay could double-count
CORPUS = [(100 + i, "en", f"corpus text {i}") for i in range(8)]
PARTS = [
    [
        (0, "en", "fresh zero"),
        (1, "en", "fresh zero"),  # in-part dup of 0
        (2, "de", "corpus text 3"),  # dup of corpus
        (3, "de", "fresh three"),
    ],
    [
        (10, "en", "fresh zero"),  # dup of part-0 survivor
        (11, "fr", "fresh eleven"),
        (12, "fr", "corpus text 5"),  # dup of corpus
    ],
    [
        (20, "en", "fresh eleven"),  # dup of part-1 survivor
        (21, "de", "fresh twenty-one"),
        (22, "en", "fresh three"),  # dup of part-0 survivor
    ],
]
DOC_SCHEMA = "doc_id long, lang string, text string"


def _expected(spark):
    corpus = (
        spark.createDataFrame(CORPUS, DOC_SCHEMA)
        .select(fingerprint_md5(F.col("text")).alias("fingerprint"))
        .distinct()
    )
    incoming = spark.createDataFrame(
        [r for part in PARTS for r in part], DOC_SCHEMA
    )
    return {
        (r["doc_id"], r["lang"])
        for r in incremental_dedup(incoming, corpus).collect()
    }


def _run_stream(spark, src_dir, ckpt, idx_path, out_dir, crash_flag):
    """One query attempt over the file source; ingest_batch crashes
    AFTER batch 1's side effects iff ``crash_flag`` does not exist yet.
    Reopens the index from disk (a restarted driver would)."""
    idx = FingerprintIndex(spark, idx_path, expected_docs=64)

    def ingest_batch(batch, batch_id):
        idx.ingest(
            batch.select("doc_id", "lang", "text"),
            epoch=f"restart-{batch_id}",
        ).select("doc_id", "lang").write.mode("overwrite").parquet(
            os.path.join(out_dir, f"b={batch_id}")
        )
        if batch_id == 1 and not os.path.exists(crash_flag):
            with open(crash_flag, "w") as fh:
                fh.write("crashed once")
            raise RuntimeError(
                "injected crash AFTER batch 1 side effects — the offset "
                "commit must not happen, so restart replays batch 1"
            )

    q = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        # each part is its own Spark-written directory — recurse to its
        # data file so AvailableNow + maxFilesPerTrigger=1 yields one
        # batch per part
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src_dir)
        .writeStream.foreachBatch(ingest_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()


def test_t20_checkpoint_restart_replays_batch_as_noop(spark, tmp_path):
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    idx_path = str(tmp_path / "idx")
    crash_flag = str(tmp_path / "crashed-once")
    os.makedirs(src_dir)
    for i, part in enumerate(PARTS):
        spark.createDataFrame(part, DOC_SCHEMA).coalesce(1).write.parquet(
            os.path.join(src_dir, f"part{i}")
        )

    # corpus bootstrap (t20's shape), then attempt 1: must DIE on the
    # injected crash with batch 1's store commit + parquet dir durable
    FingerprintIndex(spark, idx_path, expected_docs=64).append(
        spark.createDataFrame(CORPUS, DOC_SCHEMA).select("doc_id", "text"),
        epoch="restart-bootstrap",
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        _run_stream(spark, src_dir, ckpt, idx_path, out_dir, crash_flag)
    assert os.path.exists(crash_flag)
    done_batches = {
        int(d.split("=")[1])
        for d in os.listdir(out_dir)
        if d.startswith("b=")
    }
    assert 1 in done_batches  # the crash window is AFTER the side effects
    assert done_batches <= {0, 1}  # ...and batch 2 never ran

    # attempt 2: same checkpoint, fresh index instance — Structured
    # Streaming must REPLAY batch 1 (same batch_id => same epoch, store
    # no-op; same survivors => byte-identical parquet rewrite) and then
    # process batch 2
    _run_stream(spark, src_dir, ckpt, idx_path, out_dir, crash_flag)

    got = {
        (r["doc_id"], r["lang"])
        for r in spark.read.parquet(out_dir)
        .select("doc_id", "lang")
        .collect()
    }
    assert got == _expected(spark)

    # the replayed epoch really no-opped in the store: exactly one
    # physical fingerprint row per accepted doc + corpus content
    fps = FingerprintIndex(spark, idx_path, expected_docs=64)._store.read(
        "fingerprints"
    )
    dup_fps = (
        fps.groupBy("fingerprint")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup_fps == 0

    # a third run over the same checkpoint is a pure no-op: every
    # offset is committed, no new batch dirs appear
    before = set(os.listdir(out_dir))
    _run_stream(spark, src_dir, ckpt, idx_path, out_dir, crash_flag)
    assert set(os.listdir(out_dir)) == before


def test_t21_ann_checkpoint_restart_replays_append_as_noop(spark, tmp_path):
    """t20's restart proof, for the ANN twin (t21's shape): the index
    append is the ONLY side effect, so the property under test is that
    a checkpoint-recovered replay of an epoch-guarded append leaves
    the store with exactly one physical row per vector — and the
    stream-built index serves row-identically to a one-shot build."""
    import math

    from pyspark.sql.streaming import StreamingQueryException

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )
    from iheardai_data_pipeline_spark.plans.extension_queries import (
        _SERVE_BOOKS,
        _SERVE_CENTROIDS,
    )

    def vec(i):
        # deterministic non-degenerate 64-dim vectors
        return [
            float(math.sin(0.1 * i + 0.37 * d) + 0.01 * (d % 5))
            for d in range(64)
        ]

    schema = "vec_id long, embedding array<float>"
    corpus = [(i, vec(i)) for i in range(0, 40, 2)]
    parts = [
        [(i, vec(i)) for i in range(1, 13, 2)],
        [(i, vec(i)) for i in range(13, 27, 2)],
        [(i, vec(i)) for i in range(27, 40, 2)],
    ]
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    for i, part in enumerate(parts):
        spark.createDataFrame(part, schema).coalesce(1).write.parquet(
            os.path.join(src_dir, f"part{i}")
        )
    idx_path = str(tmp_path / "annidx")
    ckpt = str(tmp_path / "ckpt")
    crash_flag = str(tmp_path / "crashed-once")
    corpus_df = spark.createDataFrame(corpus, schema)
    PersistentAnnIndex.bootstrap(
        spark, idx_path, corpus_df,
        centroids=_SERVE_CENTROIDS, books=_SERVE_BOOKS,
    )

    def run_attempt():
        idx = PersistentAnnIndex(spark, idx_path)  # reopen, as a
        # restarted driver would

        def ingest(batch, batch_id):
            idx.append(batch, epoch=f"t21r-{batch_id}", seq=1)
            if batch_id == 1 and not os.path.exists(crash_flag):
                with open(crash_flag, "w") as fh:
                    fh.write("crashed once")
                raise RuntimeError("injected crash after append commit")

        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src_dir)
            .writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
            .awaitTermination()
        )

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run_attempt()
    run_attempt()  # recovery: batch 1 REPLAYS (same epoch -> no-op)

    idx = PersistentAnnIndex(spark, idx_path)
    # exactly one physical row per vector — the replayed append did
    # not double-commit (40 = 20 corpus + 19 streamed... all 40 ids)
    n_all = len(corpus) + sum(len(p) for p in parts)
    assert idx._store.read("codes").count() == n_all
    assert (
        idx._store.read("codes").select("vec_id").distinct().count() == n_all
    )
    # and the stream-built index serves one-shot-identically
    one_shot = PersistentAnnIndex.bootstrap(
        spark,
        str(tmp_path / "oneshot"),
        corpus_df.unionByName(
            spark.createDataFrame([r for p in parts for r in p], schema)
        ),
        centroids=_SERVE_CENTROIDS,
        books=_SERVE_BOOKS,
    )
    got = idx.topk(vec(0), k=5, nprobe=4, shortlist=20, exclude_id=0)
    want = one_shot.topk(vec(0), k=5, nprobe=4, shortlist=20, exclude_id=0)
    assert got.exceptAll(want).count() + want.exceptAll(got).count() == 0


def test_t13_neardup_checkpoint_restart_replays_as_noop(spark, tmp_path):
    """t20's restart proof for the BAND index (t13's shape): crash
    after a batch's side effects (band append committed + per-batch
    parquet written), restart from the same checkpoint with a
    reopened index — the replayed epoch must no-op in the store (no
    duplicate band rows) and the final accepted set must equal the
    one-shot incremental answer."""
    from iheardai_data_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
    )
    from iheardai_data_pipeline_spark.operators.neardup_index import (
        MinHashBandIndex,
    )

    base = " ".join(f"w{i}" for i in range(30))
    uniq = " ".join(f"u{i}" for i in range(30))
    other = " ".join(f"v{i}" for i in range(30))
    third = " ".join(f"t{i}" for i in range(30))
    corpus_rows = [(100, base), (101, other)]
    parts = [
        [(1, base + " extra"), (2, uniq), (3, uniq + " tail")],
        [(10, other + " more"), (11, third), (12, uniq + " tail2")],
        [(20, third + " x"), (21, " ".join(f"z{i}" for i in range(30)))],
    ]
    schema = "doc_id long, text string"
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    idx_path = str(tmp_path / "idx")
    crash_flag = str(tmp_path / "crashed-once")
    os.makedirs(src_dir)
    for i, part in enumerate(parts):
        spark.createDataFrame(part, schema).coalesce(1).write.parquet(
            os.path.join(src_dir, f"part{i}")
        )
    MinHashBandIndex(spark, idx_path, threshold=0.7).append(
        spark.createDataFrame(corpus_rows, schema)
    )

    def run_attempt():
        idx = MinHashBandIndex(spark, idx_path, threshold=0.7)  # reopen

        def ingest(batch, batch_id):
            idx.ingest(batch, epoch=f"t13r-{batch_id}").select(
                "doc_id"
            ).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"b={batch_id}")
            )
            if batch_id == 1 and not os.path.exists(crash_flag):
                with open(crash_flag, "w") as fh:
                    fh.write("crashed once")
                raise RuntimeError("injected crash after band append")

        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src_dir)
            .writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
            .awaitTermination()
        )

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run_attempt()
    run_attempt()  # recovery: batch 1 replays (same epoch -> no-op)

    got = {
        r["doc_id"] for r in spark.read.parquet(out_dir).collect()
    }
    incoming = spark.createDataFrame(
        [r for p in parts for r in p], schema
    )
    corpus = spark.createDataFrame(corpus_rows, schema)
    want = {
        r["doc_id"]
        for r in incremental_minhash_dedup(
            incoming, corpus, threshold=0.7
        ).collect()
    }
    assert got == want
    # replayed epoch really no-opped: no duplicate (doc, band) rows
    bands = MinHashBandIndex(spark, idx_path, threshold=0.7)._store.read(
        "bands"
    )
    assert (
        bands.groupBy("doc_id", "bkey")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )


def test_t18_semantic_checkpoint_restart_replays_as_noop(spark, tmp_path):
    """t20's restart proof for the SEMANTIC index (t18's shape):
    scaled directional copies guarantee dup pairs share a cluster, so
    the gate decisions are deterministic; after a crash-and-restart
    the accepted set must equal a one-shot ingest on a fresh index
    and the store must hold exactly one row per vector ever seen
    (kept AND rejected are appended — the t18 contract)."""
    from iheardai_data_pipeline_spark.operators.semantic_index import (
        SemanticDedupIndex,
    )

    def unit(d, scale=1.0):
        v = [0.0] * 8
        v[d] = scale
        return v

    schema = "vec_id long, embedding array<float>"
    corpus_rows = [(100 + d, unit(d)) for d in range(4)]
    parts = [
        [(1, unit(0, 0.9)), (2, unit(4))],
        [(10, unit(4, 0.8)), (11, unit(5)), (12, unit(0, 1.1))],
        [(20, unit(5, 0.7)), (21, unit(6))],
    ]
    src_dir = str(tmp_path / "src")
    out_dir = str(tmp_path / "accepted")
    ckpt = str(tmp_path / "ckpt")
    idx_path = str(tmp_path / "idx")
    crash_flag = str(tmp_path / "crashed-once")
    os.makedirs(src_dir)
    for i, part in enumerate(parts):
        spark.createDataFrame(part, schema).coalesce(1).write.parquet(
            os.path.join(src_dir, f"part{i}")
        )
    corpus = spark.createDataFrame(corpus_rows, schema)
    SemanticDedupIndex.bootstrap(
        spark, idx_path, corpus, n_centroids=4, threshold=0.4
    )

    def run_attempt():
        idx = SemanticDedupIndex(spark, idx_path, threshold=0.4)  # reopen

        def ingest(batch, batch_id):
            idx.ingest(batch, epoch=f"t18r-{batch_id}").select(
                "vec_id"
            ).write.mode("overwrite").parquet(
                os.path.join(out_dir, f"b={batch_id}")
            )
            if batch_id == 1 and not os.path.exists(crash_flag):
                with open(crash_flag, "w") as fh:
                    fh.write("crashed once")
                raise RuntimeError("injected crash after vector append")

        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src_dir)
            .writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
            .awaitTermination()
        )

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run_attempt()
    run_attempt()  # recovery: batch 1 replays (same epoch -> no-op)

    got = {r["vec_id"] for r in spark.read.parquet(out_dir).collect()}
    one_shot = SemanticDedupIndex.bootstrap(
        spark, str(tmp_path / "oneshot"), corpus,
        n_centroids=4, threshold=0.4,
    )
    incoming = spark.createDataFrame(
        [r for p in parts for r in p], schema
    )
    want = {r["vec_id"] for r in one_shot.ingest(incoming).collect()}
    assert got == want
    # one physical row per vector ever seen (4 corpus + 7 incoming)
    vecs = SemanticDedupIndex(spark, idx_path, threshold=0.4)._store.read(
        "vectors"
    )
    assert vecs.count() == 11
    assert vecs.select("vec_id").distinct().count() == 11


def test_t22_postings_checkpoint_restart_replays_as_noop(spark, tmp_path):
    """t20's restart proof for the POSTINGS index (t22's shape): crash
    after a batch's side effects (postings/doclens/stats committed),
    restart from the same checkpoint with a reopened index — the
    replayed epoch must no-op (tf/df/stats are additive, so a double
    commit would inflate scores) and the final BM25 serve must equal
    the brute one-shot answer over all parts."""
    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )
    from iheardai_data_pipeline_spark.operators.text import bm25_topk

    parts = [
        [(1, "the quick brown fox"), (2, "lazy dog dog")],
        [(10, "quick quick dog"), (11, "spark shuffles forever")],
        [(20, "the lazy fox sleeps"), (21, "dog spark dog")],
    ]
    schema = "doc_id long, text string"
    queries = spark.createDataFrame(
        [(0, "quick dog"), (1, "spark fox")], "query_id long, qtext string"
    )
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    idx_path = str(tmp_path / "idx")
    crash_flag = str(tmp_path / "crashed-once")
    os.makedirs(src_dir)
    for i, part in enumerate(parts):
        spark.createDataFrame(part, schema).coalesce(1).write.parquet(
            os.path.join(src_dir, f"part{i}")
        )

    def run_attempt():
        idx = PostingsIndex(spark, idx_path)  # reopen

        def ingest(batch, batch_id):
            idx.append(batch, seq=0, epoch=f"t22r-{batch_id}")
            if batch_id == 1 and not os.path.exists(crash_flag):
                with open(crash_flag, "w") as fh:
                    fh.write("crashed once")
                raise RuntimeError("injected crash after postings append")

        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src_dir)
            .writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
            .awaitTermination()
        )

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run_attempt()
    run_attempt()  # recovery: batch 1 replays (same epoch -> no-op)

    idx = PostingsIndex(spark, idx_path)
    all_rows = [r for p in parts for r in p]
    got = sorted(tuple(r) for r in idx.topk(queries, k=3).collect())
    want = sorted(
        tuple(r)
        for r in bm25_topk(
            spark.createDataFrame(all_rows, schema), queries, k=3
        ).collect()
    )
    assert got == want
    # the replayed epoch really no-opped: stats exact, no duplicate
    # (term, doc) posting rows
    n, total = idx.stats()
    assert n == len(all_rows)
    assert total == sum(len(t.split()) for _, t in all_rows)
    pl = idx._store.read("postings")
    assert (
        pl.groupBy("term", "doc_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )


def test_ingest_pair_checkpoint_restart_replays_as_noop(spark, tmp_path):
    """The ingest pair — a warehouse loader and the KPI sink, both
    fed by one file stream — through a kill-and-restart: a crash after
    batch 1's side effects (both stores committed, offset not yet
    marked complete) replays batch 1 with the same epoch, which commits
    nothing, and both stores end equal to the one-shot answers. The
    local session checkpoints through the FileSystem-based manager."""
    from iheardai_data_pipeline_spark.session import LOCAL_CHECKPOINT_FILE_MANAGER
    from iheardai_data_pipeline_spark.streaming.sinks import (
        session_kpis_foreach_batch,
    )
    from iheardai_data_pipeline_spark.streaming.stores import (
        BucketedTransactionalStore,
    )
    from iheardai_data_pipeline_spark.streaming.warehouse import (
        WarehouseBatchLoader,
    )

    schema = "event_id long, user_id string, t long, value double"
    parts = [
        [(1, "u0", 100, 1.25), (2, "u1", 110, 0.5), (3, "u0", 120, 2.0)],
        [(4, "u2", 200, 3.0), (1, "u0", 210, 1.5)],  # event 1 re-delivered
        [(5, "u1", 300, 0.75), (3, "u0", 90, 4.0), (6, "u2", 320, 1.0)],
    ]
    src_dir = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    wh_path = str(tmp_path / "warehouse")
    kpi_path = str(tmp_path / "kpis")
    crash_flag = str(tmp_path / "crashed-once")
    for i, part in enumerate(parts):
        spark.createDataFrame(part, schema).coalesce(1).write.parquet(
            os.path.join(src_dir, f"part{i}")
        )

    def run_attempt():
        # reopened, as a restarted driver would
        load = WarehouseBatchLoader(
            spark, wh_path, ["event_id"], ["ts"], fmt="parquet_bucketed"
        ).foreach_batch()
        kpis = session_kpis_foreach_batch(
            BucketedTransactionalStore(spark, kpi_path, ["user_id"], ["ended_at_s"])
        )

        def ingest(batch, batch_id):
            batch = batch.withColumn("ts", F.timestamp_seconds("t"))
            load(batch, batch_id)
            kpis(batch, batch_id)
            if batch_id == 1 and not os.path.exists(crash_flag):
                with open(crash_flag, "w") as fh:
                    fh.write("crashed once")
                raise RuntimeError("injected crash after both store commits")

        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src_dir)
            .writeStream.foreachBatch(ingest)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
            .awaitTermination()
        )

    with pytest.raises(StreamingQueryException, match="injected crash"):
        run_attempt()
    wh = BucketedTransactionalStore(spark, wh_path, ["event_id"], ["ts"])
    kpi = BucketedTransactionalStore(spark, kpi_path, ["user_id"], ["ended_at_s"])
    assert wh.current_version() == 2 and kpi.current_version() == 2
    run_attempt()  # recovery: batch 1 replays (same epoch, no commit), then batch 2
    # one commit per batch in each store: the replay committed nothing
    assert wh.current_version() == 3 and kpi.current_version() == 3
    # a later batch's row replaces the stored one whatever its ts (the
    # store's update priority); no part repeats an event
    delivered = [r for part in parts for r in part]
    latest = {event_id: (user, t, value) for event_id, user, t, value in delivered}
    got_wh = {
        r["event_id"]: (r["user_id"], r["t"], r["value"]) for r in wh.read().collect()
    }
    assert got_wh == latest
    want_kpis = {}
    for _event_id, user, t, value in delivered:
        n, total, lo, hi = want_kpis.get(user, (0, 0.0, t, t))
        want_kpis[user] = (n + 1, total + value, min(lo, t), max(hi, t))
    got_kpis = {
        r["user_id"]: (
            r["n_events"],
            float(r["sum_value_dec"]),
            r["started_at_s"],
            r["ended_at_s"],
        )
        for r in kpi.read().collect()
    }
    assert got_kpis == want_kpis
    # the checkpoint's metadata logs went through the FileSystem-based
    # manager, which renames without spawning a process
    jvm = spark._jvm
    managers = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = managers.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(ckpt),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getName() == LOCAL_CHECKPOINT_FILE_MANAGER

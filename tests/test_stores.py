"""The OCC stores: commit protocol, snapshot isolation, merge-on-read,
retry-on-conflict, vacuum, layout versioning. The foreachBatch contract
itself is covered in test_streaming.py, data-sized and at 4 pinned buckets."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.streaming.stores import BucketedTransactionalStore

SCHEMA = "k string, seq int, v string"


def _store(spark, tmp_path, name="s"):
    return BucketedTransactionalStore(spark, str(tmp_path / name), ["k"], ["seq"])


def _add_seq(spark):
    """A fold for ``apply`` that is not idempotent: it adds 1 to key
    ``a``'s seq (storing ``("a", 1, "x")`` first), as the t15/t17
    sketches sum their cells."""
    upd = spark.createDataFrame([("a", 1, "x")], SCHEMA)

    def fn(current):
        if current is None:
            return upd
        return (
            current.unionByName(upd)
            .groupBy("k", "v")
            .agg(F.sum("seq").alias("seq"))
            .select("k", "seq", "v")
        )

    return fn


def test_merge_last_writer_wins_and_versions(spark, tmp_path):
    st = _store(spark, tmp_path)
    assert st.read() is None and st.current_version() == 0
    st.merge(spark.createDataFrame([("a", 1, "a1"), ("b", 1, "b1")], SCHEMA))
    st.merge(spark.createDataFrame([("a", 2, "a2"), ("c", 1, "c1")], SCHEMA))
    got = {r["k"]: (r["seq"], r["v"]) for r in st.read().collect()}
    assert got == {"a": (2, "a2"), "b": (1, "b1"), "c": (1, "c1")}
    assert st.current_version() == 2
    # merge() is UPDATE-PRIORITY (M3 semantics, same as merge_upsert):
    # the updates batch beats the target even on a lower seq. Seq-GUARDED
    # state maintenance instead folds with last_write_wins in
    # apply_keyed (session_state_foreach_batch).
    st.merge(spark.createDataFrame([("a", 1, "LATEST-BATCH")], SCHEMA))
    assert {r["k"]: r["v"] for r in st.read().collect()}["a"] == "LATEST-BATCH"


def test_first_commit_dedups_within_batch(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.merge(spark.createDataFrame([("a", 1, "old"), ("a", 5, "new")], SCHEMA))
    rows = st.read().collect()
    assert len(rows) == 1 and rows[0]["v"] == "new"


def test_commit_claim_is_exclusive(spark, tmp_path):
    log = _store(spark, tmp_path)._store  # the commit log under the view
    one = {"rows": 1}  # the relation's bucket count, recorded per commit
    assert log._try_commit(1, {"rows": {"0": ["snap-a"]}}, one)
    # version already owned
    assert not log._try_commit(1, {"rows": {"0": ["snap-b"]}}, one)
    assert log._try_commit(2, {"rows": {"0": ["snap-c"]}}, one)


def test_lost_race_retries_against_new_base(spark, tmp_path):
    """A writer that loses the commit race must re-merge on the winner's
    data, not overwrite it (the reference's transactional guarantee)."""
    path = str(tmp_path / "s")
    a = BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    b = BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    a.merge(spark.createDataFrame([("a", 1, "base")], SCHEMA))

    # interleave: while A is mid-merge (after reading its base, before
    # committing), B commits — A's first claim must fail and retry
    real_stage = a._store._stage
    fired = []

    def stage_with_interleaved_writer(frames, n_groups):
        staged = real_stage(frames, n_groups)  # A's snapshot of the OLD base is staged
        if not fired:
            fired.append(True)
            b.merge(spark.createDataFrame([("b", 1, "from-b")], SCHEMA))
        return staged

    a._store._stage = stage_with_interleaved_writer
    a.merge(spark.createDataFrame([("a", 2, "from-a")], SCHEMA))
    got = {r["k"]: r["v"] for r in a.read().collect()}
    assert got == {"a": "from-a", "b": "from-b"}  # neither write lost
    assert a.current_version() == 3  # base + B's commit + A's retry


def test_concurrent_writers_no_lost_update(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.merge(spark.createDataFrame([("seed", 0, "x")], SCHEMA))
    errs = []

    def write(key):
        try:
            other = BucketedTransactionalStore(
                spark, st.path, ["k"], ["seq"]
            )
            other.merge(spark.createDataFrame([(key, 1, key)], SCHEMA))
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=write, args=(f"k{i}",)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    keys = {r["k"] for r in st.read().collect()}
    assert keys == {"seed", "k0", "k1", "k2", "k3"}  # no lost updates


def test_time_travel_and_vacuum(spark, tmp_path):
    st = _store(spark, tmp_path)
    st.merge(spark.createDataFrame([("a", 1, "v1")], SCHEMA))
    st.merge(spark.createDataFrame([("a", 2, "v2")], SCHEMA))
    assert st.read_version(1).collect()[0]["v"] == "v1"  # snapshot isolation
    assert st.read_version(2).collect()[0]["v"] == "v2"
    st.vacuum(keep=1)
    assert st.read_version(1) is None  # vacuumed
    assert st.read().collect()[0]["v"] == "v2"  # latest intact
    # keep=0 would unlink every commit marker (silent drop-table) — refused
    with pytest.raises(ValueError, match="keep"):
        st.vacuum(keep=0)
    assert st.read().collect()[0]["v"] == "v2"  # store untouched by refusal


def test_apply_rereads_and_remerges_on_lost_race(spark, tmp_path):
    """A read-modify-write that loses the commit race must fold the
    winner's commit into its retry — the lost-update scenario a bare
    read-then-write sequence would hit."""
    from iheardai_data_pipeline_spark.operators.mutations import merge_upsert

    path = str(tmp_path / "s")
    a = BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    b = BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    a.merge(spark.createDataFrame([("seed", 1, "v0")], SCHEMA))

    fired = {"done": False}

    def fn(current):
        if not fired["done"]:
            fired["done"] = True
            # concurrent writer commits BETWEEN a's read and a's commit
            b.merge(spark.createDataFrame([("bkey", 1, "bv")], SCHEMA))
        updates = spark.createDataFrame([("akey", 1, "av")], SCHEMA)
        if current is None:
            return updates
        return merge_upsert(current, updates, ["k"], ["seq"])

    a.apply(fn)
    keys = {r["k"] for r in a.read().collect()}
    assert keys == {"seed", "bkey", "akey"}  # b's commit survived a's retry


def test_vacuum_grace_spares_inflight_staging(spark, tmp_path):
    """vacuum must not delete a young unreferenced staging dir — a
    concurrent writer stages BEFORE it claims a version."""
    import os

    st = _store(spark, tmp_path)
    st.merge(spark.createDataFrame([("a", 1, "v1")], SCHEMA))
    # simulate another writer's staged-but-not-yet-committed snapshot
    inflight, _ = st._store._stage(
        {"rows": spark.createDataFrame([("b", 1, "bv")], SCHEMA)}, {"rows": 1}
    )
    st.vacuum(keep=1)  # default grace: the young dir must survive
    snaps = os.path.join(st.path, "_snapshots")
    assert inflight in os.listdir(snaps)
    st.vacuum(keep=1, grace_seconds=0.0)  # explicit zero grace reclaims it
    assert inflight not in os.listdir(snaps)


# --- BucketedTransactionalStore: partial rewrites ---------------------------------


def _bstore(spark, tmp_path, name="b", n_buckets=8):
    from iheardai_data_pipeline_spark.streaming.stores import (
        BucketedTransactionalStore,
    )

    return BucketedTransactionalStore(
        spark, str(tmp_path / name), ["k"], ["seq"], n_buckets=n_buckets
    )


def test_bucketed_merge_matches_full_store_semantics(spark, tmp_path):
    full = _store(spark, tmp_path, "full")
    bkt = _bstore(spark, tmp_path)
    batches = [
        [("a", 1, "a1"), ("b", 1, "b1"), ("c", 1, "c1")],
        [("a", 2, "a2"), ("d", 1, "d1")],
        [("a", 1, "stale"), ("b", 3, "b3")],  # stale seq must lose
    ]
    for rows in batches:
        df = spark.createDataFrame(rows, SCHEMA)
        full.merge(df)
        bkt.merge(df)
    as_map = lambda st: {(r["k"], ): (r["seq"], r["v"]) for r in st.read().collect()}
    assert as_map(bkt) == as_map(full)


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    bkt = _bstore(spark, tmp_path, n_buckets=8)
    rows = [(f"k{i}", 1, f"v{i}") for i in range(40)]  # spread over buckets
    bkt.merge(spark.createDataFrame(rows, SCHEMA))
    m1 = bkt._manifest(bkt.current_version())
    # single-key update: only that key's bucket may change snapshot dirs
    bkt.merge(spark.createDataFrame([("k0", 2, "v0x")], SCHEMA))
    m2 = bkt._manifest(bkt.current_version())
    changed = {b for b in m2 if m1.get(b) != m2[b]}
    assert len(changed) == 1  # exactly the touched bucket
    untouched = set(m1) - changed
    assert untouched and all(m1[b] == m2[b] for b in untouched)  # inherited by pointer
    # and the data is correct
    got = {r["k"]: (r["seq"], r["v"]) for r in bkt.read().collect()}
    assert got["k0"] == (2, "v0x") and got["k1"] == (1, "v1") and len(got) == 40


def test_bucketed_concurrent_writers_no_lost_update(spark, tmp_path):
    from iheardai_data_pipeline_spark.streaming.stores import (
        BucketedTransactionalStore,
    )

    path = str(tmp_path / "bc")
    a = BucketedTransactionalStore(spark, path, ["k"], ["seq"], n_buckets=4)
    a.merge(spark.createDataFrame([("seed", 1, "s")], SCHEMA))
    errs = []

    def writer(i):
        try:
            st = BucketedTransactionalStore(spark, path, ["k"], ["seq"], n_buckets=4)
            st.merge(spark.createDataFrame([(f"k{i}", 1, f"v{i}")], SCHEMA))
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    keys = {r["k"] for r in a.read().collect()}
    assert keys == {"seed", "k0", "k1", "k2", "k3"}


def test_bucketed_vacuum_keeps_shared_dirs(spark, tmp_path):
    import os

    bkt = _bstore(spark, tmp_path, n_buckets=8)
    bkt.merge(spark.createDataFrame([(f"k{i}", 1, f"v{i}") for i in range(40)], SCHEMA))
    (first_name,) = {s for names in bkt._manifest(1).values() for s in names}
    bkt.merge(spark.createDataFrame([("k0", 2, "x")], SCHEMA))  # partial rewrite v2
    bkt.vacuum(keep=1, grace_seconds=0.0)
    # v2's manifest still points most buckets at v1's dir: it must survive
    snaps = os.listdir(os.path.join(bkt.path, "_snapshots"))
    assert first_name in snaps
    got = {r["k"] for r in bkt.read().collect()}
    assert len(got) == 40  # all data readable after vacuum
    with pytest.raises(ValueError, match="keep"):
        bkt.vacuum(keep=0)  # destructive retention refused (same as flat store)


def test_bucketed_n_buckets_pinned_in_meta(spark, tmp_path):
    from iheardai_data_pipeline_spark.streaming.stores import (
        BucketedTransactionalStore,
    )

    path = str(tmp_path / "meta")
    a = BucketedTransactionalStore(spark, path, ["k"], ["seq"], n_buckets=8)
    a.merge(spark.createDataFrame([("x", 1, "v")], SCHEMA))
    # a second opener inherits the persisted bucketing
    b = BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    assert b.n_buckets == 8
    # an explicit mismatch is an error, not silent corruption
    with pytest.raises(ValueError):
        BucketedTransactionalStore(spark, path, ["k"], ["seq"], n_buckets=4)


def test_bucketed_refuses_multi_relation_store_path(spark, tmp_path):
    """A bucketed store opened on a path whose _meta.json pins other
    relations must refuse it, not inherit n_buckets and misread the
    foreign manifests."""
    from iheardai_data_pipeline_spark.streaming.stores import (
        BucketedTransactionalStore,
    )

    _multi(spark, tmp_path, n_buckets=4)
    with pytest.raises(ValueError, match="relations"):
        BucketedTransactionalStore(spark, str(tmp_path / "m"), ["k"], ["seq"])


def test_bucketed_preserves_user_bucket_column(spark, tmp_path):
    from iheardai_data_pipeline_spark.streaming.stores import (
        BucketedTransactionalStore,
    )

    st = BucketedTransactionalStore(
        spark, str(tmp_path / "ub"), ["k"], ["seq"], n_buckets=4
    )
    st.merge(
        spark.createDataFrame(
            [("a", 1, "va", "user-bucket-1")], "k string, seq int, v string, bucket string"
        )
    )
    row = st.read().collect()[0]
    assert row["bucket"] == "user-bucket-1"  # data column survives the write


def test_bucketed_deletion_fold_empties_bucket_cleanly(spark, tmp_path):
    from iheardai_data_pipeline_spark.streaming.stores import (
        BucketedTransactionalStore,
    )

    st = BucketedTransactionalStore(
        spark, str(tmp_path / "del"), ["k"], ["seq"], n_buckets=4
    )
    st.merge(spark.createDataFrame([("a", 1, "va"), ("b", 1, "vb")], SCHEMA))

    def delete_key(current, upd):
        # key-local deletion: drop the update's keys from the bucket
        return current.join(upd.select("k"), "k", "left_anti")

    st.apply_keyed(spark.createDataFrame([("a", 2, "ignored")], SCHEMA), delete_key)
    remaining = {r["k"] for r in st.read().collect()} if st.read() is not None else set()
    assert "a" not in remaining  # deleted; store stays readable


def test_warehouse_loader_stand_in_upsert(spark, tmp_path):
    """K6 loader against its store stand-in: in-batch LWW dedup,
    cross-batch keyed merge."""
    from iheardai_data_pipeline_spark.streaming.warehouse import WarehouseBatchLoader

    ld = WarehouseBatchLoader(spark, str(tmp_path / "wh"), ["k"], ["seq"])
    # batch 1 carries two versions of key 'a' -> seq 2 wins in-batch
    ld.load_batch(spark.createDataFrame([("a", 1, "v1"), ("a", 2, "v2")], SCHEMA))
    got = {r["k"]: r["v"] for r in ld.read().collect()}
    assert got == {"a": "v2"}
    # batch 2 updates 'a' and inserts 'b'
    ld.load_batch(spark.createDataFrame([("a", 3, "v3"), ("b", 1, "b1")], SCHEMA))
    got = {r["k"]: (r["seq"], r["v"]) for r in ld.read().collect()}
    assert got == {"a": (3, "v3"), "b": (1, "b1")}


def test_warehouse_loader_foreach_batch_replay_is_exactly_once(spark, tmp_path):
    """foreachBatch replays a micro-batch after a crash between the
    write and the checkpoint: the replay must commit nothing."""
    from iheardai_data_pipeline_spark.streaming.warehouse import WarehouseBatchLoader

    ld = WarehouseBatchLoader(spark, str(tmp_path / "wh"), ["k"], ["seq"])
    fb = ld.foreach_batch()
    batch0 = spark.createDataFrame([("a", 1, "v1"), ("a", 2, "v2")], SCHEMA)
    fb(batch0, 0)
    assert ld._store.current_version() == 1
    fb(batch0, 0)  # replay
    assert ld._store.current_version() == 1
    fb(spark.createDataFrame([("a", 3, "v3"), ("b", 1, "b1")], SCHEMA), 1)
    assert ld._store.current_version() == 2
    got = {r["k"]: (r["seq"], r["v"]) for r in ld.read().collect()}
    assert got == {"a": (3, "v3"), "b": (1, "b1")}


def test_warehouse_loader_refuses_other_formats(spark, tmp_path):
    """The loader writes one table format; any other is refused when
    the loader is built, naming the one it writes."""
    from iheardai_data_pipeline_spark.streaming.warehouse import WarehouseBatchLoader

    for fmt in ("snowflake", "parquet"):
        with pytest.raises(ValueError, match="parquet_bucketed"):
            WarehouseBatchLoader(spark, str(tmp_path / "wh"), ["k"], ["seq"], fmt=fmt)
    assert not (tmp_path / "wh").exists()


def test_bucketed_read_keys_prunes_to_one_bucket(spark, tmp_path):
    """A point lookup must scan only the single bucket its key hashes
    to — pinned by inspecting the result's input files."""
    bkt = _bstore(spark, tmp_path, n_buckets=8)
    bkt.merge(
        spark.createDataFrame([(f"k{i}", 1, f"v{i}") for i in range(64)], SCHEMA)
    )
    all_files = bkt.read().inputFiles()
    buckets_total = {f.split("__bucket=")[1].split("/")[0] for f in all_files}
    assert len(buckets_total) > 1  # 64 keys spread over several buckets

    got = bkt.read_keys(spark.createDataFrame([("k7",)], "k string"))
    rows = got.collect()
    assert [(r["k"], r["v"]) for r in rows] == [("k7", "v7")]
    touched = {f.split("__bucket=")[1].split("/")[0] for f in got.inputFiles()}
    assert len(touched) == 1  # exactly one bucket's files scanned


def test_bucketed_read_keys_multi_and_missing(spark, tmp_path):
    bkt = _bstore(spark, tmp_path, n_buckets=8)
    bkt.merge(
        spark.createDataFrame([(f"k{i}", 1, f"v{i}") for i in range(32)], SCHEMA)
    )
    # multi-key set: all requested keys come back, nothing else
    got = bkt.read_keys(
        spark.createDataFrame([("k1",), ("k2",), ("k30",)], "k string")
    )
    assert {r["k"] for r in got.collect()} == {"k1", "k2", "k30"}
    # a key that was never written: its bucket may exist, result is empty
    got = bkt.read_keys(spark.createDataFrame([("nope",)], "k string"))
    assert got is None or got.count() == 0
    # empty store -> None
    empty = _bstore(spark, tmp_path, name="e", n_buckets=8)
    assert empty.read_keys(spark.createDataFrame([("k1",)], "k string")) is None


def test_read_keys_on_one_bucket_is_the_semi_join(spark, tmp_path):
    """A one-bucket relation's read_keys runs no bucket collect: it is
    the semi-join of the whole relation with the keys."""
    st = _store(spark, tmp_path)
    rows = [(f"k{i}", 1, f"v{i}") for i in range(20)]
    st.merge(spark.createDataFrame(rows, SCHEMA))
    keys = spark.createDataFrame([("k3",), ("k7",), ("k7",), ("nope",)], "k string")
    sc = spark.sparkContext
    sc.setJobGroup("read-keys-one-bucket", "read_keys plan only")
    try:
        got = st.read_keys(keys)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("read-keys-one-bucket") == []
    want = st.read().join(keys, ["k"], "left_semi")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    assert sorted(r["k"] for r in got.collect()) == ["k3", "k7"]
    empty = _store(spark, tmp_path, name="e")
    assert empty.read_keys(keys) is None


def test_apply_epoch_is_idempotent(spark, tmp_path):
    """A non-idempotent fold (sum-merge) replayed with the same epoch
    must be a no-op — the Delta txn-appId idea on the OCC marker."""
    st = BucketedTransactionalStore(
        spark, str(tmp_path / "epoch"), key_cols=["k"], order_cols=["seq"]
    )
    fn = _add_seq(spark)
    st.apply(fn, epoch=7)
    st.apply(fn, epoch=7)  # replay: skipped
    assert st.read().collect()[0]["seq"] == 1
    st.apply(fn, epoch=8)  # new epoch: merges
    assert st.read().collect()[0]["seq"] == 2
    assert st.current_version() == 2


def test_bucketed_apply_keyed_epoch_is_idempotent(spark, tmp_path):
    st = BucketedTransactionalStore(
        spark, str(tmp_path / "bepoch"), key_cols=["k"], order_cols=["seq"],
        n_buckets=4,
    )
    upd = spark.createDataFrame([("a", 1, "x"), ("b", 2, "y")], SCHEMA)

    def fn(current, u):
        if current is None:
            return u
        return (
            current.unionByName(u)
            .groupBy("k", "v")
            .agg(F.sum("seq").alias("seq"))
            .select("k", "seq", "v")
        )

    st.apply_keyed(upd, fn, epoch="b0")
    st.apply_keyed(upd, fn, epoch="b0")  # replay: skipped
    got = {r["k"]: r["seq"] for r in st.read().collect()}
    assert got == {"a": 1, "b": 2}
    st.apply_keyed(upd, fn, epoch="b1")
    got = {r["k"]: r["seq"] for r in st.read().collect()}
    assert got == {"a": 2, "b": 4}


# --- MultiRelationTransactionalStore: one commit, N relations ----------------------


def _multi(spark, tmp_path, name="m", n_buckets=4):
    from iheardai_data_pipeline_spark.streaming.stores import (
        MultiRelationTransactionalStore,
    )

    return MultiRelationTransactionalStore(
        spark,
        str(tmp_path / name),
        relations={"bands": ["bkey"], "profiles": ["doc_id"]},
        n_buckets=n_buckets,
    )


def _mr_append(rel, current, upd):
    if current is None:
        return upd
    return current.select(*upd.columns).unionByName(upd)


def test_multi_relation_commit_is_atomic_and_single_version(spark, tmp_path):
    st = _multi(spark, tmp_path)
    bands = spark.createDataFrame([(11, 1), (22, 2)], "bkey long, doc_id long")
    profs = spark.createDataFrame(
        [(1, [7, 8]), (2, [9])], "doc_id long, sh_set array<long>"
    )
    st.apply_keyed({"bands": bands, "profiles": profs}, _mr_append)
    # ONE version covers both relations
    assert st.current_version() == 1
    assert {r["bkey"] for r in st.read("bands").collect()} == {11, 22}
    assert {r["doc_id"] for r in st.read("profiles").collect()} == {1, 2}
    # second batch: still one version per commit, appends fold per rel
    st.apply_keyed(
        {
            "bands": spark.createDataFrame([(33, 3)], "bkey long, doc_id long"),
            "profiles": spark.createDataFrame(
                [(3, [1])], "doc_id long, sh_set array<long>"
            ),
        },
        _mr_append,
    )
    assert st.current_version() == 2
    assert st.read("bands").count() == 3
    assert st.read("profiles").count() == 3


def test_multi_relation_read_keys_prunes_buckets(spark, tmp_path):
    st = _multi(spark, tmp_path, n_buckets=16)
    bands = spark.createDataFrame(
        [(i, i) for i in range(200)], "bkey long, doc_id long"
    )
    profs = spark.createDataFrame(
        [(i, [i]) for i in range(200)], "doc_id long, sh_set array<long>"
    )
    st.apply_keyed({"bands": bands, "profiles": profs}, _mr_append)
    got = st.read_keys(
        "bands", spark.createDataFrame([(5,)], "bkey long")
    )
    assert [r["doc_id"] for r in got.collect()] == [5]
    # the pruned read touches one bucket dir of the bands relation only
    files = got.inputFiles()
    assert files and all(f"/{st._rel_dir('bands')}/" in f for f in files)
    assert len({f.split("__bucket=")[1].split("/")[0] for f in files}) == 1
    # missing key -> None or empty
    missing = st.read_keys(
        "profiles", spark.createDataFrame([(10**9,)], "doc_id long")
    )
    assert missing is None or missing.count() == 0


def test_multi_relation_epoch_and_requires_all_relations(spark, tmp_path):
    st = _multi(spark, tmp_path)
    bands = spark.createDataFrame([(1, 1)], "bkey long, doc_id long")
    profs = spark.createDataFrame([(1, [1])], "doc_id long, sh_set array<long>")
    with pytest.raises(ValueError, match="every relation"):
        st.apply_keyed({"bands": bands}, _mr_append)
    st.apply_keyed({"bands": bands, "profiles": profs}, _mr_append, epoch=4)
    st.apply_keyed({"bands": bands, "profiles": profs}, _mr_append, epoch=4)
    assert st.read("bands").count() == 1  # replay skipped
    assert st.current_version() == 1


def test_multi_relation_full_rewrite_and_vacuum(spark, tmp_path):
    import os

    st = _multi(spark, tmp_path)
    for i in range(3):
        st.apply_keyed(
            {
                "bands": spark.createDataFrame(
                    [(i, i)], "bkey long, doc_id long"
                ),
                "profiles": spark.createDataFrame(
                    [(i, [i])], "doc_id long, sh_set array<long>"
                ),
            },
            _mr_append,
        )
    cols = {"bands": ["bkey", "doc_id"], "profiles": ["doc_id", "sh_set"]}
    st.apply_keyed_all_buckets(
        lambda rel, current, _upd: current.select(*cols[rel]).distinct()
    )
    assert st.read("bands").count() == 3
    st.vacuum(keep=1, grace_seconds=0.0)
    # old versions gone, latest intact
    assert st.read("bands").count() == 3
    assert st.read("profiles").count() == 3
    commits = os.listdir(os.path.join(str(tmp_path / "m"), "_commits"))
    assert [f for f in commits if f.isdigit()] == ["4"]


def test_multi_relation_meta_pins_layout(spark, tmp_path):
    from iheardai_data_pipeline_spark.streaming.stores import (
        MultiRelationTransactionalStore,
    )

    _multi(spark, tmp_path, n_buckets=4)
    # same relations, inherited buckets: OK
    st2 = MultiRelationTransactionalStore(
        spark, str(tmp_path / "m"),
        relations={"bands": ["bkey"], "profiles": ["doc_id"]},
    )
    assert st2.n_buckets == 4
    with pytest.raises(ValueError, match="n_buckets"):
        MultiRelationTransactionalStore(
            spark, str(tmp_path / "m"),
            relations={"bands": ["bkey"], "profiles": ["doc_id"]},
            n_buckets=8,
        )
    with pytest.raises(ValueError, match="relations"):
        MultiRelationTransactionalStore(
            spark, str(tmp_path / "m"), relations={"bands": ["bkey"]}
        )


def test_multi_relation_version_pinned_reads(spark, tmp_path):
    """Round 14: read/read_keys accept an AS-OF committed version so a
    multi-read consumer (the postings serve) sees ONE snapshot even
    when commits land mid-sequence."""
    st = _multi(spark, tmp_path)
    st.apply_keyed(
        {
            "bands": spark.createDataFrame(
                [(11, 1)], "bkey long, doc_id long"
            ),
            "profiles": spark.createDataFrame(
                [(1, [1])], "doc_id long, sh_set array<long>"
            ),
        },
        _mr_append,
    )
    v1 = st.current_version()
    st.apply_keyed(
        {
            "bands": spark.createDataFrame(
                [(22, 2)], "bkey long, doc_id long"
            ),
            "profiles": spark.createDataFrame(
                [(2, [2])], "doc_id long, sh_set array<long>"
            ),
        },
        _mr_append,
    )
    assert st.read("bands").count() == 2
    assert {r["bkey"] for r in st.read("bands", version=v1).collect()} == {11}
    # a key that did not exist at the pinned version is invisible there
    late = st.read_keys(
        "bands", spark.createDataFrame([(22,)], "bkey long"), version=v1
    )
    assert late is None or late.count() == 0
    assert (
        st.read_keys(
            "bands", spark.createDataFrame([(11,)], "bkey long"), version=v1
        ).count()
        == 1
    )


def test_multi_relation_all_buckets_require_version(spark, tmp_path):
    """Round 14 (ADVICE r13): a fold pinned to require_version must
    ABORT with StoreVersionConflict when the store moved past the pin
    (its closure derives from that version's snapshot — the built-in
    retry cannot re-derive it), and commit normally on the right pin."""
    from iheardai_data_pipeline_spark.streaming.stores import (
        StoreVersionConflict,
    )

    st = _multi(spark, tmp_path)
    batch = {
        "bands": spark.createDataFrame([(11, 1)], "bkey long, doc_id long"),
        "profiles": spark.createDataFrame(
            [(1, [1])], "doc_id long, sh_set array<long>"
        ),
    }
    st.apply_keyed(batch, _mr_append)
    pinned = st.current_version()
    st.apply_keyed(
        {
            "bands": spark.createDataFrame(
                [(22, 2)], "bkey long, doc_id long"
            ),
            "profiles": spark.createDataFrame(
                [(2, [2])], "doc_id long, sh_set array<long>"
            ),
        },
        _mr_append,
    )
    with pytest.raises(StoreVersionConflict, match="pinned"):
        st.apply_keyed_all_buckets(
            lambda rel, cur, upd: cur, require_version=pinned
        )
    # no phantom commit from the aborted attempt
    assert st.current_version() == pinned + 1
    st.apply_keyed_all_buckets(
        lambda rel, cur, upd: cur, require_version=st.current_version()
    )
    assert st.read("bands").count() == 2


def test_multi_relation_concurrent_appends_no_lost_update(spark, tmp_path):
    """Two writers append_keyed to the SAME store concurrently: the OCC
    retry must merge both manifests — every appended row survives and
    versions are strictly sequential."""
    st = _multi(spark, tmp_path)
    errs = []

    def write(i):
        try:
            from iheardai_data_pipeline_spark.streaming.stores import (
                MultiRelationTransactionalStore,
            )

            other = MultiRelationTransactionalStore(
                spark, str(tmp_path / "m"),
                relations={"bands": ["bkey"], "profiles": ["doc_id"]},
            )
            other.append_keyed(
                {
                    "bands": spark.createDataFrame(
                        [(i, i)], "bkey long, doc_id long"
                    ),
                    "profiles": spark.createDataFrame(
                        [(i, [i])], "doc_id long, sh_set array<long>"
                    ),
                }
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=write, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert {r["bkey"] for r in st.read("bands").collect()} == {0, 1, 2, 3}
    assert {r["doc_id"] for r in st.read("profiles").collect()} == {0, 1, 2, 3}
    assert st.current_version() == 4


def test_multi_relation_append_then_fold_then_compact(spark, tmp_path):
    """Appends accumulate dir-list entries; a fold (apply_keyed)
    collapses the touched buckets' lists; compact collapses everything."""
    st = _multi(spark, tmp_path, n_buckets=2)
    for i in range(3):
        st.append_keyed(
            {
                "bands": spark.createDataFrame(
                    [(i, i)], "bkey long, doc_id long"
                ),
                "profiles": spark.createDataFrame(
                    [(i, [i])], "doc_id long, sh_set array<long>"
                ),
            }
        )
    manifest = st._manifest(st.current_version())
    assert any(len(v) > 1 for v in manifest["bands"].values())
    st.compact()
    manifest = st._manifest(st.current_version())
    for rel in ("bands", "profiles"):
        assert all(len(v) == 1 for v in manifest[rel].values())
    assert st.read("bands").count() == 3
    assert st.read("profiles").count() == 3


def test_vacuum_preserves_epoch_idempotence(spark, tmp_path):
    """Replay of an epoch whose commit marker vacuum has PRUNED must
    still no-op: vacuum retires pruned markers' epochs into the durable
    _epochs/ sidecar, so retention never shrinks the idempotence window
    (a sum-fold like t15/t17 would double-count otherwise)."""
    st = BucketedTransactionalStore(
        spark, str(tmp_path / "vep"), key_cols=["k"], order_cols=["seq"]
    )
    fn = _add_seq(spark)
    for ep in (1, 2, 3, 4):
        st.apply(fn, epoch=ep)
    assert st.read().collect()[0]["seq"] == 4
    st.vacuum(keep=1, grace_seconds=0.0)  # prunes markers for epochs 1-3
    st.apply(fn, epoch=1)  # replay of a pruned epoch: must still skip
    assert st.read().collect()[0]["seq"] == 4
    st.apply(fn, epoch=5)  # a genuinely new epoch still merges
    assert st.read().collect()[0]["seq"] == 5
    # retire survives a second vacuum (epochs re-fold transitively)
    st.vacuum(keep=1, grace_seconds=0.0)
    st.apply(fn, epoch=2)
    assert st.read().collect()[0]["seq"] == 5


def test_multi_relation_vacuum_preserves_epochs(spark, tmp_path):
    """Same contract on the multi-relation store's append path."""
    st = _multi(spark, tmp_path, "mvep")
    bands = spark.createDataFrame([(1, "b1")], "doc_id long, bkey string")
    profs = spark.createDataFrame([(1, "p")], "doc_id long, text string")
    upd = {"bands": bands.select("bkey", "doc_id"), "profiles": profs}
    for ep in ("e1", "e2", "e3"):
        st.append_keyed(upd, epoch=ep)
    assert st.read("profiles").count() == 3
    st.vacuum(keep=1, grace_seconds=0.0)
    st.append_keyed(upd, epoch="e1")  # pruned-marker epoch: no-op
    assert st.read("profiles").count() == 3
    st.append_keyed(upd, epoch="e4")
    assert st.read("profiles").count() == 4


def test_retired_epochs_fold_to_one_record_and_survive_cold_cache(
    spark, tmp_path
):
    """One vacuum pass folds ALL its pruned epochs into ONE sidecar
    record (file count grows with vacuums, not epochs), and a cold
    process (fresh _RETIRED_EPOCH_CACHE) still reads the full set —
    the cache is an optimization, never the source of truth."""
    import os as _os

    from iheardai_data_pipeline_spark.streaming import stores as st_mod

    st = BucketedTransactionalStore(
        spark, str(tmp_path / "fold"), key_cols=["k"], order_cols=["seq"]
    )
    fn = _add_seq(spark)
    for ep in range(1, 7):
        st.apply(fn, epoch=ep)
    st.vacuum(keep=1, grace_seconds=0.0)  # retires epochs 1-5 together
    epochs_dir = _os.path.join(st._store._commits_dir(), "_epochs")
    records = [f for f in _os.listdir(epochs_dir) if not f.startswith(".")]
    assert len(records) == 1  # folded, not one file per epoch
    # simulate a fresh process: drop the in-process cache entirely
    st_mod._RETIRED_EPOCH_CACHE.clear()
    for ep in range(1, 6):
        st.apply(fn, epoch=ep)  # every retired epoch must still no-op
    assert st.read().collect()[0]["seq"] == 6


def test_retired_epochs_read_without_generation_marker(
    spark, tmp_path, monkeypatch
):
    """When the generation uuid can't be read OR minted (pre-existing
    store on a read-only mount, FS without hard links, EPERM), the
    retired-epoch CACHE is unavailable — but the sidecar must still be
    read uncached, or a replayed epoch older than vacuum retention
    would double-commit (ADVICE r10 stores.py:167: a None generation is
    'always correct, just slower', and that claim must be true)."""
    from iheardai_data_pipeline_spark.streaming import stores as st_mod

    st = BucketedTransactionalStore(
        spark, str(tmp_path / "nogen"), key_cols=["k"], order_cols=["seq"]
    )
    fn = _add_seq(spark)
    for ep in (1, 2, 3, 4):
        st.apply(fn, epoch=ep)
    st.vacuum(keep=1, grace_seconds=0.0)  # retires epochs 1-3
    # simulate generation unavailability AND a cold process
    monkeypatch.setattr(st_mod, "_epochs_generation", lambda d: None)
    st_mod._RETIRED_EPOCH_CACHE.clear()
    for ep in (1, 2, 3):
        st.apply(fn, epoch=ep)  # retired epochs must STILL no-op
    assert st.read().collect()[0]["seq"] == 4
    st.apply(fn, epoch=5)  # a genuinely new epoch still merges
    assert st.read().collect()[0]["seq"] == 5


def test_recreated_store_does_not_inherit_retired_epochs(spark, tmp_path):
    """Deleting a store and recreating one at the SAME path must start
    with a clean epoch history: the retired-epoch cache is keyed by the
    _epochs directory's identity (dev+inode), not its path, so the
    fresh store can't treat the dead store's retired epochs as
    committed and silently skip epoch-guarded writes (r8 advice)."""
    import shutil

    path = str(tmp_path / "reborn")
    st = BucketedTransactionalStore(
        spark, path, key_cols=["k"], order_cols=["seq"]
    )
    fn = _add_seq(spark)
    for ep in (1, 2, 3):
        st.apply(fn, epoch=ep)
    st.vacuum(keep=1, grace_seconds=0.0)  # retires epochs 1-2
    st.apply(fn, epoch=1)  # no-op; warms the per-process retired cache
    assert st.read().collect()[0]["seq"] == 3
    shutil.rmtree(path)
    st2 = BucketedTransactionalStore(
        spark, path, key_cols=["k"], order_cols=["seq"]
    )
    st2.apply(fn, epoch=1)  # fresh history: must COMMIT, not skip
    assert st2.read().collect()[0]["seq"] == 1


def test_epochs_cache_key_survives_inode_recycling(tmp_path, monkeypatch):
    """ext4/xfs readily hand a recreated directory the inode its
    just-deleted predecessor freed — so (path, dev, inode) alone can
    collide across a delete+recreate and the reborn store would inherit
    the dead store's retired epochs (ADVICE r9 stores.py:89). The
    write-once generation uuid breaks the tie: simulate the recycling
    by stat-spoofing the recreated dir with the dead dir's exact stat
    result and assert the cache keys still differ."""
    import os as _os
    import shutil as _shutil

    from iheardai_data_pipeline_spark.streaming import stores as st_mod

    d = str(tmp_path / "_epochs")
    _os.makedirs(d)
    k1 = st_mod._epochs_cache_key(d)
    assert k1 is not None
    dead_stat = _os.stat(d)
    _shutil.rmtree(d)
    _os.makedirs(d)
    real_stat = _os.stat
    monkeypatch.setattr(
        st_mod.os,
        "stat",
        lambda p, *a, **kw: dead_stat if p == d else real_stat(p, *a, **kw),
    )
    k2 = st_mod._epochs_cache_key(d)
    assert k2 is not None
    assert k2[:3] == k1[:3]  # the spoof worked: identity triple collides
    assert k2 != k1  # ...and the generation uuid still separates them
    # same dir, same generation: the key is stable across calls
    assert st_mod._epochs_cache_key(d) == k2


def test_concurrent_streams_interleave_appends_exact_union(spark, tmp_path):
    """STREAM-level concurrent-writer proof (unit-level OCC races are
    covered above): two availableNow streaming queries run
    CONCURRENTLY, each foreachBatch apply()-appending its own disjoint
    batches to ONE BucketedTransactionalStore. A deliberate sleep
    between each apply's read and its commit widens the lost-update
    window, so commits genuinely interleave and losers re-merge
    through the retry loop. The final state must be the EXACT union of
    every batch — a clobbered commit loses rows, a double commit
    duplicates them — and every (writer, batch) epoch must appear in
    exactly one commit marker."""
    import json as _json
    import os as _os
    import time as _time

    store = BucketedTransactionalStore(
        spark, str(tmp_path / "ccw"), key_cols=["k"], order_cols=["seq"]
    )
    srcs = []
    all_rows: list[tuple] = []
    for w in (1, 2):
        src = str(tmp_path / f"src{w}")
        _os.makedirs(src)
        for b in range(4):
            rows = [
                (f"w{w}-b{b}-r{i}", 10 * w + b, f"v{w}") for i in range(5)
            ]
            all_rows.extend(rows)
            spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
                _os.path.join(src, f"part{b}")
            )
        srcs.append(src)

    def make_sink(w):
        def sink(batch, batch_id):
            rows = batch.localCheckpoint(eager=True)

            def fn(current):
                merged = (
                    rows
                    if current is None
                    else current.unionByName(rows)
                )
                _time.sleep(0.05)  # widen the read->commit race window
                return merged

            store.apply(fn, epoch=f"w{w}-{batch_id}")

        return sink

    queries = []
    for w, src in zip((1, 2), srcs):
        q = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
            .writeStream.foreachBatch(make_sink(w))
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / f"ckpt{w}"))
            .start()
        )
        queries.append(q)
    for q in queries:
        q.awaitTermination()

    got = sorted(tuple(r) for r in store.read().collect())
    assert got == sorted(all_rows)
    # every epoch committed exactly once, 8 commits total
    commits_dir = store._store._commits_dir()
    epochs = []
    for f in _os.listdir(commits_dir):
        if f.isdigit():
            with open(_os.path.join(commits_dir, f)) as fh:
                e = _json.load(fh).get("epoch")
            if e is not None:
                epochs.append(e)
    assert sorted(epochs) == sorted(
        f"w{w}-{b}" for w in (1, 2) for b in range(4)
    )
    assert store.current_version() == 8


# --- data-sized bucket counts -------------------------------------------------------


@pytest.fixture
def small_splits(spark):
    """A 2 KB ``spark.sql.files.maxPartitionBytes``: the size target a
    data-sized store fits its bucket count to, so a few hundred rows
    already need several buckets."""
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    spark.conf.set(key, "2k")
    try:
        yield
    finally:
        spark.conf.set(key, before)


def _grow_rows(n, seq=1):
    # hex payloads parquet cannot compress away
    import hashlib

    return [
        (f"k{i}", seq, hashlib.sha256(f"{i}".encode()).hexdigest()) for i in range(n)
    ]


def _assert_rows_in_their_buckets(log, rel="rows"):
    """Every latest row sits in the bucket its key hashes to at the
    bucket count the latest commit records."""
    from functools import reduce

    manifest, counts = log._base(log.current_version())
    n = counts[rel]
    parts = [
        log._read_rel({rel: {b: names}}, rel).withColumn("__b", F.lit(int(b)))
        for b, names in manifest[rel].items()
    ]
    placed = reduce(lambda a, b: a.unionByName(b), parts)
    key = F.pmod(F.xxhash64(*log.relations[rel]), F.lit(n))
    assert placed.filter(key != F.col("__b")).count() == 0
    assert len(manifest[rel]) <= n


def test_data_sized_store_grows_on_full_touch_commit(spark, tmp_path, small_splits):
    st = BucketedTransactionalStore(spark, str(tmp_path / "grow"), ["k"], ["seq"])
    assert st.n_buckets is None and st._store.bucket_count("rows") == 1
    rows = _grow_rows(400)
    # at one bucket every merge rewrites the whole relation, so it
    # fits the count to the bytes it staged
    st.merge(spark.createDataFrame(rows, SCHEMA))
    n = st._store.bucket_count("rows")
    assert n > 1 and n & (n - 1) == 0
    assert sorted(map(tuple, st.read().collect())) == sorted(rows)
    _assert_rows_in_their_buckets(st._store)
    # a merge touching one bucket keeps the count and the other buckets
    before = st._manifest(st.current_version())
    st.merge(spark.createDataFrame([("k0", 2, "new")], SCHEMA))
    assert st._store.bucket_count("rows") == n
    after = st._manifest(st.current_version())
    assert sum(before[b] != after[b] for b in after) == 1
    got = {r["k"]: r["v"] for r in st.read().collect()}
    assert len(got) == 400 and got["k0"] == "new" and got["k1"] == rows[1][2]


def test_pinned_store_never_changes_its_count(spark, tmp_path, small_splits):
    st = _bstore(spark, tmp_path, n_buckets=8)
    st.merge(spark.createDataFrame(_grow_rows(400), SCHEMA))  # touches all 8
    snapshot = st.read()
    st.apply(lambda _current: snapshot)  # a full replace
    st._store.compact()
    st.merge(spark.createDataFrame([("k0", 2, "new")], SCHEMA))
    assert st.current_version() == 4
    assert [st._store.bucket_count("rows", v) for v in range(1, 5)] == [8] * 4
    _assert_rows_in_their_buckets(st._store)
    assert st.read().count() == 400


def test_second_handle_reads_bucket_count_from_manifest(
    spark, tmp_path, small_splits
):
    path = str(tmp_path / "handles")
    a = BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    a.merge(spark.createDataFrame(_grow_rows(400), SCHEMA))
    n = a._store.bucket_count("rows")
    assert n > 1
    b = BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    assert b.n_buckets is None and b._store.bucket_count("rows") == n
    # b hashes its merge at the manifest's count, not at its start count
    b.merge(spark.createDataFrame([("k1", 2, "from-b")], SCHEMA))
    assert a._store.bucket_count("rows") == n
    _assert_rows_in_their_buckets(a._store)
    got = {r["k"]: r["v"] for r in a.read().collect()}
    assert len(got) == 400 and got["k1"] == "from-b"
    # an explicit count cannot reopen a data-sized store
    with pytest.raises(ValueError, match="n_buckets"):
        BucketedTransactionalStore(spark, path, ["k"], ["seq"], n_buckets=n)


def test_resize_racing_a_merge_loses_no_update(spark, tmp_path, small_splits):
    """Two threads: one merge grows the store past one bucket while the
    other merges a single key. Whichever loses the claim retries on the
    winner's base, at the winner's bucket count."""
    path = str(tmp_path / "race")
    seed = BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    seed.merge(spark.createDataFrame([("seed", 1, "s")], SCHEMA))
    grow = _grow_rows(400)
    # sized by its bytes, so its merge folds the seed's dir: a whole-relation rewrite
    (grow_df,) = _file_batches(spark, tmp_path, "grow", [grow])
    start = threading.Barrier(2)
    errs = []

    def write(df):
        try:
            st = BucketedTransactionalStore(spark, path, ["k"], ["seq"])
            start.wait()
            st.merge(df)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=write, args=(df,))
        for df in (grow_df, spark.createDataFrame([("point", 1, "p")], SCHEMA))
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs
    assert seed.current_version() == 3
    assert seed._store.bucket_count("rows") > 1
    assert {r["k"] for r in seed.read().collect()} == {
        "seed", "point", *(k for k, _, _ in grow)
    }
    _assert_rows_in_their_buckets(seed._store)


@pytest.mark.parametrize("op", ["merge", "append"])
def test_writer_retries_at_the_resized_count(spark, tmp_path, small_splits, op):
    """A writer whose claim is lost to a resize stages its retry at the
    new count: a merge re-folds on the new base (no second collect), an
    append re-stages its rows instead of re-pointing dirs hashed at the
    old count."""
    from iheardai_data_pipeline_spark.streaming.stores import (
        MultiRelationTransactionalStore,
    )

    path = str(tmp_path / op)
    grower = BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    grower.merge(spark.createDataFrame([("seed", 1, "s")], SCHEMA))
    log = MultiRelationTransactionalStore(spark, path, {"rows": ["k"]})
    real_stage = log._stage
    staged_at = []
    # sized by its bytes, so its merge folds the seed's dir: a whole-relation rewrite
    (grow_df,) = _file_batches(spark, tmp_path, "grow", [_grow_rows(400)])

    def stage_then_lose_to_a_resize(frames, buckets):
        staged = real_stage(frames, buckets)
        staged_at.append(buckets["rows"])
        if len(staged_at) == 1:
            grower.merge(grow_df)
        return staged

    log._stage = stage_then_lose_to_a_resize
    upd = spark.createDataFrame([("late", 1, "l")], SCHEMA)
    if op == "merge":
        log.apply_keyed(
            {"rows": upd},
            lambda rel, cur, u: u if cur is None else cur.unionByName(u),
        )
    else:
        log.append_keyed({"rows": upd})
    n = log.bucket_count("rows")
    assert staged_at == [1, n] and n > 1
    assert log.current_version() == 3
    _assert_rows_in_their_buckets(log)
    keys = [r["k"] for r in log.read("rows").collect()]
    assert len(keys) == 402 and {"seed", "late"} <= set(keys)


# --- layout versioning ---------------------------------------------------------------


def test_open_refuses_store_without_layout_version(spark, tmp_path):
    """A _meta.json without a layout version (written before the layout
    was versioned) is refused, naming the path and both versions."""
    import json
    import os

    from iheardai_data_pipeline_spark.streaming import stores as st_mod

    path = str(tmp_path / "unversioned")
    os.makedirs(path)
    with open(os.path.join(path, "_meta.json"), "w") as fh:
        json.dump({"n_buckets": 4, "relations": {"rows": ["k"]}}, fh)
    with pytest.raises(ValueError, match="layout version none") as err:
        BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    assert path in str(err.value)
    assert f"layout version {st_mod.LAYOUT_VERSION} only" in str(err.value)


def test_open_refuses_unknown_layout_version(spark, tmp_path):
    import json
    import os

    from iheardai_data_pipeline_spark.streaming import stores as st_mod

    path = str(tmp_path / "future")
    os.makedirs(path)
    with open(os.path.join(path, "_meta.json"), "w") as fh:
        json.dump({"layout": 999, "n_buckets": 4, "relations": {"rows": ["k"]}}, fh)
    with pytest.raises(ValueError, match="layout version 999") as err:
        BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    assert path in str(err.value)
    assert f"layout version {st_mod.LAYOUT_VERSION} only" in str(err.value)


def test_open_refuses_commit_markers_without_meta(spark, tmp_path):
    """The retired full-snapshot layout (``_commits/<N>`` markers naming
    a snapshot dir, no ``_meta.json``) is refused — not
    stamped with a fresh _meta.json and then misread."""
    import json
    import os

    path = str(tmp_path / "retired")
    os.makedirs(os.path.join(path, "_commits"))
    os.makedirs(os.path.join(path, "_snapshots", "abc"))
    with open(os.path.join(path, "_commits", "1"), "w") as fh:
        json.dump({"snapshot": "abc"}, fh)
    with pytest.raises(ValueError, match="without _meta.json") as err:
        BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    assert path in str(err.value)
    assert not os.path.exists(os.path.join(path, "_meta.json"))


def test_open_refuses_layout_1_store(spark, tmp_path):
    """Layout 1 pinned one bucket count per store in _meta.json; its
    commits record no counts, so it is refused, not misread."""
    import json
    import os

    path = str(tmp_path / "layout1")
    os.makedirs(path)
    with open(os.path.join(path, "_meta.json"), "w") as fh:
        json.dump({"layout": 1, "n_buckets": 16, "relations": {"rows": ["k"]}}, fh)
    with pytest.raises(ValueError, match="layout version 1;") as err:
        BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    assert path in str(err.value)


def test_open_refuses_layout_2_store(spark, tmp_path):
    """Layout 2 concatenated every bucket's dir list; a merge-on-read
    list read that way returns superseded rows, so it is refused."""
    import json
    import os

    from iheardai_data_pipeline_spark.streaming import stores as st_mod

    path = str(tmp_path / "layout2")
    os.makedirs(path)
    with open(os.path.join(path, "_meta.json"), "w") as fh:
        json.dump({"layout": 2, "n_buckets": None, "relations": {"rows": ["k"]}}, fh)
    with pytest.raises(ValueError, match="layout version 2;") as err:
        BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    assert path in str(err.value)
    assert f"layout version {st_mod.LAYOUT_VERSION} only" in str(err.value)


def test_one_bucket_store_reopens_with_its_pinned_count(spark, tmp_path):
    """A store created pinned to one bucket (the ``_meta.json`` the
    retired one-bucket view wrote) opens by default (``n_buckets=None``)
    at its pinned count, and merges, applies and reads as it did."""
    import json
    import os

    from iheardai_data_pipeline_spark.streaming import stores as st_mod

    path = str(tmp_path / "one")
    BucketedTransactionalStore(spark, path, ["k"], ["seq"], n_buckets=1).merge(
        spark.createDataFrame([("a", 1, "a1"), ("b", 1, "b1")], SCHEMA)
    )
    with open(os.path.join(path, "_meta.json")) as fh:
        assert json.load(fh) == {
            "layout": st_mod.LAYOUT_VERSION,
            "n_buckets": 1,
            "merge_on_read": True,
            "relations": {"rows": ["k"]},
        }
    st = BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    assert st.n_buckets == 1
    assert {r["k"]: r["v"] for r in st.read().collect()} == {"a": "a1", "b": "b1"}
    st.merge(spark.createDataFrame([("a", 2, "a2"), ("c", 1, "c1")], SCHEMA))
    st.apply(lambda current: current.withColumn("v", F.upper("v")))
    got = {r["k"]: (r["seq"], r["v"]) for r in st.read().collect()}
    assert got == {"a": (2, "A2"), "b": (1, "B1"), "c": (1, "C1")}
    assert st.current_version() == 3
    assert [st._store.bucket_count("rows", v) for v in (1, 2, 3)] == [1, 1, 1]


def test_view_refuses_a_concatenating_store(spark, tmp_path):
    """A store created to concatenate its dir lists cannot be opened as
    a merge-on-read view, nor merged into."""
    from iheardai_data_pipeline_spark.streaming.stores import (
        MultiRelationTransactionalStore,
    )

    path = str(tmp_path / "concat")
    log = MultiRelationTransactionalStore(spark, path, {"rows": ["k"]})
    assert not log.merge_on_read
    with pytest.raises(ValueError, match="merge_on_read=False"):
        BucketedTransactionalStore(spark, path, ["k"], ["seq"])
    with pytest.raises(ValueError, match="merge_on_read store"):
        log.merge({"rows": spark.createDataFrame([("a", 1, "v")], SCHEMA)}, ["seq"])


# --- merge-on-read merges ------------------------------------------------------------


def _payload(key, seq):
    # hex payloads parquet cannot compress away
    import hashlib

    return hashlib.sha256(f"{key}/{seq}".encode()).hexdigest()


def _file_batches(spark, root, name, batches):
    """Each row list of ``batches`` as a frame read back from its own
    parquet file, so Catalyst sizes it by its bytes as it sizes a
    file-stream micro-batch (a ``createDataFrame`` frame has no size
    estimate and merges as if it added nothing). One write job stages
    them all."""
    import os

    path = os.path.join(str(root), name)
    tagged = [(i, *row) for i, rows in enumerate(batches) for row in rows]
    (
        spark.createDataFrame(tagged, f"batch int, {SCHEMA}")
        .coalesce(1)
        .write.partitionBy("batch")
        .parquet(path)
    )
    return [spark.read.parquet(os.path.join(path, f"batch={i}")) for i in range(len(batches))]


def _lww_oracle(state, rows):
    """``state`` after a merge of ``rows``: the batch's newest row per
    key by seq replaces the key's row, whatever its seq (update
    priority, as ``merge_upsert``)."""
    newest = {}
    for row in rows:
        if row[0] not in newest or row[1] > newest[row[0]][1]:
            newest[row[0]] = row
    return {**state, **newest}


def _merge_sequence(n_merges=20, per_batch=24, seed=6):
    """Equal-sized batches of ``(k, seq, v)`` rows: new keys, replays
    (exact re-deliveries of earlier rows), re-sends of existing keys at
    a random, often lower, seq (late events), and a key's versions twice
    in one batch. One key never carries two different rows at one seq
    in a batch, so the in-batch winner is defined."""
    import random

    rng = random.Random(seed)
    delivered, batches, fresh = [], [], 0
    for _ in range(n_merges):
        rows, seen = [], {}
        while len(rows) < per_batch:
            r = rng.random()
            if delivered and r < 0.2:
                row = rng.choice(delivered)
            elif delivered and r < 0.45:
                key = rng.choice(delivered)[0]
                seq = rng.randint(0, 9)
                row = (key, seq, _payload(key, seq))
            elif rows and r < 0.55:
                key = rng.choice(rows)[0]
                seq = rng.randint(0, 9)
                row = (key, seq, _payload(key, seq))
            else:
                key, seq = f"k{fresh}", rng.randint(1, 9)
                fresh += 1
                row = (key, seq, _payload(key, seq))
            row = seen.setdefault((row[0], row[1]), row)
            rows.append(row)
        delivered.extend(rows)
        batches.append(rows)
    return batches


REPLAYED_STEPS = (6, 13)  # these batches are delivered twice, same epoch


@pytest.fixture(scope="module")
def merge_history(spark, tmp_path_factory):
    """One seeded run of 20 epoch-stamped merges into a one-bucket view
    and a pinned 4-bucket view, each vacuumed to 3 versions after every
    merge; two batches are replayed. Per store and step it records the
    ``_stage`` calls, the dir-list lengths, and the rows of every
    retained version, beside the ``merge_upsert`` oracle."""
    from functools import reduce

    root = tmp_path_factory.mktemp("merge-history")
    batches = _merge_sequence()
    frames = _file_batches(spark, root, "in", batches)
    oracle = [{}]
    for rows in batches:
        oracle.append(_lww_oracle(oracle[-1], rows))
    stores = {
        "one_bucket": BucketedTransactionalStore(
            spark, str(root / "txn"), ["k"], ["seq"], n_buckets=1
        ),
        "four_buckets": BucketedTransactionalStore(
            spark, str(root / "b4"), ["k"], ["seq"], n_buckets=4
        ),
    }
    history = {}
    for name, st in stores.items():
        real_stage, stages = st._store._stage, []

        def counting_stage(frames_, buckets, real_stage=real_stage, stages=stages):
            stages.append(buckets)
            return real_stage(frames_, buckets)

        st._store._stage = counting_stage
        steps = []
        for i, df in enumerate(frames):
            for replay in (False, True) if i in REPLAYED_STEPS else (False,):
                del stages[:]
                st.merge(df, epoch=f"batch-{i}")
                st.vacuum(keep=3, grace_seconds=0.0)
                version = st.current_version()
                retained = [v for v in range(1, version + 1) if st._manifest(v) is not None]
                # one job: read() tagged 0, each retained version tagged v
                reads = [st.read()] + [st.read_version(v) for v in retained]
                rows = reduce(
                    lambda a, b: a.unionByName(b),
                    [df.withColumn("__v", F.lit(v)) for v, df in zip([0] + retained, reads)],
                ).collect()
                got = {v: {} for v in [0] + retained}
                for r in rows:
                    assert r["k"] not in got[r["__v"]], f"{name}: {r['k']} twice at v{r['__v']}"
                    got[r["__v"]][r["k"]] = (r["k"], r["seq"], r["v"])
                steps.append(
                    {
                        "merges": i + 1,
                        "replay": replay,
                        "version": version,
                        "stages": len(stages),
                        "lists": [len(v) for v in st._manifest(version).values()],
                        "latest": got.pop(0),
                        "versions": got,
                    }
                )
        st._store._stage = real_stage
        history[name] = steps
    return {"stores": stores, "oracle": oracle, "history": history, "root": root}


@pytest.mark.parametrize("name", ["one_bucket", "four_buckets"])
def test_merges_read_as_the_merge_upsert_oracle(merge_history, name):
    """After every merge, read() and each retained read_version(v)
    equal the merge_upsert fold of the batches up to v."""
    oracle = merge_history["oracle"]
    for step in merge_history["history"][name]:
        assert step["version"] == step["merges"]  # one commit per merge, none per replay
        assert step["latest"] == oracle[step["version"]]
        assert len(step["versions"]) == min(3, step["version"])
        for v, rows in step["versions"].items():
            assert rows == oracle[v], f"{name}: version {v} after merge {step['merges']}"


@pytest.mark.parametrize("name", ["one_bucket", "four_buckets"])
def test_merge_dir_lists_stay_logarithmic(merge_history, name):
    """After n equal merges no bucket lists more than floor(log2 n) + 2
    dirs — and the lists do grow past one dir, so reads resolve."""
    steps = merge_history["history"][name]
    for step in steps:
        n = step["merges"]
        assert max(step["lists"]) <= n.bit_length() + 1, step
    assert max(max(s["lists"]) for s in steps) > 1


@pytest.mark.parametrize("name", ["one_bucket", "four_buckets"])
def test_merge_stages_once_and_replays_commit_nothing(merge_history, name):
    """A merge is ONE staged write (the fold rides in it; these pinned
    stores never re-stage at a new count), and a replayed epoch stages
    and commits nothing."""
    for step in merge_history["history"][name]:
        assert step["stages"] == (0 if step["replay"] else 1), step


def test_folds_and_key_reads_see_resolved_rows(spark, merge_history, tmp_path):
    """read_keys, a summing apply on every store and a summing
    apply_keyed on the bucketed one, run on (copies of) the merged
    stores, each see one resolved row per key; the cross-key apply
    keeps the store's bucket count, and its replayed epoch commits
    nothing."""
    import shutil

    oracle = merge_history["oracle"][-1]
    keys = sorted(oracle)[::7]
    probe = spark.createDataFrame([(k,) for k in keys], "k string")

    def total(current):
        return current.groupBy().agg(
            F.lit("all").alias("k"),
            F.sum("seq").cast("int").alias("seq"),
            F.count("*").cast("string").alias("v"),
        )

    for name, st in merge_history["stores"].items():
        assert max(len(v) for v in st._manifest(st.current_version()).values()) > 1
        got = [tuple(r) for r in st.read_keys(probe).collect()]
        assert sorted(got) == sorted(oracle[k] for k in keys), name
        copy = shutil.copytree(st.path, str(tmp_path / name))
        view = BucketedTransactionalStore(spark, copy, ["k"], ["seq"])
        view.apply(total, epoch="total")
        version = view.current_version()
        view.apply(total, epoch="total")  # the replay
        assert view.current_version() == version, name
        (row,) = view.read().collect()
        assert (row["seq"], row["v"]) == (
            sum(r[1] for r in oracle.values()),
            str(len(oracle)),
        ), name
        assert view._store.bucket_count("rows") == st.n_buckets, name
        if name == "four_buckets":
            keyed = BucketedTransactionalStore(
                spark, shutil.copytree(st.path, str(tmp_path / "keyed")), ["k"], ["seq"]
            )

            def add(current, upd):
                return (
                    current.unionByName(upd)
                    .groupBy("k")
                    .agg(F.sum("seq").cast("int").alias("seq"), F.max("v").alias("v"))
                )

            keyed.apply_keyed(
                spark.createDataFrame([(k, 100, "") for k in keys], SCHEMA), add
            )
            got = {r["k"]: r["seq"] for r in keyed.read().collect()}
            assert got == {
                k: r[1] + (100 if k in keys else 0) for k, r in oracle.items()
            }


@pytest.mark.parametrize("n_buckets", [1, 4])
def test_merges_of_unsized_frames_stay_logarithmic(spark, tmp_path, n_buckets):
    """``createDataFrame`` frames carry no size estimate (Catalyst
    reports ``spark.sql.defaultSizeInBytes``); merging them still keeps
    every list at most floor(log2 n) + 2 dirs instead of folding the
    whole list each time, and reads as the merge_upsert oracle."""
    batches = _merge_sequence(n_merges=10)
    st = BucketedTransactionalStore(
        spark, str(tmp_path / "s"), ["k"], ["seq"], n_buckets=n_buckets
    )
    oracle, longest = {}, 0
    for n, rows in enumerate(batches, 1):
        st.merge(spark.createDataFrame(rows, SCHEMA))
        oracle = _lww_oracle(oracle, rows)
        lists = [len(v) for v in st._manifest(st.current_version()).values()]
        assert max(lists) <= n.bit_length() + 1, (n, lists)
        longest = max(longest, *lists)
    assert longest > 1
    got = [tuple(r) for r in st.read().collect()]
    assert len(got) == len(oracle) and dict((r[0], r) for r in got) == oracle


@pytest.mark.parametrize("path", ["append", "fold"])
def test_lost_claim_refolds_on_the_winners_base(spark, tmp_path, path):
    """A merge whose claim is lost re-decides its fold on the winner's
    base and re-stages: nothing the winner wrote is lost or undone,
    and the dir the loser first staged is never committed."""
    big = [(f"a{i}", 1, _payload(f"a{i}", 1)) for i in range(300)]
    small = lambda tag, n: [  # noqa: E731
        (f"{tag}{i}", 2, _payload(f"{tag}{i}", 2)) for i in range(n)
    ] + [("a0", 3, _payload(tag, 3))]
    st = BucketedTransactionalStore(spark, str(tmp_path / "s"), ["k"], ["seq"])
    winner = BucketedTransactionalStore(spark, st.path, ["k"], ["seq"])
    batches = [big] + ([small("t", 20)] if path == "fold" else [])
    w_rows, x_rows = small("w", 20), small("x", 20)
    *base_dfs, w_df, x_df = _file_batches(spark, tmp_path, "in", [*batches, w_rows, x_rows])
    for df in base_dfs:
        st.merge(df)
    base_list = st._manifest(st.current_version())["0"]
    assert len(base_list) == len(batches)  # the tail the loser folds, if any
    real_stage, staged = st._store._stage, []

    def stage_then_lose(frames, buckets):
        name, written = real_stage(frames, buckets)
        staged.append(name)
        if len(staged) == 1:
            winner.merge(w_df)
        return name, written

    st._store._stage = stage_then_lose
    st.merge(x_df)
    assert len(staged) == 2 and st.current_version() == len(batches) + 2
    final = st._manifest(st.current_version())["0"]
    assert staged[0] not in final and final[-1] == staged[1]
    assert final[0] == base_list[0]  # the big dir is never folded
    want = {}
    for rows in batches + [w_rows, x_rows]:
        want = _lww_oracle(want, rows)
    assert {r["k"]: tuple(r) for r in st.read().collect()} == want


def test_warehouse_loader_reads_a_table_another_loader_wrote(spark, tmp_path):
    """A fresh loader on a committed target (a restarted process) reads
    the table without loading anything; an empty target reads None."""
    from iheardai_data_pipeline_spark.streaming.warehouse import WarehouseBatchLoader

    path = str(tmp_path / "wh")
    assert WarehouseBatchLoader(spark, path, ["k"], ["seq"]).read() is None
    first = WarehouseBatchLoader(spark, path, ["k"], ["seq"])
    first.load_batch(spark.createDataFrame([("a", 1, "v1"), ("b", 1, "b1")], SCHEMA))
    first.load_batch(spark.createDataFrame([("a", 2, "v2")], SCHEMA))
    restarted = WarehouseBatchLoader(spark, path, ["k"], ["seq"])
    got = {r["k"]: (r["seq"], r["v"]) for r in restarted.read().collect()}
    assert got == {"a": (2, "v2"), "b": (1, "b1")}

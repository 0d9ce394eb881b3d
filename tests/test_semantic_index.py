"""SemanticDedupIndex: pinned-centroid persistence, split-batch
equivalence, replay safety, and cluster-pruned probes. The corpus-wide
oracle equivalence runs in test_catalog_oracle (x_dedup_semantic_ingest
at sf0.01)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.operators.semantic_index import (
    SemanticDedupIndex,
)


def _vecs(spark, rows):
    # rows: (vec_id, [floats])
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


# two well-separated directions in 4-dim space; near-dups within each
A = [1.0, 0.0, 0.0, 0.0]
A2 = [0.98, 0.01, 0.0, 0.0]   # cos vs A ~ 0.9999 -> dup
B = [0.0, 1.0, 0.0, 0.0]
B2 = [0.0, 0.97, 0.02, 0.0]   # dup of B
C = [0.0, 0.0, 1.0, 0.0]      # unique direction


def test_bootstrap_gate_and_reopen(spark, tmp_path):
    path = str(tmp_path / "sem")
    corpus = _vecs(spark, [(0, A), (1, B)])
    idx = SemanticDedupIndex.bootstrap(
        spark, path, corpus, n_centroids=2, threshold=0.9
    )
    # A2 dups corpus A; C is new; B2 dups corpus B
    kept = idx.ingest(_vecs(spark, [(10, A2), (11, C), (12, B2)]))
    assert {r["vec_id"] for r in kept.collect()} == {11}
    # a fresh handle on the same path sees pinned centroids + state
    idx2 = SemanticDedupIndex(spark, path, threshold=0.9)
    assert idx2.centroids == idx.centroids
    # 13 dups the REJECTED-but-indexed 10 (non-transitivity contract)
    kept2 = idx2.ingest(_vecs(spark, [(13, A2)]))
    assert kept2.count() == 0
    # threshold mismatch is an error, not silent candidate loss
    with pytest.raises(ValueError, match="threshold"):
        SemanticDedupIndex(spark, path, threshold=0.5)


def test_bootstrap_race_loser_appends_nothing_extra(spark, tmp_path):
    """A second bootstrap of the same corpus (crash-retry / race loser)
    pins the same centroids and must not duplicate the corpus: the
    bootstrap append is epoch-guarded. A different corpus yields other
    centroids and must raise — never append vectors assigned to
    centroids the index was not built with."""
    path = str(tmp_path / "semr")
    corpus = _vecs(spark, [(0, A), (1, B), (2, C), (3, A2)])
    idx = SemanticDedupIndex.bootstrap(
        spark, path, corpus, n_centroids=2, threshold=0.9
    )
    n0 = idx._store.read("vectors").count()
    assert n0 == 4
    idx2 = SemanticDedupIndex.bootstrap(
        spark, path, corpus, n_centroids=2, threshold=0.9
    )
    assert idx2._store.read("vectors").count() == n0  # no duplicate corpus
    other = _vecs(spark, [(5, C), (6, B), (7, A), (8, B2)])
    with pytest.raises(ValueError, match="different artifacts"):
        SemanticDedupIndex.bootstrap(
            spark, path, other, n_centroids=2, threshold=0.9
        )
    assert idx._store.read("vectors").count() == n0


def test_split_batches_equal_one_shot(spark, tmp_path):
    corpus = _vecs(spark, [(0, A)])
    incoming = [
        (10, A2),  # dups corpus -> dropped
        (11, B),   # new -> kept
        (12, B2),  # dups lower-id 11 -> dropped
        (13, C),   # new -> kept
    ]

    def run(batches):
        idx = SemanticDedupIndex.bootstrap(
            spark,
            str(tmp_path / f"s{len(batches)}_{batches[0][0][0]}"),
            corpus,
            n_centroids=1,
            threshold=0.9,
        )
        got = set()
        for b in batches:
            got |= {
                r["vec_id"] for r in idx.ingest(_vecs(spark, b)).collect()
            }
        return got

    one_shot = run([incoming])
    split = run([incoming[:2], incoming[2:]])
    assert one_shot == split == {11, 13}


def test_replayed_ingest_returns_same_survivors(spark, tmp_path):
    idx = SemanticDedupIndex.bootstrap(
        spark, str(tmp_path / "sem"), _vecs(spark, [(0, A)]),
        n_centroids=1, threshold=0.9,
    )
    batch = _vecs(spark, [(10, A2), (11, B), (12, B2)])
    first = {r["vec_id"] for r in idx.ingest(batch).collect()}
    assert first == {11}
    # replay: the batch's own vectors are already appended — without the
    # probe's anti-join every vector would self-match at cosine 1.0
    replay = {r["vec_id"] for r in idx.ingest(batch).collect()}
    assert replay == first


def test_probe_reads_only_touched_clusters(spark, tmp_path):
    # corpus spans 4 orthogonal clusters; the probe batch sits in ONE
    dims = 8
    def unit(d):
        v = [0.0] * dims
        v[d] = 1.0
        return v

    corpus = _vecs(
        spark,
        [(i, unit(i % 4)) for i in range(4)]
        + [(100 + i, [x * 0.9 for x in unit(i % 4)]) for i in range(40)],
    )
    idx = SemanticDedupIndex.bootstrap(
        spark, str(tmp_path / "sem"), corpus,
        n_centroids=4, threshold=0.95, n_buckets=16,
    )
    probe = idx._assigned(_vecs(spark, [(999, unit(2))]))
    stored = idx._store.read_keys("vectors", probe.select("centroid_id"))
    files = stored.inputFiles()
    buckets = {f.split("__bucket=")[1].split("/")[0] for f in files}
    manifest = (
        idx._store._manifest(idx._store.current_version()) or {}
    ).get("vectors")
    assert len(buckets) == 1 < len(manifest)


# --- tombstone / upsert contract (round 7) ------------------------------------------


@pytest.mark.parametrize("n_buckets", [64, 256])
def test_delete_makes_vector_stop_matching(spark, tmp_path, n_buckets):
    """A retracted vector must stop gating probes at BOTH layouts; the
    tombstone lands in the OLD cluster bucket via the ids-relation
    lookup, so pruned reads see it."""
    path = str(tmp_path / f"sdel{n_buckets}")
    corpus = _vecs(spark, [(0, A), (1, B)])
    idx = SemanticDedupIndex.bootstrap(
        spark, path, corpus, n_centroids=2, threshold=0.9,
        n_buckets=n_buckets,
    )
    idx.delete(spark.createDataFrame([(0,)], "vec_id long"), seq=2)
    kept = idx.ingest(_vecs(spark, [(10, A2), (11, B2)]), seq=3)
    # A2 matched only the deleted 0 -> survives; B2 dies on live 1
    assert {r["vec_id"] for r in kept.collect()} == {10}


def test_delete_then_reingest_is_upsert_semantic(spark, tmp_path):
    """delete + re-ingest with a new embedding: the NEW vector gates
    (possibly in a DIFFERENT cluster), the old one stays dead."""
    path = str(tmp_path / "sups")
    corpus = _vecs(spark, [(0, A), (1, B)])
    idx = SemanticDedupIndex.bootstrap(
        spark, path, corpus, n_centroids=2, threshold=0.9
    )
    idx.delete(spark.createDataFrame([(0,)], "vec_id long"), seq=2)
    # re-ingest id 0 pointing in C's direction (assigns to B's cluster
    # or wherever argmax lands — the point is the OLD cluster rows die)
    assert idx.ingest(_vecs(spark, [(0, C)]), seq=3).count() == 1
    kept = idx.ingest(_vecs(spark, [(10, A2), (11, C)]), seq=4)
    # A2: old version of 0 is dead -> survives; 11 dies on new 0 (=C)
    assert {r["vec_id"] for r in kept.collect()} == {10}


def test_semantic_delete_idempotent_and_compact_reclaims(spark, tmp_path):
    path = str(tmp_path / "sidem")
    corpus = _vecs(spark, [(0, A), (1, B)])
    idx = SemanticDedupIndex.bootstrap(
        spark, path, corpus, n_centroids=2, threshold=0.9
    )
    ids = spark.createDataFrame([(0,)], "vec_id long")
    idx.delete(ids, seq=2, epoch="d1")
    idx.delete(ids, seq=2, epoch="d1")  # replay: one tombstone
    assert idx._store.read("vectors").filter(~F.col("live")).count() == 1
    # deleting an unknown id is a no-op
    idx.delete(spark.createDataFrame([(99,)], "vec_id long"), seq=3)
    assert idx._store.read("vectors").filter(~F.col("live")).count() == 1
    batch = _vecs(spark, [(10, A2), (11, B2)])
    k1 = {r["vec_id"] for r in idx.ingest(batch, epoch="e1", seq=4).collect()}
    k2 = {r["vec_id"] for r in idx.ingest(batch, epoch="e1", seq=4).collect()}
    assert k1 == k2 == {10}
    idx.compact()
    vec = idx._store.read("vectors")
    assert vec.filter(~F.col("live")).count() == 0
    assert vec.filter(F.col("vec_id") == 0).count() == 0
    assert idx._store.read("ids").filter(F.col("vec_id") == 0).count() == 0
    # post-compact gate still exact
    kept = idx.ingest(_vecs(spark, [(20, B2), (21, C)]), seq=5)
    assert {r["vec_id"] for r in kept.collect()} == {21}


def test_pre_versioned_layout_refuses_to_open(spark, tmp_path):
    """A semantic index persisted under the r6 unversioned layout (meta
    without a format field) must refuse to open rather than mix row
    schemas and drop pre-upgrade rows from the gate."""
    import json
    import os

    path = str(tmp_path / "old_sem")
    os.makedirs(path)
    with open(os.path.join(path, "_centroids.json"), "w") as fh:
        json.dump({"threshold": 0.4, "centroids": [[1.0, 0.0, 0.0, 0.0]]}, fh)
    with pytest.raises(ValueError, match="on-disk format"):
        SemanticDedupIndex(spark, path)


def test_merge_gates_like_union_index(spark, tmp_path):
    """Two semantic-dedup shards on disjoint corpus halves, merged,
    must gate incoming vectors exactly like one index built on the
    union; shard tombstones keep killing; artifact mismatch refuses."""
    from iheardai_data_pipeline_spark.operators.semantic_index import (
        SemanticDedupIndex,
    )

    def unit(d, scale=1.0):
        v = [0.0] * 8
        v[d] = scale
        return v

    schema = "vec_id long, embedding array<float>"
    import os as _os
    import shutil

    half_a = spark.createDataFrame([(100 + d, unit(d)) for d in (0, 1)], schema)
    half_b = spark.createDataFrame([(102 + d, unit(2 + d)) for d in (0, 1)], schema)
    corpus = half_a.unionByName(half_b)
    # both shards must pin the SAME centroid artifact for a merge to be
    # legal — mint it once from the union, then copy to each shard path
    SemanticDedupIndex.bootstrap(
        spark, str(tmp_path / "s_cent"), corpus, n_centroids=4, threshold=0.4
    )

    def shard(name, batch):
        path = str(tmp_path / name)
        _os.makedirs(path)
        shutil.copy(
            _os.path.join(str(tmp_path / "s_cent"), "_centroids.json"),
            _os.path.join(path, "_centroids.json"),
        )
        idx = SemanticDedupIndex(spark, path, threshold=0.4)
        idx.append(batch)
        return idx

    a = shard("sh_a", half_a)
    b = shard("sh_b", half_b)
    # shard B deletes one of its vectors (tombstone must propagate)
    b.append(spark.createDataFrame([(200, unit(5))], schema))
    b.delete(spark.createDataFrame([(200,)], "vec_id long"), seq=5)
    a.merge(b, epoch="m1")
    a.merge(b, epoch="m1")  # replayed merge must no-op
    assert a._has_tombstones
    incoming = spark.createDataFrame(
        [
            (1, unit(0, 0.9)),  # dup of shard A content -> dropped
            (2, unit(3, 0.8)),  # dup of shard B content -> dropped
            (3, unit(5, 0.7)),  # dup of B's DELETED vector -> kept
            (4, unit(6)),       # fresh -> kept
        ],
        schema,
    )
    got = {r["vec_id"] for r in a.ingest(incoming).collect()}
    assert got == {3, 4}
    # mismatched threshold refuses
    c = SemanticDedupIndex.bootstrap(
        spark, str(tmp_path / "s_c"), corpus, n_centroids=4, threshold=0.5
    )
    with pytest.raises(ValueError, match="artifact pair"):
        a.merge(c)

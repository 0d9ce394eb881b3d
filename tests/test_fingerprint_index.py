"""FingerprintIndex: split-batch ingest must reproduce the one-shot
incremental_dedup answer, the incrementally-maintained Bloom bits must
be bit-equal a one-shot build over all stored fingerprints, probes must
be bucket-pruned, and replays must be result-idempotent. The corpus-
scale oracle equivalence runs in test_catalog_oracle
(x_dedup_indexed_exact at sf0.01)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.operators.dedup import incremental_dedup
from iheardai_data_pipeline_spark.operators.fingerprint_index import (
    FingerprintIndex,
)
from iheardai_data_pipeline_spark.operators.text import fingerprint_md5


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _corpus_rows():
    return [(i, f"corpus doc {i % 15}") for i in range(30)]


def _incoming_rows():
    # overlaps corpus fps, intra- and cross-batch dupes, fresh docs
    return (
        [(100 + i, f"corpus doc {i % 25}") for i in range(50)]
        + [(200, "fresh alpha"), (201, "fresh alpha"), (202, "fresh beta")]
        + [(300, "fresh alpha"), (301, "fresh gamma")]  # lands in batch 2
    )


def _split(rows, cut):
    return (
        [r for r in rows if r[0] < cut],
        [r for r in rows if r[0] >= cut],
    )


def _one_shot(spark, corpus_rows, incoming_rows):
    corpus = (
        _docs(spark, corpus_rows)
        .select(fingerprint_md5(F.col("text")).alias("fingerprint"))
        .distinct()
    )
    return sorted(
        tuple(r)
        for r in incremental_dedup(_docs(spark, incoming_rows), corpus)
        .select("doc_id", "fingerprint")
        .collect()
    )


@pytest.mark.parametrize("n_buckets", [None, 256])
def test_split_batches_equal_one_shot(spark, tmp_path, n_buckets):
    idx = FingerprintIndex(
        spark, str(tmp_path / f"fpi{n_buckets}"), n_buckets=n_buckets
    )
    idx.append(_docs(spark, _corpus_rows()))
    b1, b2 = _split(_incoming_rows(), 250)
    got = []
    for rows in (b1, b2):
        kept = idx.ingest(_docs(spark, rows)).select("doc_id", "fingerprint")
        got.extend(tuple(r) for r in kept.collect())
    assert sorted(got) == _one_shot(spark, _corpus_rows(), _incoming_rows())


def test_bloom_bits_bit_equal_one_shot_build(spark, tmp_path):
    """After split ingests, the persisted bit relation (distinct) must
    equal bloom_build over ALL stored fingerprints in one shot — the
    union+distinct merge algebra, and the words() packing of it."""
    from iheardai_data_pipeline_spark.operators.sketch import (
        bloom_build,
        bloom_pack_words,
    )

    idx = FingerprintIndex(spark, str(tmp_path / "fpb"))
    idx.append(_docs(spark, _corpus_rows()))
    b1, b2 = _split(_incoming_rows(), 250)
    idx.ingest(_docs(spark, b1))
    idx.ingest(_docs(spark, b2))
    stored_bits = sorted(
        r["bit"]
        for r in idx._store.read("bloom_bits").select("bit").dropDuplicates(["bit"]).collect()
    )
    fps = idx._store.read("fingerprints").select("fingerprint").distinct()
    one_shot_bits = sorted(
        r["bit"] for r in bloom_build(fps, "fingerprint", m=4096, k=6).collect()
    )
    assert stored_bits == one_shot_bits
    want_words = {
        int(r["word_idx"]): int(r["word"])
        for r in bloom_pack_words(
            bloom_build(fps, "fingerprint", m=4096, k=6), 4096
        ).collect()
    }
    got = idx.words()
    assert all(got[i] == want_words.get(i, 0) for i in range(len(got)))
    # a cold reopen folds the same words from disk
    idx2 = FingerprintIndex(spark, str(tmp_path / "fpb"))
    assert idx2.words() == got


def test_replayed_ingest_returns_same_survivors(spark, tmp_path):
    idx = FingerprintIndex(spark, str(tmp_path / "fpr"))
    idx.append(_docs(spark, _corpus_rows()))
    b1, _ = _split(_incoming_rows(), 250)
    first = sorted(
        tuple(r)
        for r in idx.ingest(_docs(spark, b1), epoch="e1")
        .select("doc_id", "fingerprint")
        .collect()
    )
    replay = sorted(
        tuple(r)
        for r in idx.ingest(_docs(spark, b1), epoch="e1")
        .select("doc_id", "fingerprint")
        .collect()
    )
    assert replay == first  # replay guard: no self-match wipeout
    # epoch guard: no duplicate physical rows either
    n = idx._store.read("fingerprints").count()
    idx.compact()
    assert idx._store.read("fingerprints").count() == n


def test_probe_is_bucket_pruned(spark, tmp_path):
    idx = FingerprintIndex(spark, str(tmp_path / "fpp"), n_buckets=256)
    assert idx._store.prunes_probes
    idx.append(_docs(spark, _corpus_rows()))
    # one suspect fingerprint -> the anti-join's store read must touch
    # only that fingerprint's bucket
    batch = _docs(spark, [(500, "corpus doc 3"), (501, "never seen zz")])
    kept = idx.ingest(batch)
    assert [r["doc_id"] for r in kept.select("doc_id").collect()] == [501]


def test_null_text_rows_pass_through_per_batch(spark, tmp_path):
    idx = FingerprintIndex(spark, str(tmp_path / "fpn"))
    idx.append(_docs(spark, _corpus_rows()))
    kept1 = idx.ingest(_docs(spark, [(900, None), (901, None), (902, "fresh x")]))
    assert sorted(r["doc_id"] for r in kept1.collect()) == [900, 902]
    # nulls are not indexed: the next batch's null row survives again
    kept2 = idx.ingest(_docs(spark, [(910, None)]))
    assert [r["doc_id"] for r in kept2.collect()] == [910]
    assert (
        idx._store.read("fingerprints")
        .where(F.col("fingerprint").isNull())
        .count()
        == 0
    )


def test_layout_mismatch_refuses_to_open(spark, tmp_path):
    FingerprintIndex(spark, str(tmp_path / "fpm"), m=4096, k=6)
    with pytest.raises(ValueError, match="one Bloom layout"):
        FingerprintIndex(spark, str(tmp_path / "fpm"), m=8192, k=6)


def test_words_cache_refreshes_on_foreign_commit(spark, tmp_path):
    """Two writers on one index: instance A's driver-cached Bloom words
    must re-fold when instance B's commit advances the store version —
    a stale prefilter would flag B's fingerprints 'definitely absent',
    skip the anti-join, and admit a duplicate (the r8 staleness hole)."""
    path = str(tmp_path / "fpw")
    a = FingerprintIndex(spark, path)
    a.ingest(_docs(spark, [(1, "alpha doc")]))
    assert a._words is not None  # own append keeps the cache warm
    b = FingerprintIndex(spark, path)
    b.append(_docs(spark, [(2, "beta doc")]))
    # A must now dedup against B's commit, not its stale cache
    out = a.ingest(_docs(spark, [(3, "beta doc")]))
    assert out.count() == 0
    assert a._words_version == a._store.current_version()


def test_words_cache_stays_warm_single_writer(spark, tmp_path):
    """The single-writer fast path: consecutive ingests OR-update the
    cached words in place (version stamp tracks each own commit), never
    re-folding from the store."""
    idx = FingerprintIndex(spark, str(tmp_path / "fps1"))
    idx.ingest(_docs(spark, [(1, "one")]))
    v1 = idx._words_version
    idx.ingest(_docs(spark, [(2, "two")]))
    assert idx._words is not None
    assert idx._words_version == v1 + 1 == idx._store.current_version()


def test_merge_gate_equals_single_index(spark, tmp_path):
    """Two shards built on disjoint corpus halves, merged, must gate an
    incoming batch EXACTLY like one index that indexed the whole
    corpus — and like the one-shot incremental answer. A lost
    fingerprint admits a duplicate; a lost Bloom bit only unprunes
    (no false negatives), so the survivor comparison catches the
    former and the bit comparison below the latter."""
    from iheardai_data_pipeline_spark.operators.sketch import bloom_build

    rows = _corpus_rows()
    half_a = [r for r in rows if r[0] % 2 == 0]
    half_b = [r for r in rows if r[0] % 2 == 1]
    a = FingerprintIndex(spark, str(tmp_path / "mrg_a"))
    a.append(_docs(spark, half_a))
    b = FingerprintIndex(spark, str(tmp_path / "mrg_b"))
    b.append(_docs(spark, half_b))
    a.merge(b, epoch="m1")
    a.merge(b, epoch="m1")  # replayed merge: no duplicate state
    got = sorted(
        tuple(r)
        for r in a.ingest(_docs(spark, _incoming_rows()))
        .select("doc_id", "fingerprint")
        .collect()
    )
    assert got == _one_shot(spark, rows, _incoming_rows())
    # merged bits == one-shot build over all stored fingerprints
    stored = a._store.read("bloom_bits").select("bit").dropDuplicates(["bit"])
    one_shot = bloom_build(
        a._store.read("fingerprints").select("fingerprint").distinct(),
        "fingerprint",
        m=a.m,
        k=a.k,
    )
    assert (
        stored.exceptAll(one_shot).count()
        + one_shot.exceptAll(stored).count()
        == 0
    )


def test_merge_refuses_mismatched_bloom_layout(spark, tmp_path):
    a = FingerprintIndex(spark, str(tmp_path / "lay_a"), m=4096, k=6)
    b = FingerprintIndex(spark, str(tmp_path / "lay_b"), m=2048, k=6)
    b.append(_docs(spark, [(1, "x")]))
    with pytest.raises(ValueError, match="OR-comparable"):
        a.merge(b)


def test_merge_invalidates_words_cache(spark, tmp_path):
    """After a merge, the driver bitmap must include the shard's bits
    — the cache is dropped and the next words() re-folds, so a
    post-merge ingest classifies shard-B contents as maybe-present."""
    a = FingerprintIndex(spark, str(tmp_path / "wc_a"))
    a.append(_docs(spark, [(1, "alpha")]))
    _ = a.words()  # warm the cache pre-merge
    b = FingerprintIndex(spark, str(tmp_path / "wc_b"))
    b.append(_docs(spark, [(2, "bravo")]))
    a.merge(b)
    kept = a.ingest(_docs(spark, [(10, "bravo"), (11, "charlie")]))
    assert [r["doc_id"] for r in kept.select("doc_id").collect()] == [11]

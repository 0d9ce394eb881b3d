"""PersistentAnnIndex: row-identity with the in-memory ivfpq_search,
incremental append serving, bucket-pruned probes, and replay safety.
The corpus-scale recall gate runs in test_catalog_oracle
(x_sim_index_topk at sf0.01)."""

from __future__ import annotations

from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.operators import pq
from iheardai_data_pipeline_spark.operators.ann_index import PersistentAnnIndex
from iheardai_data_pipeline_spark.operators.similarity import _collect_centroids

DIMS = 8


def _vecs(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )


def _unit(d, scale=1.0):
    v = [0.0] * DIMS
    v[d] = scale
    return v


def _corpus(spark):
    # 4 orthogonal directions, 10 jittered members each
    rows = [
        (100 * d + j, [x * (1.0 - 0.01 * j) + (0.001 * j if i == (d + 1) % DIMS else 0.0)
                       for i, x in enumerate(_unit(d))])
        for d in range(4)
        for j in range(10)
    ]
    return _vecs(spark, rows)


def _artifacts(spark, corpus, n_centroids=4):
    norm = pq.normalize_rows(corpus)
    cents = [
        v for _, v in _collect_centroids(norm, n_centroids, "vec_id", "embedding", "first")
    ]
    books = pq.pq_train(norm, m=2, k=4, iters=1, allow_fewer=True)
    return cents, books


def test_topk_matches_inmemory_exactly(spark, tmp_path):
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "ann"), corpus, centroids=cents, books=books
    )
    q = _unit(2)
    got = idx.topk(q, k=5, nprobe=2, shortlist=20, exclude_id=200).collect()
    ref = pq.ivfpq_search(
        corpus, q, k=5, n_centroids=4, nprobe=2, shortlist=20,
        exclude_id=200, centroids=cents, books=books,
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]


def test_append_then_topk_sees_new_vectors(spark, tmp_path):
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "ann2"), corpus, centroids=cents, books=books
    )
    # off-axis query: no corpus member sits exactly on it
    q = [0.0, 1.0, 0.3, 0.0, 0.0, 0.0, 0.0, 0.0]
    # shortlist must out-size the coarse 2x4 PQ code ties (ties cut
    # by id, and 9999 is the largest id) so the EXACT re-rank decides
    before = idx.topk(q, k=1, nprobe=1, shortlist=20).collect()
    assert before[0]["vec_id"] != 9999
    # a new vector exactly on the query direction serves immediately
    idx.append(_vecs(spark, [(9999, q)]))
    after = idx.topk(q, k=1, nprobe=1, shortlist=20).collect()
    assert after[0]["vec_id"] == 9999
    # reopen: artifacts and state persist
    idx2 = PersistentAnnIndex(spark, str(tmp_path / "ann2"))
    assert idx2.centroids == idx.centroids
    assert idx2.topk(q, k=1, nprobe=1, shortlist=20).collect()[0]["vec_id"] == 9999


def test_topk_reads_only_probed_buckets(spark, tmp_path):
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "ann3"), corpus,
        centroids=cents, books=books, n_buckets=256,
    )
    assert idx._store.prunes_probes
    probe_ids = idx._probe_ids([float(x) for x in _unit(3)], 1)
    for rel in ("codes", "vectors"):
        rows = idx._read_probed(rel, probe_ids)
        buckets = {
            f.split("__bucket=")[1].split("/")[0] for f in rows.inputFiles()
        }
        manifest = (
            idx._store._manifest(idx._store.current_version()) or {}
        ).get(rel)
        # one probed cluster -> at most one of the 4 populated buckets
        assert len(buckets) == 1 < len(manifest)
    # and the pruned serve is still correct end-to-end
    got = idx.topk(_unit(3), k=3, nprobe=1, shortlist=10).collect()
    assert all(300 <= r["vec_id"] < 400 for r in got)


def test_append_epoch_idempotent_and_compact(spark, tmp_path):
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "ann4"), corpus, centroids=cents, books=books
    )
    batch = _vecs(spark, [(5000, _unit(0, 0.5))])
    idx.append(batch, epoch="e1")
    idx.append(batch, epoch="e1")  # replay: no duplicate rows
    n = idx._store.read("codes").filter(F.col("vec_id") == 5000).count()
    assert n == 1
    # un-epoched replay duplicates physically; compact() reclaims
    idx.append(batch)
    assert idx._store.read("codes").filter(F.col("vec_id") == 5000).count() == 2
    idx.compact()
    assert idx._store.read("codes").filter(F.col("vec_id") == 5000).count() == 1
    assert idx._store.read("vectors").filter(F.col("vec_id") == 5000).count() == 1


def test_topk_batch_row_identical_to_per_query_loop(spark, tmp_path):
    """The batch serve must be a pure distribution of the per-query
    path: for a frame of queries, (query_id, vec_id, l2_dist) rows
    equal each query's own topk() output — including the normalize,
    centroid-ranking, ADC and re-rank arithmetic and every tie-break.
    exclude_self=True must equal per-query exclude_id=query_id."""
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "annb"), corpus, centroids=cents, books=books
    )
    qrows = [
        (0, _unit(0)),
        (1, [0.0, 1.0, 0.3, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (2, _unit(2, 0.25)),
        (107, [x * 0.99 for x in _unit(1)]),
    ]
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in qrows],
        "query_id long, embedding array<float>",
    )
    got = sorted(
        tuple(r)
        for r in idx.topk_batch(queries, k=5, nprobe=2, shortlist=20).collect()
    )
    want = sorted(
        (qid, r["vec_id"], r["l2_dist"])
        for qid, qv in qrows
        for r in idx.topk(qv, k=5, nprobe=2, shortlist=20).collect()
    )
    assert got == want
    # exclude_self == per-query exclude_id=query_id
    got_x = sorted(
        tuple(r)
        for r in idx.topk_batch(
            queries, k=5, nprobe=2, shortlist=20, exclude_self=True
        ).collect()
    )
    want_x = sorted(
        (qid, r["vec_id"], r["l2_dist"])
        for qid, qv in qrows
        for r in idx.topk(
            qv, k=5, nprobe=2, shortlist=20, exclude_id=qid
        ).collect()
    )
    assert got_x == want_x


def test_topk_batch_excludes_null_and_zero_queries(spark, tmp_path):
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "annz"), corpus, centroids=cents, books=books
    )
    queries = spark.createDataFrame(
        [(0, [float(x) for x in _unit(0)]), (1, None), (2, [0.0] * DIMS)],
        "query_id long, embedding array<float>",
    )
    out = idx.topk_batch(queries, k=3, nprobe=1, shortlist=10).collect()
    assert {r["query_id"] for r in out} == {0}


def test_topk_batch_probes_buckets_not_whole_store(spark, tmp_path):
    """The codes side of the batch join must read ONLY the batch's
    probed clusters' buckets (pruned layout) — never the whole store."""
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "annp"), corpus,
        centroids=cents, books=books, n_buckets=256,
    )
    assert idx._store.prunes_probes
    queries = spark.createDataFrame(
        [(0, [float(x) for x in _unit(3)])],
        "query_id long, embedding array<float>",
    )
    out = idx.topk_batch(queries, k=3, nprobe=1, shortlist=10)
    buckets = {
        f.split("__bucket=")[1].split("/")[0]
        for f in out.inputFiles()
        if "__bucket=" in f
    }
    manifest = (idx._store._manifest(idx._store.current_version()) or {}).get(
        "codes"
    )
    # one probed cluster -> codes+vectors buckets of that cluster only
    assert len(buckets) == 1 < len(manifest)
    got = out.collect()
    assert got and all(300 <= r["vec_id"] < 400 for r in got)


def test_delete_makes_vector_stop_serving_and_upsert(spark, tmp_path):
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "annd"), corpus, centroids=cents, books=books
    )
    q = [0.0, 1.0, 0.3, 0.0, 0.0, 0.0, 0.0, 0.0]
    idx.append(_vecs(spark, [(9999, q)]), seq=1)
    assert idx.topk(q, k=1, nprobe=1, shortlist=20).collect()[0]["vec_id"] == 9999
    ids = spark.createDataFrame([(9999,)], "vec_id long")
    idx.delete(ids, seq=2)
    top = idx.topk(q, k=1, nprobe=1, shortlist=20).collect()
    assert top[0]["vec_id"] != 9999
    # batch path honors the tombstone too
    queries = spark.createDataFrame(
        [(0, [float(x) for x in q])], "query_id long, embedding array<float>"
    )
    bt = idx.topk_batch(queries, k=1, nprobe=1, shortlist=20).collect()
    assert bt[0]["vec_id"] != 9999
    # delete + re-append with a higher seq = the upsert path
    idx.append(_vecs(spark, [(9999, q)]), seq=3)
    assert idx.topk(q, k=1, nprobe=1, shortlist=20).collect()[0]["vec_id"] == 9999
    # compact reclaims superseded + tombstoned rows, serve unchanged
    idx.compact()
    assert (
        idx._store.read("vectors").filter(F.col("vec_id") == 9999).count() == 1
    )
    assert idx.topk(q, k=1, nprobe=1, shortlist=20).collect()[0]["vec_id"] == 9999


def test_delete_unknown_id_noop_and_deleting_all_starves(spark, tmp_path):
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "anndu"), corpus, centroids=cents, books=books
    )
    idx.delete(spark.createDataFrame([(123456,)], "vec_id long"), seq=1)
    got = idx.topk(_unit(3), k=3, nprobe=1, shortlist=10).collect()
    assert len(got) == 3


def test_bootstrap_race_loser_appends_nothing_extra(spark, tmp_path):
    """A second bootstrap with IDENTICAL artifacts (crash-retry / race
    loser) must not duplicate the corpus: the bootstrap append is
    epoch-guarded. Different artifacts must raise — never append a
    corpus encoded against codebooks the index was not built with."""
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    path = str(tmp_path / "annr")
    idx = PersistentAnnIndex.bootstrap(
        spark, path, corpus, centroids=cents, books=books
    )
    n0 = idx._store.read("codes").count()
    idx2 = PersistentAnnIndex.bootstrap(
        spark, path, corpus, centroids=cents, books=books
    )
    assert idx2._store.read("codes").count() == n0  # no duplicate corpus
    other_cents = [[float(i == d) for i in range(DIMS)] for d in range(4)]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different artifacts"):
        PersistentAnnIndex.bootstrap(
            spark, path, corpus, centroids=other_cents, books=books
        )


def test_pre_versioned_layout_refuses_to_open(spark, tmp_path):
    import json
    import os

    path = str(tmp_path / "annold")
    os.makedirs(path)
    with open(os.path.join(path, "_ann_meta.json"), "w") as fh:
        json.dump({"centroids": [[1.0, 0.0]], "books": [[[0.0]]]}, fh)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="on-disk format"):
        PersistentAnnIndex(spark, path)


def test_topk_batch_plan_flat_at_10k_queries(spark, tmp_path):
    """The design claim behind batch serving (r8), pinned as a plan
    property: the SHAPE of topk_batch's physical plan — its shuffle
    count in particular — is IDENTICAL for 4 queries and for 10,000,
    because every per-query quantity (centroid ranking, the ADC lookup
    table) is a row-local expression against one broadcast artifact
    row and ranking happens in query-keyed windows. Nothing loops on
    the driver, nothing plans per query; and the store read stays
    bounded by the probed CLUSTER count (<= n_centroids buckets), not
    the query count."""

    def _exchanges(df) -> int:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return plan.count(") Exchange")

    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "ann10k"), corpus,
        centroids=cents, books=books, n_buckets=256,
    )
    small = spark.createDataFrame(
        [(i, [float(x) for x in _unit(i % 4)]) for i in range(4)],
        "query_id long, embedding array<float>",
    )
    # 10k queries built DISTRIBUTED (range + column exprs), never a
    # driver-side list — the shape a real serving batch arrives in
    big = spark.range(10_000).select(
        F.col("id").alias("query_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIMS - 1)),
            lambda d: F.when(d == F.col("id") % 4, F.lit(1.0))
            .otherwise(F.lit(0.0))
            .cast("float"),
        ).alias("embedding"),
    )
    plan_small = idx.topk_batch(small, k=3, nprobe=2, shortlist=20)
    plan_big = idx.topk_batch(big, k=3, nprobe=2, shortlist=20)
    n_small, n_big = _exchanges(plan_small), _exchanges(plan_big)
    assert n_big == n_small, (
        f"shuffle count grew with query count: {n_small} -> {n_big}"
    )
    # the codes/vectors reads stay bounded by probed clusters, never
    # fan out with queries: 10k queries over 4 distinct directions
    # probe <= nprobe * 4 clusters' buckets
    buckets = {
        f.split("__bucket=")[1].split("/")[0]
        for f in plan_big.inputFiles()
        if "__bucket=" in f
    }
    assert 0 < len(buckets) <= 2 * 4
    # and it actually executes at 10k: k rows per query, every query
    out_counts = (
        plan_big.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("queries"),
            F.min("n").alias("lo"),
            F.max("n").alias("hi"),
        )
        .collect()[0]
    )
    assert out_counts["queries"] == 10_000
    assert out_counts["lo"] == out_counts["hi"] == 3


def test_topk_filtered_search(spark, tmp_path):
    """allowed= restricts the serve to a metadata-selected subset with
    PRE-filter semantics: every hit qualifies, the shortlist is spent
    on qualifying vectors only, and at nprobe=all the result equals
    the exact brute-force top-k over the filtered subset."""
    from iheardai_data_pipeline_spark.operators import pq
    from iheardai_data_pipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "annf"), corpus, centroids=cents, books=books
    )
    allowed = corpus.where(F.col("vec_id") % 2 == 1).select("vec_id")
    qv = [float(x) for x in _unit(1)]
    got = idx.topk(
        qv, k=5, nprobe=len(cents), shortlist=10_000, allowed=allowed
    ).collect()
    assert got and all(r["vec_id"] % 2 == 1 for r in got)
    # nprobe = all lists + unbounded shortlist -> exact over the subset
    exact = cosine_topk_bruteforce(
        pq.normalize_rows(corpus.join(allowed, "vec_id", "left_semi")),
        qv,
        k=5,
    ).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in exact]
    # row-identical to the in-memory search on the PRE-filTERED frame
    inmem = pq.ivfpq_search(
        corpus.join(allowed, "vec_id", "left_semi"),
        qv, k=5, n_centroids=len(cents), nprobe=2, shortlist=20,
        seed_mode="first", centroids=cents, books=books,
    ).collect()
    got2 = idx.topk(qv, k=5, nprobe=2, shortlist=20, allowed=allowed).collect()
    assert [tuple(r) for r in got2] == [tuple(r) for r in inmem]


def test_property_serve_invariants_on_random_corpora(spark, tmp_path):
    """Property test (hypothesis): on RANDOM small corpora — arbitrary
    sizes, values, and query choices, not just the pinned testdata —
    the persistent serve holds its three contracts: (1) topk is
    row-identical to the in-memory ivfpq_search under the same
    artifacts, (2) filtered serving returns only allowed ids and
    equals ivfpq_search on the pre-filtered frame, (3) topk_batch is
    row-identical to a per-query loop. One index build per example
    (max_examples kept low — Spark-per-example is the documented
    hypothesis budget rule)."""
    import math as _math
    import shutil as _shutil
    import tempfile as _tempfile

    from hypothesis import example, given, settings
    from hypothesis import strategies as st

    from iheardai_data_pipeline_spark.operators import pq
    from iheardai_data_pipeline_spark.operators.similarity import (
        _collect_centroids,
    )

    DIM, M, KC, NC, NPROBE = 8, 4, 4, 4, 2

    def vec(seed, i):
        return [
            float(_math.sin(seed * 0.7 + i * 0.31 + d * 1.13))
            + 0.05 * ((i + d) % 3)
            for d in range(DIM)
        ]

    # the round-10 falsifying draw, pinned: hypothesis runs explicit
    # examples on EVERY invocation, so the dtype regression (float32-
    # rounded batch query vs float64 per-query loop crossing a
    # ROUND(x, 6) boundary) replays deterministically instead of only
    # when the 4 random draws happen to land on it
    @example(seed=3284, n=22, modulus=2)
    @settings(max_examples=4, deadline=None)
    @given(
        seed=st.integers(min_value=0, max_value=10_000),
        n=st.integers(min_value=2 * KC, max_value=48),
        modulus=st.sampled_from([2, 3]),
    )
    def check(seed, n, modulus):
        emb = spark.createDataFrame(
            [(i, vec(seed, i)) for i in range(n)],
            "vec_id long, embedding array<float>",
        )
        norm = pq.normalize_rows(emb)
        centroids = [
            v
            for _, v in _collect_centroids(
                norm, NC, "vec_id", "embedding", "first"
            )
        ]
        books = pq.pq_train(norm, m=M, k=KC, iters=1, allow_fewer=True)
        shortlist = max(5, n // 3)
        qid, qvec = 0, vec(seed, 0)
        root = _tempfile.mkdtemp(prefix="prop_ann_")
        try:
            idx = PersistentAnnIndex.bootstrap(
                spark, root, emb, centroids=centroids, books=books
            )
            got = idx.topk(
                qvec, k=5, nprobe=NPROBE, shortlist=shortlist, exclude_id=qid
            )
            want = pq.ivfpq_search(
                emb,
                qvec,
                k=5,
                n_centroids=NC,
                nprobe=NPROBE,
                m=M,
                k_codes=KC,
                shortlist=shortlist,
                exclude_id=qid,
                seed_mode="first",
                centroids=centroids,
                books=books,
            )
            assert (
                got.exceptAll(want).count() + want.exceptAll(got).count() == 0
            )
            # filtered: only allowed ids; equals in-memory on the subset
            allowed = emb.where(F.col("vec_id") % modulus == 1).select(
                "vec_id"
            )
            fgot = idx.topk(
                qvec,
                k=5,
                nprobe=NPROBE,
                shortlist=shortlist,
                exclude_id=qid,
                allowed=allowed,
            )
            assert (
                fgot.where(F.col("vec_id") % modulus != 1).count() == 0
            )
            fwant = pq.ivfpq_search(
                emb.join(allowed, "vec_id", "left_semi"),
                qvec,
                k=5,
                n_centroids=NC,
                nprobe=NPROBE,
                m=M,
                k_codes=KC,
                shortlist=shortlist,
                exclude_id=qid,
                seed_mode="first",
                centroids=centroids,
                books=books,
            )
            assert (
                fgot.exceptAll(fwant).count()
                + fwant.exceptAll(fgot).count()
                == 0
            )
            # batch == per-query loop (3 queries). The batch frame is
            # array<float>, which float32-rounds the query values before
            # the engine sees them; the per-query loop must receive the
            # SAME float32-rounded values or the ~1e-7 input delta can
            # cross a ROUND(x, 6) boundary and break exact equality
            # (hypothesis draw seed=3284/n=22/modulus=2 found exactly
            # that — a test dtype bug, not an engine divergence).
            import struct as _struct

            def f32(xs):
                return [
                    _struct.unpack("f", _struct.pack("f", x))[0] for x in xs
                ]

            qids = [0, n // 2, n - 1]
            queries = spark.createDataFrame(
                [(i, vec(seed, i)) for i in qids],
                "query_id long, embedding array<float>",
            )
            bgot = idx.topk_batch(
                queries,
                k=3,
                nprobe=NPROBE,
                shortlist=shortlist,
                exclude_self=True,
            )
            per = None
            for i in qids:
                one = idx.topk(
                    f32(vec(seed, i)),
                    k=3,
                    nprobe=NPROBE,
                    shortlist=shortlist,
                    exclude_id=i,
                ).select(
                    F.lit(i).cast("long").alias("query_id"),
                    "vec_id",
                    "l2_dist",
                )
                per = one if per is None else per.unionByName(one)
            assert (
                bgot.exceptAll(per).count() + per.exceptAll(bgot).count() == 0
            )
        finally:
            _shutil.rmtree(root, ignore_errors=True)

    check()


def test_topk_batch_filtered_equals_per_query_filtered(spark, tmp_path):
    """topk_batch(allowed=) == per-query topk(allowed=) row-for-row —
    the filter lands at the identical (post-tombstone, pre-ADC) point
    in both paths."""
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "annbf"), corpus, centroids=cents, books=books
    )
    allowed = corpus.where(F.col("vec_id") % 2 == 1).select("vec_id")
    qrows = [(0, _unit(0)), (1, _unit(1, 0.5)), (2, _unit(3))]
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in qrows],
        "query_id long, embedding array<float>",
    )
    got = sorted(
        tuple(r)
        for r in idx.topk_batch(
            queries, k=5, nprobe=2, shortlist=20, allowed=allowed
        ).collect()
    )
    want = sorted(
        (qid, r["vec_id"], r["l2_dist"])
        for qid, qv in qrows
        for r in idx.topk(
            qv, k=5, nprobe=2, shortlist=20, allowed=allowed
        ).collect()
    )
    assert got == want
    assert got and all(vid % 2 == 1 for _, vid, _ in got)


def _labels(corpus):
    # _corpus ids are 100*d + j — the hundreds digit is the "document"
    return corpus.select(
        "vec_id", (F.col("vec_id") / 100).cast("long").alias("label")
    )


def test_doc_topk_is_grouped_min_of_chunk_serve(spark, tmp_path):
    """doc_topk must be EXACTLY topk -> label join -> per-label MIN ->
    (best_l2, label) cut — no extra arithmetic, no re-ranking of its
    own. The MaxSim reduction: min L2 over unit vectors == max cosine."""
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "anndoc"), corpus, centroids=cents, books=books
    )
    labels = _labels(corpus)
    q = [0.0, 1.0, 0.3, 0.0, 0.0, 0.0, 0.0, 0.0]
    got = sorted(
        tuple(r)
        for r in idx.doc_topk(
            q, labels, k_docs=2, chunk_k=12, nprobe=2, shortlist=20
        ).collect()
    )
    chunks = idx.topk(q, k=12, nprobe=2, shortlist=20).collect()
    by_label: dict = {}
    for r in chunks:
        lab = r["vec_id"] // 100
        d = r["l2_dist"]
        by_label[lab] = min(by_label.get(lab, d), d)
    want = sorted(
        sorted(by_label.items(), key=lambda kv: (kv[1], kv[0]))[:2]
    )
    assert got == [(lab, d) for lab, d in want]
    assert len(got) == 2


def test_doc_topk_batch_row_identical_to_per_query_loop(spark, tmp_path):
    """doc_topk_batch == a per-query doc_topk loop row-for-row (same
    float32-rounded query values on both paths — the array<float>
    frame rule)."""
    import struct

    def f32(xs):
        return [struct.unpack("f", struct.pack("f", x))[0] for x in xs]

    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "anndb"), corpus, centroids=cents, books=books
    )
    labels = _labels(corpus)
    qrows = [
        (0, _unit(0)),
        (1, [0.0, 1.0, 0.3, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (107, [x * 0.99 for x in _unit(1)]),
    ]
    queries = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in qrows],
        "query_id long, embedding array<float>",
    )
    got = sorted(
        tuple(r)
        for r in idx.doc_topk_batch(
            queries,
            labels,
            k_docs=3,
            chunk_k=12,
            nprobe=2,
            shortlist=20,
            exclude_self=True,
        ).collect()
    )
    want = sorted(
        (qid, r["label"], r["best_l2"])
        for qid, qv in qrows
        for r in idx.doc_topk(
            f32(qv),
            labels,
            k_docs=3,
            chunk_k=12,
            nprobe=2,
            shortlist=20,
            exclude_id=qid,
        ).collect()
    )
    assert got == want
    assert got  # non-vacuous


def test_doc_topk_reads_only_probed_buckets(spark, tmp_path):
    """The doc-level serve must inherit topk's bucket pruning: at a
    pruned layout, the WHOLE doc_topk plan reads only the probed
    cluster's codes/vectors buckets — the label mapping adds no store
    scan (it is the in-memory corpus projection here; at scale it is
    a column-pruned source-table read, never an index read)."""
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    idx = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "anndp"), corpus,
        centroids=cents, books=books, n_buckets=256,
    )
    assert idx._store.prunes_probes
    out = idx.doc_topk(
        _unit(3), _labels(corpus), k_docs=2, chunk_k=6, nprobe=1,
        shortlist=10,
    )
    buckets = {
        f.split("__bucket=")[1].split("/")[0]
        for f in out.inputFiles()
        if "__bucket=" in f
    }
    manifest = (idx._store._manifest(idx._store.current_version()) or {}).get(
        "codes"
    )
    # one probed cluster -> that cluster's codes+vectors buckets only
    assert len(buckets) == 1 < len(manifest)
    got = out.collect()
    assert got and got[0]["label"] == 3


def test_merge_disjoint_shards_serve_like_union_build(spark, tmp_path):
    """merge() of two disjoint-corpus shards must serve row-identically
    to ONE index bootstrapped on the union — stamps carried verbatim,
    no row lost or rewritten in transit."""
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    half_a = corpus.where(F.col("vec_id") % 2 == 0)
    half_b = corpus.where(F.col("vec_id") % 2 == 1)
    a = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "mrg_a"), half_a, centroids=cents, books=books
    )
    b = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "mrg_b"), half_b, centroids=cents, books=books
    )
    a.merge(b, epoch="m1")
    a.merge(b, epoch="m1")  # replayed merge must no-op
    union = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "mrg_u"), corpus, centroids=cents, books=books
    )
    q = [0.0, 1.0, 0.3, 0.0, 0.0, 0.0, 0.0, 0.0]
    got = a.topk(q, k=8, nprobe=2, shortlist=20)
    want = union.topk(q, k=8, nprobe=2, shortlist=20)
    assert got.exceptAll(want).count() + want.exceptAll(got).count() == 0
    # replay really no-opped: one physical row per corpus id
    assert a._store.read("codes").count() == corpus.count()


def test_merge_carries_tombstones_and_lww_order(spark, tmp_path):
    """A shard's tombstones must keep killing after the merge (the
    flag propagates, stamps survive verbatim), and an id present in
    both shards resolves by GLOBAL seq order — greatest seq wins
    regardless of merge direction."""
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    a = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "lww_a"),
        corpus.where(F.col("vec_id") % 2 == 0), centroids=cents, books=books,
    )
    b = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "lww_b"),
        corpus.where(F.col("vec_id") % 2 == 1), centroids=cents, books=books,
    )
    # shard B: id 9000 appended at seq 1 on direction 1
    b.append(_vecs(spark, [(9000, _unit(1))]), seq=1)
    # shard A: id 9000 moved to direction 3 at seq 5 (the later write),
    # and id 300 deleted at seq 2
    a.append(_vecs(spark, [(9000, _unit(3))]), seq=5)
    a.delete(spark.createDataFrame([(300,)], "vec_id long"), seq=2)
    a.merge(b)
    assert a._has_tombstones
    # the deleted id never serves
    got = a.topk(_unit(3), k=40, nprobe=4, shortlist=60).collect()
    assert all(r["vec_id"] != 300 for r in got)
    # 9000 serves under shard A's LATER write (direction 3, not 1)
    top3 = a.topk(_unit(3), k=1, nprobe=2, shortlist=20).collect()
    assert top3[0]["vec_id"] == 9000
    top1 = a.topk(_unit(1), k=1, nprobe=2, shortlist=20).collect()
    assert top1[0]["vec_id"] != 9000


def test_merge_refuses_mismatched_artifacts(spark, tmp_path):
    corpus = _corpus(spark)
    cents, books = _artifacts(spark, corpus)
    cents2 = [list(reversed(c)) for c in cents]
    a = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "art_a"), corpus, centroids=cents, books=books
    )
    b = PersistentAnnIndex.bootstrap(
        spark, str(tmp_path / "art_b"), corpus, centroids=cents2, books=books
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different"):
        a.merge(b)

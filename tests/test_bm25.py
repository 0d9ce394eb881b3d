"""bm25_topk must equal an independently-coded pure-Python Okapi BM25
(same micro-unit floor discipline) — the catalog oracle replays the SQL
twin; this pins the operator against a THIRD implementation."""

from __future__ import annotations

import math

import pytest

from iheardai_data_pipeline_spark.operators.text import bm25_topk

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the lazy dog sleeps all day the dog"),
    (3, "quick quick quick brown foxes everywhere"),
    (4, "a completely unrelated document about spark shuffles"),
    (5, "dog"),
    (6, None),  # null text: excluded everywhere
    (7, "the the the the the"),
]

QUERIES = [
    (10, "quick dog"),
    (11, "spark shuffles"),
    (12, "the lazy lazy"),  # duplicate query term: counted once
    (13, "zzz_absent"),  # matches nothing -> no rows for this query
]


def _python_bm25(k, k1=1.2, b=0.75):
    docs = {i: t.split() for i, t in DOCS if t is not None}
    n = len(docs)
    avgdl = sum(len(ws) for ws in docs.values()) / float(n)
    df: dict = {}
    for ws in docs.values():
        for t in set(ws):
            df[t] = df.get(t, 0) + 1
    out = []
    for qid, qtext in QUERIES:
        scored = []
        for did, ws in docs.items():
            micro = 0
            n_terms = 0
            for t in set(qtext.split()):
                tf = ws.count(t)
                if tf == 0:
                    continue
                n_terms += 1
                idf = math.log(
                    1.0 + ((float(n) - df[t]) + 0.5) / (df[t] + 0.5)
                )
                contrib = idf * (
                    (tf * (k1 + 1.0))
                    / (tf + k1 * ((1.0 - b) + b * (len(ws) / avgdl)))
                )
                micro += math.floor(contrib * 1000000.0)
            if n_terms:
                scored.append((did, micro, n_terms))
        scored.sort(key=lambda x: (-x[1], x[0]))
        for rnk, (did, micro, n_terms) in enumerate(scored[:k], 1):
            out.append((qid, did, n_terms, micro, micro / 1000000.0, rnk))
    return sorted(out)


def test_bm25_matches_pure_python_reference(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    got = sorted(
        tuple(r) for r in bm25_topk(docs, queries, k=3).collect()
    )
    assert got == _python_bm25(k=3)


def test_bm25_absent_query_yields_no_rows(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(
        [(99, "zzz_absent qqq_nothing")], "query_id long, qtext string"
    )
    assert bm25_topk(docs, queries, k=3).count() == 0


def test_bm25_empty_corpus_yields_no_rows(spark):
    # ADVICE r11: an empty or all-NULL-text corpus used to crash on
    # float(None)/ZeroDivisionError before any result was built
    queries = spark.createDataFrame(
        [(10, "quick dog")], "query_id long, qtext string"
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_topk(empty, queries, k=3).count() == 0
    all_null = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, text string"
    )
    got = bm25_topk(all_null, queries, k=3)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == [
        "query_id", "doc_id", "n_terms", "score_micro", "score", "rnk",
    ]


def test_bm25_ties_break_doc_id_asc(spark):
    # identical single-term docs -> equal scores; rnk must follow doc_id
    docs = spark.createDataFrame(
        [(3, "alpha"), (1, "alpha"), (2, "alpha")], "doc_id long, text string"
    )
    queries = spark.createDataFrame(
        [(0, "alpha")], "query_id long, qtext string"
    )
    rows = bm25_topk(docs, queries, k=3).orderBy("rnk").collect()
    assert [r["doc_id"] for r in rows] == [1, 2, 3]
    assert len({r["score_micro"] for r in rows}) == 1


# --- exact phrase retrieval --------------------------------------------------


def _python_phrases(rows, queries, k):
    out = []
    for qid, qtext in queries:
        qws = qtext.split()
        scored = []
        for did, t in rows:
            if t is None:
                continue
            ws = t.split()
            n = sum(
                1
                for i in range(len(ws) - len(qws) + 1)
                if ws[i : i + len(qws)] == qws
            )
            if n:
                scored.append((did, n))
        scored.sort(key=lambda x: (-x[1], x[0]))
        for rnk, (did, n) in enumerate(scored[:k], 1):
            out.append((qid, did, n, rnk))
    return sorted(out)


PHRASE_DOCS = [
    (1, "a a a a"),  # overlapping matches for "a a a" -> 2
    (2, "the quick brown fox the quick brown fox"),
    (3, "quick brown quick brown quick"),
    (4, "brown fox"),
    (5, None),
    (6, "a b a b a"),
]

PHRASE_QS = [
    (0, "a a a"),
    (1, "quick brown"),
    (2, "brown fox"),
    (3, "a b a"),
    (4, "zzz_absent"),
]


def test_phrase_topk_matches_pure_python(spark):
    from iheardai_data_pipeline_spark.operators.text import phrase_topk

    docs = spark.createDataFrame(PHRASE_DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(
        PHRASE_QS, "query_id long, qtext string"
    )
    got = sorted(tuple(r) for r in phrase_topk(docs, queries, k=3).collect())
    assert got == _python_phrases(PHRASE_DOCS, PHRASE_QS, k=3)
    # the overlap edge really exercised: "a a a" occurs twice in doc 1
    assert (0, 1, 2, 1) in got


# --- RRF fusion ---------------------------------------------------------------


def test_rrf_fuse_matches_pure_python(spark):
    from iheardai_data_pipeline_spark.operators.retrieval import (
        RRF_K,
        RRF_SCALE,
        rrf_fuse,
    )

    lex = [(0, 1, 1), (0, 2, 2), (0, 3, 3), (1, 9, 1)]
    sem = [(0, 2, 1), (0, 4, 2), (1, 9, 2), (1, 8, 1)]
    schema = "query_id long, doc_id long, rnk long"
    got = sorted(
        tuple(r)
        for r in rrf_fuse(
            [
                spark.createDataFrame(lex, schema),
                spark.createDataFrame(sem, schema),
            ],
            k=3,
        ).collect()
    )
    scores: dict = {}
    for sys_rows in (lex, sem):
        for qid, did, rnk in sys_rows:
            mic, n = scores.get((qid, did), (0, 0))
            scores[(qid, did)] = (mic + RRF_SCALE // (RRF_K + rnk), n + 1)
    want = []
    for qid in {q for q, _, _ in lex + sem}:
        rows = sorted(
            (
                (did, mic, n)
                for (q, did), (mic, n) in scores.items()
                if q == qid
            ),
            key=lambda x: (-x[1], x[0]),
        )
        for rnk, (did, mic, n) in enumerate(rows[:3], 1):
            want.append((qid, did, mic, n, rnk))
    assert got == sorted(want)
    # doc 2 ranked by both systems -> n_systems == 2 and fused first
    assert (0, 2, RRF_SCALE // 62 + RRF_SCALE // 61, 2, 1) in got


def _python_bm25f(docs_rows, queries, weights, k=3, k1=1.2, b=0.75):
    """Independent pure-Python BM25F (third implementation): weighted
    milli tf fold, (x / 1000.0) re-entry into doubles, micro floor."""
    wm = {c: int(round(w * 1000)) for c, w in weights.items()}
    tf: dict = {}
    for did, title, body in docs_rows:
        for fname, val in (("title", title), ("body", body)):
            if val is None:
                continue
            for t in val.split():
                tf[(did, t)] = tf.get((did, t), 0) + wm[fname]
    dl: dict = {}
    for (did, _), m in tf.items():
        dl[did] = dl.get(did, 0) + m
    if not dl:
        return []
    n = len(dl)
    avgdl = (float(sum(dl.values())) / 1000.0) / float(n)
    df: dict = {}
    for (_, t) in tf:
        df[t] = df.get(t, 0) + 1
    out = []
    for qid, qtext in queries:
        terms = set(qtext.split())
        scored = []
        for did in dl:
            micro, n_terms = 0, 0
            for t in terms:
                m = tf.get((did, t))
                if not m:
                    continue
                n_terms += 1
                idf = math.log(
                    1.0 + ((float(n) - df[t]) + 0.5) / (df[t] + 0.5)
                )
                tfd, dld = m / 1000.0, dl[did] / 1000.0
                contrib = idf * (
                    (tfd * (k1 + 1.0))
                    / (tfd + k1 * ((1.0 - b) + b * (dld / avgdl)))
                )
                micro += math.floor(contrib * 1000000.0)
            if n_terms:
                scored.append((did, micro, n_terms))
        scored.sort(key=lambda x: (-x[1], x[0]))
        for rnk, (did, micro, n_terms) in enumerate(scored[:k], 1):
            out.append((qid, did, n_terms, micro, micro / 1000000.0, rnk))
    return sorted(out)


FIELD_DOCS = [
    (1, "quick fox", "the quick brown fox jumps over the lazy dog"),
    (2, "lazy dog report", "the lazy dog sleeps all day the dog"),
    (3, None, "quick quick quick brown foxes everywhere"),
    (4, "spark notes", None),
    (5, None, None),  # all fields null: excluded from N
]


def test_bm25f_matches_pure_python(spark):
    from iheardai_data_pipeline_spark.operators.text import bm25f_topk

    weights = {"title": 2.5, "body": 1.0}
    docs = spark.createDataFrame(
        FIELD_DOCS, "doc_id long, title string, body string"
    )
    qs = [(10, "quick dog"), (11, "spark notes"), (12, "the lazy lazy")]
    queries = spark.createDataFrame(qs, "query_id long, qtext string")
    got = sorted(
        tuple(r)
        for r in bm25f_topk(docs, queries, fields=weights, k=3).collect()
    )
    assert got == _python_bm25f(FIELD_DOCS, qs, weights, k=3)
    # title weighting really matters: doc 4 (title-only 'spark notes')
    # is present and scored from its weighted title stream
    assert any(q == 11 and d == 4 for q, d, *_ in got)
    with pytest.raises(ValueError, match="milli"):
        bm25f_topk(docs, queries, fields={"title": 1.00001}, k=3)


def test_convex_fuse_matches_pure_python(spark):
    """Weighted score-interpolation fusion (round 13) against an
    independently-coded pure-Python minmax + weighted sum — covers the
    degenerate all-tied leg (norm pinned to 1e6) and single-row legs."""
    from iheardai_data_pipeline_spark.operators.retrieval import convex_fuse

    lex = [(0, 1, 500), (0, 2, 900), (0, 3, 100), (1, 9, 7)]
    sem = [(0, 2, -5), (0, 4, -1), (1, 9, -3), (1, 8, -3)]
    schema = "query_id long, doc_id long, score_int long"
    got = sorted(
        tuple(r)
        for r in convex_fuse(
            [
                (spark.createDataFrame(lex, schema), 700),
                (spark.createDataFrame(sem, schema), 300),
            ],
            k=3,
        ).collect()
    )

    def norms(rows):
        by_q: dict = {}
        for q, d, s in rows:
            by_q.setdefault(q, []).append((d, s))
        out = {}
        for q, ds in by_q.items():
            ss = [s for _, s in ds]
            mn, mx = min(ss), max(ss)
            for d, s in ds:
                out[(q, d)] = (
                    1_000_000
                    if mx == mn
                    else ((s - mn) * 1_000_000) // (mx - mn)
                )
        return out

    fused: dict = {}
    for leg, w in ((norms(lex), 700), (norms(sem), 300)):
        for (q, d), nv in leg.items():
            c, n = fused.get((q, d), (0, 0))
            fused[(q, d)] = (c + w * nv, n + 1)
    want = []
    for q in {q for q, _, _ in lex + sem}:
        rows = sorted(
            ((d, c, n) for (qq, d), (c, n) in fused.items() if qq == q),
            key=lambda x: (-x[1], x[0]),
        )
        for rnk, (d, c, n) in enumerate(rows[:3], 1):
            want.append((q, d, c, n, rnk))
    assert got == sorted(want)
    # the all-tied sem leg at q=1 pinned both docs to the full 1e6
    assert (1, 9, 700 * 1_000_000 + 300 * 1_000_000, 2, 1) in got
    with pytest.raises(ValueError, match="milli"):
        convex_fuse([(spark.createDataFrame(lex, schema), 999)])


# --- PRF query expansion (round 12) -----------------------------------------


def _python_bm25_prf(k, fb_docs=2, fb_terms=2, k1=1.2, b=0.75):
    """Independent pure-Python PRF-BM25 (third implementation — the
    catalog oracle is the SQL twin)."""
    docs = {i: t.split() for i, t in DOCS if t is not None}
    n = len(docs)
    avgdl = sum(len(ws) for ws in docs.values()) / float(n)
    df: dict = {}
    for ws in docs.values():
        for t in set(ws):
            df[t] = df.get(t, 0) + 1

    def idf(t):
        return math.log(1.0 + ((float(n) - df[t]) + 0.5) / (df[t] + 0.5))

    def score(qid, terms):
        scored = []
        for did, ws in docs.items():
            micro, n_terms = 0, 0
            for t in terms:
                tf = ws.count(t)
                if tf == 0:
                    continue
                n_terms += 1
                contrib = idf(t) * (
                    (tf * (k1 + 1.0))
                    / (tf + k1 * ((1.0 - b) + b * (len(ws) / avgdl)))
                )
                micro += math.floor(contrib * 1000000.0)
            if n_terms:
                scored.append((did, micro, n_terms))
        scored.sort(key=lambda x: (-x[1], x[0]))
        return scored

    out = []
    for qid, qtext in QUERIES:
        terms = set(qtext.split())
        pass1 = score(qid, terms)
        fb = [did for did, _, _ in pass1[:fb_docs]]
        votes: dict = {}
        for did in fb:
            for t in set(docs[did]):
                if t in terms:
                    continue
                votes[t] = votes.get(t, 0) + docs[did].count(t) * math.floor(
                    idf(t) * 1000000.0
                )
        exp = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[:fb_terms]
        terms2 = terms | {t for t, _ in exp}
        for rnk, (did, micro, n_terms) in enumerate(score(qid, terms2)[:k], 1):
            out.append((qid, did, n_terms, micro, micro / 1000000.0, rnk))
    return sorted(out)


def test_bm25_prf_matches_pure_python_reference(spark):
    from iheardai_data_pipeline_spark.operators.text import bm25_prf_topk

    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(QUERIES, "query_id long, qtext string")
    got = sorted(
        tuple(r)
        for r in bm25_prf_topk(
            docs, queries, k=3, fb_docs=2, fb_terms=2
        ).collect()
    )
    assert got == _python_bm25_prf(k=3, fb_docs=2, fb_terms=2)


def test_bm25_prf_expansion_changes_ranking(spark):
    """The expansion must actually DO something on a corpus built for
    it: a query matching a hub doc pulls in the hub's salient term,
    surfacing a doc the raw query never matches."""
    from iheardai_data_pipeline_spark.operators.text import bm25_prf_topk

    docs = spark.createDataFrame(
        [
            (1, "solar panels energy grid"),          # pass-1 hit (hub)
            (2, "energy grid storage battery"),       # no 'solar'
            (3, "unrelated cooking recipe text"),
            (4, "grid battery inverter"),             # no 'solar'
        ],
        "doc_id long, text string",
    )
    queries = spark.createDataFrame(
        [(0, "solar")], "query_id long, qtext string"
    )
    base = {r["doc_id"] for r in bm25_topk(docs, queries, k=4).collect()}
    prf = {
        r["doc_id"]
        for r in bm25_prf_topk(
            docs, queries, k=4, fb_docs=1, fb_terms=2
        ).collect()
    }
    assert base == {1}          # raw query matches only the hub
    assert {1} < prf            # expansion surfaced new docs
    assert 3 not in prf         # but not the unrelated one


def test_bm25_prf_empty_corpus(spark):
    from iheardai_data_pipeline_spark.operators.text import bm25_prf_topk

    queries = spark.createDataFrame(
        [(0, "solar")], "query_id long, qtext string"
    )
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bm25_prf_topk(empty, queries, k=3).count() == 0

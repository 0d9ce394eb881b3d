"""North-star extension queries: dedup, similarity search, text analysis,
multimodal plumbing (SURVEY.md §7 Phase 6; BASELINE.json extensions).

These go beyond the reference's own surface — they are the training-data
pipeline operations a 100 TB corpus engine needs. Each is registered with
a DuckDB oracle wherever the computation is SQL-expressible; hash-seeded
sketches (MinHash banding internals, SimHash) are either verified against
the *exact* answer (LSH output == exact Jaccard answer, by construction)
or registered rows-only.

Scale notes are on the operators themselves
(operators/{dedup,similarity,text,multimodal}.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.functions import frontend as fe
from iheardai_data_pipeline_spark.functions.exact import sql_ratio_half_up
from iheardai_data_pipeline_spark.operators import dedup, multimodal, similarity, text
from iheardai_data_pipeline_spark.plans.catalog import register
from iheardai_data_pipeline_spark.sources.batch import load_table
from iheardai_data_pipeline_spark.streaming.sinks import ram_tempdir

# Canonical text normalization, mirrored from operators/text.py::normalize_text
_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"

# Word 5-gram shingle CTEs shared by the dedup oracles (mirrors
# operators/dedup.py::word_shingles with n=5).
_SHINGLE_CTE = f"""
toks AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(ws) - 4, 0)),
                               i -> array_to_string(ws[i:i+4], ' '))) AS shingle
  FROM toks
),
counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""


# --- exact dedup -----------------------------------------------------------------

_DEDUP_EXACT_ORACLE = f"""
WITH h AS (SELECT doc_id, md5({_NORM_SQL}) AS fingerprint FROM documents),
g AS (SELECT fingerprint, count(*) AS group_size, min(doc_id) AS keeper_id
      FROM h GROUP BY fingerprint)
SELECT h.doc_id, h.fingerprint, g.group_size,
       (h.doc_id = g.keeper_id) AS is_keeper
FROM h JOIN g USING (fingerprint)
"""


@register(
    "x_dedup_exact",
    oracle=_DEDUP_EXACT_ORACLE,
    tags=("extension", "dedup"),
    doc="Exact dedup: md5 fingerprint of normalized text, group size + "
    "keeper (min doc_id) per group. One shuffle on a 16-byte key.",
)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicate_groups(load_table(spark, sf_dir, "documents"))


# --- n-gram Jaccard near-dup -----------------------------------------------------

# Mirrors the operator exactly: candidate/shared counts use only shingles
# with doc-frequency <= cap (hot-shingle skew guard); union sizes use all
# shingles.
_JACCARD_SQL = sql_ratio_half_up("s", "ca.n + cb.n - s", 4)

_NGRAM_JACCARD_ORACLE = f"""
WITH {_SHINGLE_CTE},
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       {_JACCARD_SQL} AS jaccard
FROM shared
JOIN counts ca ON shared.doc_a = ca.doc_id
JOIN counts cb ON shared.doc_b = cb.doc_id
WHERE {_JACCARD_SQL} >= 0.7
"""


@register(
    "x_dedup_ngram_jaccard",
    oracle=_NGRAM_JACCARD_ORACLE,
    tags=("extension", "dedup"),
    doc="Exact word-5-gram Jaccard near-dup pairs (threshold 0.7), "
    "candidates blocked on shared rare shingles — linear, never all-pairs.",
)
def x_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=5, threshold=0.7, max_doc_freq=100
    )


# --- MinHash LSH near-dup --------------------------------------------------------

# The oracle is the EXACT all-pairs Jaccard answer: LSH (k=64, 16 bands x 4
# rows) finds a >=0.7-similar pair with probability 1-(1-s^4)^16 (> 1-1e-17
# at the s~0.98 of the planted near-dups) and exact-Jaccard verification
# removes every false positive, so the sketch output equals the exact
# answer deterministically in practice.
_MINHASH_ORACLE = f"""
WITH {_SHINGLE_CTE},
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       {_JACCARD_SQL} AS jaccard
FROM shared
JOIN counts ca ON shared.doc_a = ca.doc_id
JOIN counts cb ON shared.doc_b = cb.doc_id
WHERE {_JACCARD_SQL} >= 0.7
"""


@register(
    "x_dedup_minhash_lsh",
    oracle=_MINHASH_ORACLE,
    tags=("extension", "dedup", "sketch"),
    doc="MinHash(64)+LSH(16x4) near-dup pairs, exact-Jaccard verified; "
    "oracle = exact all-pairs answer the sketch provably reproduces.",
)
def x_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), n=5, k=64, bands=16, threshold=0.7
    )


# This oracle (and t12's, which reuses the same batch answer) pins the
# EXACT all-pairs result while the engine path is LSH-banded, so it is
# probabilistically — not logically — guaranteed: a true pair at
# Jaccard j escapes all 16 bands with probability (1-j^4)^16. Measured
# on the pinned data (2026-08): every qualifying pair has j >= 0.875 at
# sf0.01 (per-pair miss ~2e-8, union over 25 pairs ~1e-6) and
# j >= 0.75 at sf0.1 (union over 256 pairs ~2.3e-3) — comfortably
# above the S-curve knee (a j=0.7 pair would miss with p~1.2e-2), so
# the exact oracle is stable at the scale factors the driver runs.
# Regenerated data or new SFs must re-check min-j before trusting it.
_INC_MINHASH_ORACLE = f"""
WITH {_SHINGLE_CTE},
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
near AS (
  SELECT doc_a, doc_b FROM shared
  JOIN counts ca ON shared.doc_a = ca.doc_id
  JOIN counts cb ON shared.doc_b = cb.doc_id
  WHERE {_JACCARD_SQL} >= 0.7
)
SELECT d.doc_id, d.source FROM documents d
WHERE d.doc_id % 5 <> 0
  AND NOT EXISTS (
    SELECT 1 FROM near
    WHERE near.doc_a = d.doc_id
      AND (near.doc_b % 5 = 0 OR near.doc_b < d.doc_id)
  )
"""


@register(
    "x_dedup_incremental_minhash",
    oracle=_INC_MINHASH_ORACLE,
    tags=("extension", "dedup", "sketch"),
    doc="Incremental NEAR-dup ingest gate: incoming docs (doc_id%5!=0) "
    "probed by MinHash(64)+LSH(16x4) against the existing corpus "
    "(doc_id%5==0) and lower-id batch peers; exact-Jaccard verified, "
    "survivors returned. The fuzzy sibling of x_dedup_incremental's "
    "fingerprint gate; oracle = exact all-pairs answer "
    "(operators/dedup.py:incremental_minhash_dedup).",
)
def x_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 == 0)
    incoming = docs.filter(F.col("doc_id") % 5 != 0)
    kept = dedup.incremental_minhash_dedup(incoming, corpus, threshold=0.7)
    return kept.select("doc_id", "source")


@register(
    "x_dedup_indexed_ingest",
    oracle=_INC_MINHASH_ORACLE,
    tags=("extension", "dedup", "sketch"),
    doc="PERSISTENT-band-index near-dup ingest: the corpus "
    "(doc_id%5==0) is banded ONCE into bucketed band/profile stores, "
    "then incoming (doc_id%5!=0) arrives as 2 id-ordered batches, each "
    "probing the index with bucket-pruned point lookups and appending "
    "its own bands (rejected docs too — near-dup is not transitive). "
    "Probe cost is batch- and candidate-bounded, independent of corpus "
    "size: the production variant of x_dedup_incremental_minhash, and "
    "the oracle proves the split-batch answer EQUALS the one-shot "
    "all-pairs gate (operators/neardup_index.py).",
)
def x_dedup_indexed_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.neardup_index import MinHashBandIndex

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    incoming = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", "source", "text"
    )
    # RAM-backed store root when available: the demo index lives seconds
    # and its OCC commit I/O is the dominant fixed cost (a real
    # deployment points at durable storage)
    root = ram_tempdir("bandidx_")
    try:
        idx = MinHashBandIndex(spark, root, threshold=0.7)
        idx.append(corpus)
        hi = docs.agg(F.max("doc_id")).collect()[0][0] or 0
        cuts = [0, hi // 2 + 1, hi + 1]
        out = None
        for lo, up in zip(cuts, cuts[1:]):
            batch = incoming.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < up)
            )
            kept = idx.ingest(batch).select("doc_id", "source")
            out = kept if out is None else out.unionByName(kept)
        # survivors are batch-sized; pin them off the tmpfs stores so
        # the index root can be reclaimed NOW (leaked /dev/shm is RAM)
        return out.localCheckpoint(eager=True)
    finally:
        import shutil

        shutil.rmtree(root, ignore_errors=True)


# Fresh-build oracle for the tombstone/upsert path: batch1 (doc_id%5 in
# (1,2)) is gated against the FULL corpus (doc_id%5==0) + lower-id
# batch1 peers; then corpus docs with doc_id%10==0 are DELETED; batch2
# (doc_id%5 in (3,4)) is gated against the surviving corpus + ALL
# batch1 docs (appended regardless of their own gate fate) + lower-id
# batch2 peers. The oracle is what a fresh index built on each step's
# LOGICAL state answers — so it proves the tombstones make deleted docs
# stop matching without disturbing anything else. Same LSH-probabilistic
# caveat as _INC_MINHASH_ORACLE (measured min-j comfortably above the
# S-curve knee at both driver SFs).
_INDEXED_UPDATE_ORACLE = f"""
WITH {_SHINGLE_CTE},
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
),
near AS (
  SELECT doc_a, doc_b FROM shared
  JOIN counts ca ON shared.doc_a = ca.doc_id
  JOIN counts cb ON shared.doc_b = cb.doc_id
  WHERE {_JACCARD_SQL} >= 0.7
)
SELECT d.doc_id, d.source FROM documents d
WHERE d.doc_id % 5 IN (1, 2)
  AND NOT EXISTS (
    SELECT 1 FROM near
    WHERE near.doc_a = d.doc_id
      AND (near.doc_b % 5 = 0
           OR (near.doc_b % 5 IN (1, 2) AND near.doc_b < d.doc_id))
  )
UNION ALL
SELECT d.doc_id, d.source FROM documents d
WHERE d.doc_id % 5 IN (3, 4)
  AND NOT EXISTS (
    SELECT 1 FROM near
    WHERE near.doc_a = d.doc_id
      AND ((near.doc_b % 5 = 0 AND near.doc_b % 10 <> 0)
           OR near.doc_b % 5 IN (1, 2)
           OR (near.doc_b % 5 IN (3, 4) AND near.doc_b < d.doc_id))
  )
"""


@register(
    "x_dedup_indexed_update",
    oracle=_INDEXED_UPDATE_ORACLE,
    tags=("extension", "dedup", "sketch"),
    doc="Tombstone/UPSERT path of the persistent band index (round 7): "
    "bootstrap corpus (doc_id%5==0, seq 1), gated batch1 ingest (seq "
    "2), DELETE of doc_id%10==0 via O(batch) tombstone rows (seq 3 — "
    "the reference's M1/M2 last-write-wins upsert contract applied to "
    "the index), gated batch2 ingest (seq 4). Deleted docs stop "
    "matching immediately: their band rows still generate candidates "
    "but verification joins only LIVE latest profiles. Layout sized "
    "by the index's own buckets_for_corpus rule (pruned 64/256-bucket "
    "layouts are pinned by parametrized unit tests — at rig corpus "
    "sizes the rule correctly picks scan-all); oracle = fresh-build "
    "answers on each step's logical state (operators/neardup_index."
    "py:MinHashBandIndex.delete).",
)
def x_dedup_indexed_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.neardup_index import MinHashBandIndex

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id", "text")
    b1 = docs.filter((F.col("doc_id") % 5).isin(1, 2)).select(
        "doc_id", "source", "text"
    )
    b2 = docs.filter((F.col("doc_id") % 5).isin(3, 4)).select(
        "doc_id", "source", "text"
    )
    deleted = docs.filter(F.col("doc_id") % 10 == 0).select("doc_id")
    root = ram_tempdir("bandupd_")
    try:
        idx = MinHashBandIndex(
            spark, root, threshold=0.7, expected_docs=docs.count()
        )
        idx.append(corpus, seq=1)
        k1 = idx.ingest(b1, seq=2).select("doc_id", "source")
        idx.delete(deleted, seq=3)
        k2 = idx.ingest(b2, seq=4).select("doc_id", "source")
        return k1.unionByName(k2).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Full value oracle for the SimHash sketch: with the md5-portable word
# hash the sketch is deterministic and ANSI-SQL-expressible, and the
# pigeonhole banding is exhaustive, so the engine's banded equi-join
# result EQUALS this naive all-pairs hamming filter. 64-bit hashes are
# built from two 32-bit md5 halves (DuckDB's signed << overflows at 63,
# so the combine wraps through HUGEINT); bit b is tested with an
# arithmetic shift, which sign-extension does not disturb under & 1.
_SIMHASH_ORACLE = r"""
WITH docs AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents
  WHERE text IS NOT NULL
),
words AS (
  SELECT DISTINCT doc_id, w
  FROM docs, unnest(string_split(t, ' ')) AS u(w)
),
hashed AS (
  SELECT DISTINCT doc_id,
    CAST(CASE WHEN hv >= 9223372036854775808::HUGEINT
              THEN hv - 18446744073709551616::HUGEINT ELSE hv END AS BIGINT) AS h
  FROM (
    SELECT doc_id,
      CAST(CAST('0x' || substr(md5(w),1,8) AS BIGINT) AS HUGEINT) * 4294967296
        + CAST('0x' || substr(md5(w),9,8) AS BIGINT) AS hv
    FROM words
  )
),
bits AS (
  SELECT doc_id, b,
    SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS s
  FROM hashed, (SELECT unnest(range(0, 64)) AS b)
  GROUP BY doc_id, b
),
sig AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN s > 0 THEN
        CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
             ELSE CAST(1 AS BIGINT) << b END
      ELSE 0 END) AS BIGINT) AS simhash
  FROM bits
  GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b2.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b2 ON a.doc_id < b2.doc_id
WHERE bit_count(xor(a.simhash, b2.simhash)) <= 3
"""


@register(
    "x_dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    tags=("extension", "dedup", "sketch"),
    doc="SimHash-64 near-dup pairs (hamming<=3) via pigeonhole chunk "
    "banding, md5-portable word hash; oracle = naive all-pairs hamming "
    "filter over the identically-computed sketch (banding is exhaustive, "
    "so the two are provably equal).",
)
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=3, word_hash="md5_portable"
    )


# --- similarity search -----------------------------------------------------------

_COSINE_TOPK_ORACLE = """
WITH q AS (SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
       round(list_cosine_similarity(embedding::DOUBLE[], qvec), 6) AS sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY sim DESC, vec_id
LIMIT 10
"""


@register(
    "x_sim_cosine_topk",
    oracle=_COSINE_TOPK_ORACLE,
    tags=("extension", "similarity"),
    doc="Brute-force cosine top-10 for the vec_id=0 query vector: one "
    "scan, JVM-side fused fold, k-row sort (the per-partition ANN kernel).",
)
def x_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qvec"),
        similarity.vector_norm(F.col("embedding")).alias("qnorm"),
    )
    sim = similarity.dot_product(F.col("embedding"), F.col("qvec")) / (
        similarity.vector_norm(F.col("embedding")) * F.col("qnorm")
    )
    return (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.round(sim, 6).alias("sim"))
        .orderBy(F.desc("sim"), "vec_id")
        .limit(10)
    )


_EMB_DUP_ORACLE = """
SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS sim
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
"""


@register(
    "x_sim_embedding_dups",
    oracle=_EMB_DUP_ORACLE,
    tags=("extension", "similarity", "dedup"),
    doc="Embedding near-dup pairs: cosine >= 0.4 inside a label block "
    "(equi-join blocking — never a cross join).",
)
def x_sim_embedding_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


# Full value oracle: the per-vector cosine is the proven left-fold
# arithmetic, MAX per group is order-independent over bit-identical
# doubles, and the top-5 cut breaks ties by label — every stage exact
# in both engines. Zero-norm members are excluded on both sides (a 0/0
# cosine would NaN-poison the max, and DuckDB NaN compares GREATER —
# the documented cross-engine trap).
_DOC_MAXSIM_ORACLE = """
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
         sqrt(list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(embedding::DOUBLE[], x -> x * x)), (a, b) -> a + b)) AS qn
  FROM embeddings WHERE embedding IS NOT NULL
  ORDER BY vec_id LIMIT 1
),
s AS (
  SELECT e.label,
         list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(list_zip(e.embedding::DOUBLE[], q.qv),
                          z -> z[1] * z[2])), (a, b) -> a + b)
         / (sqrt(list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(e.embedding::DOUBLE[], x -> x * x)),
              (a, b) -> a + b)) * q.qn) AS sim
  FROM embeddings e, q
  WHERE e.embedding IS NOT NULL AND e.vec_id <> q.qid
    AND list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(e.embedding::DOUBLE[], x -> x * x)),
          (a, b) -> a + b) > 0
)
SELECT label, round(mx, 6) AS max_sim FROM (
  SELECT label, max(sim) AS mx,
         row_number() OVER (ORDER BY max(sim) DESC, label ASC) AS rn
  FROM s GROUP BY label
) WHERE rn <= 5
ORDER BY label
"""


@register(
    "x_sim_doc_maxsim_topk",
    oracle=_DOC_MAXSIM_ORACLE,
    tags=("extension", "similarity"),
    doc="MULTI-VECTOR document retrieval (round 10): each label is a "
    "'document' whose member vectors are its chunk embeddings, and a "
    "document scores max-over-chunks cosine to the query — the coarse "
    "late-interaction shape (ColBERT-style MaxSim at the document "
    "granularity; chunk-level indexing + doc-level answers is how a "
    "100 TB retrieval corpus is actually served). One scan, the fused "
    "cosine fold per vector, a partial-agg GROUP MAX per label (never "
    "a per-doc collect), 5-row sort. Exact: MAX over bit-identical "
    "doubles is aggregation-order-independent, so the whole answer "
    "value-replays (operators/similarity.py fold discipline).",
)
def x_sim_doc_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from iheardai_data_pipeline_spark.sources.batch import eval_once

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    qid, qvec = _probe_vector(emb)
    qcol = F.array(*[F.lit(float(v)) for v in qvec])
    qn = math.sqrt(sum(float(x) * float(x) for x in qvec))
    # norm behind a generator barrier: referenced by the zero-norm
    # guard AND the cosine denominator (eval_once — CollapseProject
    # would re-run the fold per reference)
    base = eval_once(
        emb.filter(F.col("vec_id") != qid),
        __nrm=similarity.vector_norm(F.col("embedding")),
    )
    sim = similarity.dot_product(F.col("embedding"), qcol) / (
        F.col("__nrm") * F.lit(qn)
    )
    rows = base.where(F.col("__nrm") > 0).select("label", sim.alias("sim"))
    return (
        rows.groupBy("label")
        .agg(F.max("sim").alias("mx"))
        .orderBy(F.desc("mx"), "label")
        .limit(5)
        .select("label", F.round("mx", 6).alias("max_sim"))
        .orderBy("label")
    )


# Full value oracle for the IVF assignment step: seed centroids are the
# first 16 vectors by id and the score is a LEFT-FOLD dot product times a
# 1/|c| constant — DuckDB's list_reduce folds in the same order over the
# same float32->double widenings, so every double is bit-identical to the
# JVM fold in similarity._argmax_centroid_expr. Ties break to the lowest
# centroid id on both sides (strict > vs ORDER BY s DESC, cid ASC).
_IVF_ASSIGN_ORACLE = """
WITH cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding::DOUBLE[] AS cvec,
         1.0 / sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                                (a, b) -> a + b)) AS invn
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
scores AS (
  SELECT e.vec_id, c.cid,
         list_reduce(list_transform(range(1, 65),
             i -> e.embedding[i]::DOUBLE * c.cvec[i]), (a, b) -> a + b) * c.invn AS s
  FROM embeddings e, cent c
)
SELECT vec_id, centroid_id FROM (
  SELECT vec_id, CAST(cid AS INT) AS centroid_id,
         row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
  FROM scores
)
WHERE rn = 1
ORDER BY vec_id
"""


@register(
    "x_sim_ivf_assign",
    oracle=_IVF_ASSIGN_ORACLE,
    tags=("extension", "similarity"),
    doc="IVF index-build assignment (deterministic seed centroids = first "
    "16 vectors by id): every vector mapped to its max-cosine centroid by "
    "the narrow argmax-scores expression — no crossJoin, no shuffle. "
    "Oracle = naive all-pairs argmax with identical fold arithmetic.",
)
def x_sim_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    _, assigned = similarity.ivf_assign(emb, n_centroids=16, refine_iters=0)
    return assigned.select("vec_id", "centroid_id").orderBy("vec_id")


# SemDeDup oracle: the cent/scores/assign CTEs replicate the proven
# _IVF_ASSIGN_ORACLE fold arithmetic bit-for-bit; centrality and pair
# cosines use the SAME left-fold dot and pre-computed norms as the Spark
# side (dot / (nrm_a * nrm_b), one division), so every comparison in the
# keep rule sees identical doubles in both engines.
_SEMANTIC_DEDUP_ORACLE = """
WITH cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding::DOUBLE[] AS cvec,
         1.0 / sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                                (a, b) -> a + b)) AS invn,
         sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                          (a, b) -> a + b)) AS cnrm
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
scores AS (
  SELECT e.vec_id, c.cid,
         list_reduce(list_transform(range(1, 65),
             i -> e.embedding[i]::DOUBLE * c.cvec[i]), (a, b) -> a + b) * c.invn AS s
  FROM embeddings e, cent c
),
assign AS (
  SELECT vec_id, cid AS centroid_id FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scores
  ) WHERE rn = 1
),
vn AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                          (a, b) -> a + b)) AS nrm
  FROM embeddings
),
cen AS (
  SELECT a.vec_id, a.centroid_id,
         list_reduce(list_transform(range(1, 65), i -> v.v[i] * c.cvec[i]),
                     (x, y) -> x + y) / (v.nrm * c.cnrm) AS ccos,
         v.v, v.nrm
  FROM assign a JOIN vn v USING (vec_id) JOIN cent c ON a.centroid_id = c.cid
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.ccos AS ccos_a, b.ccos AS ccos_b
  FROM cen a JOIN cen b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE list_reduce(list_transform(range(1, 65), i -> a.v[i] * b.v[i]),
                    (x, y) -> x + y) / (a.nrm * b.nrm) >= 0.4
),
lose AS (
  SELECT DISTINCT CASE WHEN ccos_a > ccos_b OR (ccos_a = ccos_b AND id_a < id_b)
                       THEN id_b ELSE id_a END AS vec_id
  FROM pairs
),
nn AS (
  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_near
  FROM (SELECT id_a AS vec_id FROM pairs UNION ALL SELECT id_b AS vec_id FROM pairs)
  GROUP BY vec_id
)
SELECT c.vec_id, c.centroid_id,
       (l.vec_id IS NULL) AS keep,
       coalesce(nn.n_near, 0) AS n_near
FROM cen c
LEFT JOIN lose l USING (vec_id)
LEFT JOIN nn USING (vec_id)
"""


@register(
    "x_dedup_semantic",
    oracle=_SEMANTIC_DEDUP_ORACLE,
    tags=("extension", "dedup", "similarity"),
    doc="SemDeDup-style embedding-cluster dedup (Abbas et al. 2023): "
    "IVF-assign to 16 clusters (narrow argmax, no shuffle), "
    "within-cluster cosine>=0.4 near-dup pairs via the salted block "
    "join, then per pair drop the member farther from its centroid — "
    "keeping the most-central representative of each semantic "
    "neighborhood. Oracle = exact within-cluster answer with identical "
    "fold arithmetic (operators/similarity.py:semantic_dedup).",
)
def x_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semantic_dedup(
        load_table(spark, sf_dir, "embeddings"), n_centroids=16, threshold=0.4
    )


def _probe_vector(emb: DataFrame) -> tuple[int, list[float]]:
    """Deterministic query vector for the IVF demos: the MIN vec_id row
    (not a hard-coded id — some scale factor could renumber), with a
    descriptive error instead of a ``NoneType`` subscript if the table
    is empty."""
    row = emb.orderBy("vec_id").select("vec_id", "embedding").first()
    if row is None or row["embedding"] is None:
        raise ValueError(
            "embeddings table has no probe row (empty table or NULL "
            "embedding on the min vec_id) — cannot build the IVF query vector"
        )
    return int(row["vec_id"]), [float(x) for x in row["embedding"]]


# Full value oracle for the IVF top-k read path (round 8 — closes the
# catalog's last rows-only entry): with deterministic seed centroids
# (first 16 by id, refine_iters=0 — Lloyd stays benchmarked under
# x_sim_pq_train's monotonicity contract and x_sim_ivf_recall's gate)
# every stage is ANSI-SQL-expressible with IDENTICAL left-fold float
# arithmetic: the probe ranking (top-4 centroids by cosine to the min-
# vec_id query, ties by cid — the engine's driver-side sorted((-sim,
# i))), the proven _IVF_ASSIGN_ORACLE argmax assignment, and the exact
# within-list cosine ranking (dot / (nrm * qn), one division, qn
# computed from the query row by the same fold the driver runs).
_IVF_TOPK_ORACLE = """
WITH q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qv,
         sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                          (a, b) -> a + b)) AS qn
  FROM embeddings ORDER BY vec_id LIMIT 1
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding::DOUBLE[] AS cvec,
         1.0 / sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                                (a, b) -> a + b)) AS invn,
         sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                          (a, b) -> a + b)) AS cnrm
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
probe AS (
  SELECT cid FROM (
    SELECT c.cid,
           row_number() OVER (
             ORDER BY list_reduce(list_transform(range(1, 65),
                        i -> q.qv[i] * c.cvec[i]), (a, b) -> a + b)
                      / (q.qn * c.cnrm) DESC, c.cid ASC) AS rn
    FROM cent c, q
  ) WHERE rn <= 4
),
scores AS (
  SELECT e.vec_id, c.cid,
         list_reduce(list_transform(range(1, 65),
             i -> e.embedding[i]::DOUBLE * c.cvec[i]), (a, b) -> a + b) * c.invn AS s
  FROM embeddings e, cent c
),
assign AS (
  SELECT vec_id, cid AS centroid_id FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scores
  ) WHERE rn = 1
),
sel AS (
  SELECT e.vec_id,
         list_reduce(list_transform(range(1, 65),
             i -> e.embedding[i]::DOUBLE * q.qv[i]), (a, b) -> a + b)
           / (sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                               (a, b) -> a + b)) * q.qn) AS sim
  FROM embeddings e
  JOIN assign a USING (vec_id)
  JOIN probe p ON a.centroid_id = p.cid, q
  WHERE e.vec_id <> q.qid
)
SELECT vec_id, round(sim, 6) AS sim FROM (
  SELECT vec_id, sim,
         row_number() OVER (ORDER BY sim DESC, vec_id ASC) AS rn
  FROM sel
) WHERE rn <= 10
ORDER BY vec_id
"""


@register(
    "x_sim_ivf_topk",
    oracle=_IVF_TOPK_ORACLE,
    tags=("extension", "similarity"),
    doc="IVF approximate top-10 (16 deterministic seed lists, nprobe=4): "
    "vectors partitioned by nearest centroid, query probes 4 lists — "
    "the 100 TB scale path. FULLY value-oracled (round 8): probe "
    "ranking, argmax assignment, and within-list cosine ranking all "
    "replicate in ANSI SQL with identical left-fold float arithmetic "
    "(was the catalog's one rows-only entry while it trained Lloyd "
    "in-query; the Lloyd benchmark lives in x_sim_pq_train and the "
    "refined-centroid recall gate in x_sim_ivf_recall).",
)
def x_sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qid, qvec = _probe_vector(emb)
    return similarity.ivf_topk(
        emb, qvec, k=10, n_centroids=16, nprobe=4, exclude_id=qid, refine_iters=0
    )


# Bounded oracle for the IVF sketch (same pattern as a4_dashboard_approx):
# the approximate result set itself is probe-dependent, but its CONTRACT
# — recall vs the exact brute-force top-k — is checkable. Measured
# deterministic recall is 0.9-1.0 across sf0.001/0.01/0.1 (4 of 16 lists
# probed); the gate pins >= 0.6, well below the measured floor and far
# above what a broken index would score.
_IVF_RECALL_ORACLE = """
SELECT CAST(10 AS BIGINT) AS k, CAST(4 AS BIGINT) AS nprobe,
       TRUE AS recall_ok
"""


@register(
    "x_sim_ivf_recall",
    oracle=_IVF_RECALL_ORACLE,
    tags=("extension", "similarity", "approximate"),
    doc="IVF top-k contract gate: the approximate top-10 (16 lists, "
    "nprobe=4, one Lloyd refinement) is compared against the exact "
    "brute-force top-10 in-engine and the recall>=0.6 flag is pinned "
    "TRUE by the oracle — a broken index build or probe selection "
    "flips the flag and fails the hash compare, so the IVF path is "
    "correctness-gated even though its raw rows are approximate.",
)
def x_sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qid, qvec = _probe_vector(emb)
    approx = similarity.ivf_topk(
        emb, qvec, k=10, n_centroids=16, nprobe=4, exclude_id=qid, refine_iters=1
    ).select("vec_id")
    exact = similarity.cosine_topk_bruteforce(emb, qvec, k=10, exclude_id=qid).select(
        "vec_id"
    )
    # recall stays IN the returned plan (semi-join + agg), so the plan
    # audit sees the IVF work and the driver's one action runs it all
    return (
        approx.join(exact, "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("__hits"))
        .select(
            F.lit(10).cast("long").alias("k"),
            F.lit(4).cast("long").alias("nprobe"),
            (F.col("__hits") >= 6).alias("recall_ok"),
        )
    )


# --- product quantization (round 5) -----------------------------------------------


def _pq_encode_oracle() -> str:
    from iheardai_data_pipeline_spark.operators.pq import subspace_code_sql
    from iheardai_data_pipeline_spark.plans.pq_artifact import PQ_CODEBOOKS

    cols = ",\n  ".join(
        f"CAST({subspace_code_sql('embedding', s, cb, 'duckdb')} AS INTEGER) AS c{s}"
        for s, cb in enumerate(PQ_CODEBOOKS)
    )
    return f"""
SELECT vec_id,
  {cols}
FROM embeddings WHERE embedding IS NOT NULL
"""


@register(
    "x_sim_pq_encode",
    oracle=_pq_encode_oracle(),
    tags=("extension", "similarity", "sketch"),
    doc="Product-quantization encode (round 5): each 64-dim vector "
    "compressed to 8 x 4-bit subspace codes against the PINNED "
    "sf0.01-trained codebooks (operators/pq.py, plans/pq_artifact.py) "
    "— a 32x ANN memory shrink. The argmin-distance fold is generated "
    "with IDENTICAL left-associated float-op order for Spark and "
    "DuckDB, so every code is bit-exact value-oracled (the BPE "
    "replace-chain portability pattern applied to float arithmetic). "
    "One narrow projection, no shuffle, no UDF.",
)
def x_sim_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.pq import with_pq_codes
    from iheardai_data_pipeline_spark.plans.pq_artifact import PQ_CODEBOOKS
    from iheardai_data_pipeline_spark.sources.batch import ensure_parallelism

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    # codebooks ride as one broadcast data row (round 15): same argmin
    # fold bit for bit, constant-size plan instead of a literal tree
    out = with_pq_codes(ensure_parallelism(emb), PQ_CODEBOOKS, "embedding")
    return out.select(
        "vec_id",
        *[F.col(f"__c{s}").alias(f"c{s}") for s in range(len(PQ_CODEBOOKS))],
    )


# Bounded oracle, same pattern as x_sim_ivf_recall: the ADC shortlist is
# approximate by design, but its CONTRACT — exact-rerank recall vs the
# exact brute-force top-10 — is checkable. Measured deterministic recall
# with per-SF-trained books (1 Lloyd round) and an n/5 shortlist is
# 0.8-1.0 across sf0.001/0.01/0.1; the gate pins >= 0.5, far above the
# ~0.2 a random shortlist of the same size would score.
_PQ_RECALL_ORACLE = """
SELECT CAST(10 AS BIGINT) AS k, TRUE AS recall_ok
"""


@register(
    "x_sim_pq_recall",
    oracle=_PQ_RECALL_ORACLE,
    tags=("extension", "similarity", "approximate"),
    doc="PQ search contract gate (rounds 5-6): PINNED per-SF codebooks "
    "(plans/ann_artifact.py — a quantizer is a shipped index artifact, "
    "so the gate times the SEARCH path: ADC top-(n/5) shortlist over "
    "the 8-byte codes, EXACT re-rank of the shortlist only), and the "
    "recall>=0.5 flag vs the exact top-10 is pinned TRUE by the oracle "
    "— a broken codebook, encode, or ADC table flips it. Unknown SFs "
    "fall back to in-query training (identical arithmetic, "
    "tools/regen_ann_artifacts.py).",
)
def x_sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from iheardai_data_pipeline_spark.operators import pq
    from iheardai_data_pipeline_spark.plans.ann_artifact import PQ_RAW_BOOKS

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    # measured recall with the pinned 1-Lloyd-round books: 0.8-1.0
    # across SFs — far above the 0.5 gate
    books = PQ_RAW_BOOKS.get(os.path.basename(os.path.normpath(sf_dir)))
    if books is None:
        books = pq.pq_train(emb, m=8, k=16, iters=1)
    qid, qvec = _probe_vector(emb)
    codes = pq.pq_encode(emb, books)
    shortlist = pq.pq_adc_topk(
        codes, books, qvec, k=max(100, n // 5), exclude_id=qid
    ).select("vec_id")
    qcol = F.array(*[F.lit(float(v)) for v in qvec])
    l2 = F.aggregate(
        F.zip_with(
            F.col("embedding"),
            qcol,
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    reranked = (
        emb.join(shortlist, "vec_id", "left_semi")
        .select("vec_id", l2.alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    exact = (
        emb.filter(F.col("vec_id") != qid)
        .select("vec_id", l2.alias("d"))
        .orderBy("d", "vec_id")
        .limit(10)
        .select("vec_id")
    )
    return (
        reranked.join(exact, "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("__hits"))
        .select(
            F.lit(10).cast("long").alias("k"),
            (F.col("__hits") >= 5).alias("recall_ok"),
        )
    )


# Contract oracle for Lloyd training itself (the recall gates now load
# pinned artifacts, so this is the ONE entry that keeps distributed
# training benchmarked): one Lloyd round is monotone — J(B1, argmin B1)
# <= J(B1, argmin B0) <= J(B0, argmin B0) (per-cell means minimize each
# group's SSE; re-assignment only decreases) — so the trained books'
# total DECIMAL-summed quantization error is deterministically <= the
# seed books'. The improvement is orders of magnitude above float
# noise; a broken assignment, mean, or empty-cell rule flips the flag.
_PQ_TRAIN_ORACLE = """
SELECT CAST(16 AS BIGINT) AS k_codes, TRUE AS trained_not_worse
"""


@register(
    "x_sim_pq_train",
    oracle=_PQ_TRAIN_ORACLE,
    tags=("extension", "similarity", "approximate"),
    doc="Distributed PQ TRAINING benchmark + Lloyd-quality gate (round "
    "6): one Lloyd round (narrow argmin encode + m*k*dsub-cell "
    "decimal-mean aggregate, never a corpus collect) must not increase "
    "total quantization error vs the hash-sampled seed books "
    "(operators/pq.py:pq_train, quantization_error).",
)
def x_sim_pq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators import pq

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    seed_books = pq.pq_train(emb, m=8, k=16, iters=0)
    trained = pq.pq_train(emb, m=8, k=16, iters=1)
    errs = emb.agg(
        pq.quantization_error(seed_books).alias("seed_err"),
        pq.quantization_error(trained).alias("trained_err"),
    )
    return errs.select(
        F.lit(16).cast("long").alias("k_codes"),
        (F.col("trained_err") <= F.col("seed_err")).alias("trained_not_worse"),
    )


# Bounded oracle: the composed IVF-PQ pipeline (prune lists -> ADC over
# codes -> exact re-rank of the shortlist) vs the exact cosine top-10.
# Measured recall 0.8/1.0/1.0 at sf0.001/0.01/0.1 (nprobe=4 of 16,
# shortlist n/5); gate pins >= 0.5. Note the end-to-end metric
# discipline: vectors are L2-normalized inside ivfpq_search so the L2
# stages rank identically to the cosine exact baseline.
_IVFPQ_RECALL_ORACLE = """
SELECT CAST(10 AS BIGINT) AS k, TRUE AS recall_ok
"""


@register(
    "x_sim_ivfpq_recall",
    oracle=_IVFPQ_RECALL_ORACLE,
    tags=("extension", "similarity", "approximate"),
    doc="IVF-PQ contract gate (rounds 5-6): the FULL production ANN "
    "read path with PINNED per-SF index artifacts (centroids + "
    "codebooks, plans/ann_artifact.py — the gate times search, not "
    "Lloyd training) — IVF prunes to 4 of 16 lists, ADC ranks the "
    "probed lists' 8-byte PQ codes, only the n/5 shortlist's vectors "
    "are fetched for an exact re-rank — and the recall>=0.5 flag vs "
    "the exact cosine top-10 is pinned TRUE (measured 0.8-1.0). A "
    "break anywhere in the stack (assignment, codebooks, ADC table, "
    "re-rank metric) flips it (operators/pq.py:ivfpq_search).",
)
def x_sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from iheardai_data_pipeline_spark.operators import pq
    from iheardai_data_pipeline_spark.plans.ann_artifact import (
        IVF_CENTROIDS,
        IVFPQ_BOOKS,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    qid, qvec = _probe_vector(emb)
    key = os.path.basename(os.path.normpath(sf_dir))
    got = pq.ivfpq_search(
        emb,
        qvec,
        k=10,
        n_centroids=16,
        nprobe=4,
        shortlist=max(100, n // 5),
        exclude_id=qid,
        seed_mode="first",
        centroids=IVF_CENTROIDS.get(key),
        books=IVFPQ_BOOKS.get(key),
    ).select("vec_id")
    exact = similarity.cosine_topk_bruteforce(emb, qvec, k=10, exclude_id=qid).select(
        "vec_id"
    )
    return (
        got.join(exact, "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("__hits"))
        .select(
            F.lit(10).cast("long").alias("k"),
            (F.col("__hits") >= 5).alias("recall_ok"),
        )
    )


# Measured recall with the TIGHT n/20 shortlist: 0.7 / 0.7 / 0.9 at
# sf0.001/0.01/0.1 — the raw-vector variant scores 0.6 at sf0.1 on the
# same shortlist. Gate pins >= 0.5.
_IVFPQ_RES_RECALL_ORACLE = """
SELECT CAST(10 AS BIGINT) AS k, TRUE AS recall_ok
"""


@register(
    "x_sim_ivfpq_residual_recall",
    oracle=_IVFPQ_RES_RECALL_ORACLE,
    tags=("extension", "similarity", "approximate"),
    doc="RESIDUAL IVF-PQ contract gate (rounds 5-6): quantize v - "
    "centroid(v) (Jegou et al. sec. V) so the 4-bit codebooks spend "
    "their resolution on what IVF didn't explain; the ADC table is "
    "built per probed list from the query's own residual. Centroids + "
    "residual codebooks are PINNED per-SF index artifacts "
    "(plans/ann_artifact.py; residual books trained at index build "
    "over ALL lists' residuals). Run with a DELIBERATELY tight n/20 "
    "shortlist to show the refinement: recall@10 = 0.7-0.9 where "
    "raw-vector ADC drops to 0.6 at sf0.1 "
    "(operators/pq.py:ivfpq_search(residual=True)); the >= 0.5 flag "
    "is pinned TRUE.",
)
def x_sim_ivfpq_residual_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from iheardai_data_pipeline_spark.operators import pq
    from iheardai_data_pipeline_spark.plans.ann_artifact import (
        IVF_CENTROIDS,
        IVFPQ_RESIDUAL_BOOKS,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    qid, qvec = _probe_vector(emb)
    key = os.path.basename(os.path.normpath(sf_dir))
    got = pq.ivfpq_search(
        emb,
        qvec,
        k=10,
        n_centroids=16,
        nprobe=4,
        shortlist=max(25, n // 20),
        exclude_id=qid,
        seed_mode="first",
        residual=True,
        centroids=IVF_CENTROIDS.get(key),
        books=IVFPQ_RESIDUAL_BOOKS.get(key),
    ).select("vec_id")
    exact = similarity.cosine_topk_bruteforce(emb, qvec, k=10, exclude_id=qid).select(
        "vec_id"
    )
    return (
        got.join(exact, "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("__hits"))
        .select(
            F.lit(10).cast("long").alias("k"),
            (F.col("__hits") >= 5).alias("recall_ok"),
        )
    )


# The value-replayed persistent-serving entries pin ONE fixed,
# SF-independent artifact set (the sf0.01-trained mid-scale one): the
# static oracle SQL embeds these exact literals, and the engine entry
# bootstraps its index with the same constants, so the replay agrees
# at every SF the sweep runs (sf0.001 through sf0.1).
def _serve_artifacts():
    from iheardai_data_pipeline_spark.plans.ann_artifact import (
        IVF_CENTROIDS,
        IVFPQ_BOOKS,
    )

    return IVF_CENTROIDS["sf0.01"], IVFPQ_BOOKS["sf0.01"]


_SERVE_CENTROIDS, _SERVE_BOOKS = _serve_artifacts()


# FULL value oracle for the PERSISTENT serving path (round 10 — closes
# VERDICT r9 #1, the flag-gated ANN family's thinnest evidence): with
# PINNED serve artifacts every stage of PersistentAnnIndex.topk() is
# ANSI-SQL-expressible with IDENTICAL left-fold float arithmetic, so
# the oracle independently recomputes the entire serve — query
# normalization (q / ||q||, the engine's driver-side qn0 fold), probe
# ranking (top-nprobe centroids by dot/(qn*cnrm), ties by cid — the
# _probe_ids sort), corpus normalization + argmax-cosine assignment
# (score = left-fold dot * Python-computed 1/||c|| literal, strict-
# greater tie-break = lowest cid), PQ encode of the normalized vectors
# (subspace_code_sql — the proven x_sim_pq_encode fold), the ADC
# shortlist (lut[s][j] = ||q_sub - book[s][j]||² recomputed in SQL
# with the same prepend-0.0 fold pq_adc_topk's driver-side lut uses;
# shortlist cut by (adc, vec_id) ascending), and the exact L2 re-rank
# of the shortlist. Hash-matching actual (vec_id, l2_dist) rows closes
# the one bug class the old literal-flag gate could not see: engine
# and in-engine reference broken identically.
#
# The serve artifacts are ONE fixed, SF-independent pinned set (the
# sf0.01-trained centroids/books — see _SERVE_CENTROIDS below): a
# static oracle string must embed compile-time constants, and the
# sweep runs at sf0.01 AND sf0.1, so per-SF artifacts would desync the
# replay. The fixed artifacts trade recall at foreign SFs — measured
# recall@10 vs the exact cosine top-10: 0.6 / 1.0 / 0.4 at
# sf0.001/0.01/0.1 plain, 0.7 / 1.0 / 0.3 filtered — which is fine
# HERE because this entry's contract is arithmetic identity of the
# serve, not retrieval quality; recall under properly-trained per-SF
# artifacts stays gated by x_sim_ivf_recall / x_sim_ivfpq_recall (the
# identical read-path composition, pinned per-SF artifacts).


def _index_serve_oracle(
    extra_pred: str = "",
    corpus_pred: str = "",
    n_queries: int = 1,
    k: int = 10,
    flags: tuple = (),
) -> str:
    """The DuckDB replay of PersistentAnnIndex.topk() / topk_batch()
    under the pinned _SERVE_CENTROIDS/_SERVE_BOOKS artifacts (nprobe=4,
    shortlist = max(100, n // 5) with n = the FULL non-null count,
    exclude = the query's own vec_id).

    - ``extra_pred``: AND-appended to the candidate WHERE — replays
      topk(allowed=...), the pre-ADC filter placement, so the filtered
      oracle is the same SQL with one more predicate, exactly as the
      engine is the same plan with one more semi-join.
    - ``corpus_pred``: AND-appended to the INDEXED-corpus WHERE —
      replays a serve over an index holding a SUBSET of the table
      (x_sim_index_update/_compact's post-churn final state: the serve
      over "everything minus the deleted" is what an LWW-correct index
      must produce, so tombstone leaks, lost appends, and replay dups
      all diverge from the replay's rows).
    - ``n_queries``: 1 = topk() (min-vec_id query, output (vec_id,
      l2_dist)); >1 = topk_batch() over the n_queries smallest vec_ids
      (the catalog entries' deterministic query frame; output
      (query_id, vec_id, l2_dist), zero-norm queries excluded — the
      engine's rule). Probe ranking / LUT / shortlist / final-k all
      become per-query windows, mirroring topk_batch's anatomy.
    - ``flags``: extra literal TRUE columns appended to every row —
      for hybrid entries that keep an in-engine gate (fresh-build
      equality, compaction reclamation) ON TOP of the value replay.
    """
    import math

    centroids, books = _SERVE_CENTROIDS, _SERVE_BOOKS
    m, dsub = len(books), len(books[0][0])
    cent_rows = []
    for i, c in enumerate(centroids):
        cv = "[" + ",".join(f"{float(x)!r}::DOUBLE" for x in c) + "]"
        invn = 1.0 / math.sqrt(sum(float(x) * float(x) for x in c))
        cnrm = math.sqrt(sum(float(x) * float(x) for x in c))
        cent_rows.append(f"({i}, {cv}, {invn!r}::DOUBLE, {cnrm!r}::DOUBLE)")
    cent_values = ",\n    ".join(cent_rows)
    lut_cols = []
    for s in range(m):
        a = s * dsub + 1
        bk = (
            "["
            + ",".join(
                "[" + ",".join(f"{float(x)!r}::DOUBLE" for x in c) + "]"
                for c in books[s]
            )
            + "]"
        )
        lut_cols.append(
            f"list_transform({bk}, c -> list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(list_zip(v[{a}:{a + dsub - 1}], c), "
            f"z -> (z[1] - z[2]) * (z[1] - z[2]))), (acc, x) -> acc + x)) AS l{s}"
        )
    lut_sql = ",\n         ".join(lut_cols)
    from iheardai_data_pipeline_spark.operators.pq import subspace_code_sql

    code_cols = ",\n      ".join(
        f"CAST({subspace_code_sql('a.v', s, books[s], 'duckdb')} AS INTEGER) AS c{s}"
        for s in range(m)
    )
    adc_sum = " + ".join(f"qq.l{s}[cand.c{s} + 1]" for s in range(m))
    # batch mode: every selection becomes a per-query window, the
    # queries join on qid, and zero-norm queries are excluded (the
    # engine's topk_batch rule). Single-query topk instead normalizes
    # by qn0-or-1 (ann_index.py topk's zero-norm rule), so the single
    # path divides by CASE WHEN qn0 > 0 THEN qn0 ELSE 1.0 END — the
    # guard is inert for the batch path (its WHERE already dropped
    # qn0 = 0 rows) and keeps the single path from dividing by zero
    # if a zero-norm vector ever wins min-vec_id (ADVICE r10
    # extension_queries.py:1266).
    if n_queries > 1:
        q_limit, q_guard = f"LIMIT {n_queries}", "WHERE qn0 > 0 "
        part, qid_out = "PARTITION BY qid ", "qid AS query_id, "
    else:
        q_limit, q_guard, part, qid_out = "LIMIT 1", "", "", ""
    flag_cols = "".join(f", TRUE AS {f}" for f in flags)
    return f"""
WITH par AS (
  SELECT greatest(100, CAST(count(*) // 5 AS BIGINT)) AS sl
  FROM embeddings WHERE embedding IS NOT NULL
),
q AS (
  SELECT vec_id AS qid, embedding::DOUBLE[] AS qraw,
         sqrt(list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(embedding::DOUBLE[], x -> x * x)), (a, b) -> a + b)) AS qn0
  FROM embeddings WHERE embedding IS NOT NULL
  ORDER BY vec_id {q_limit}
),
qq AS (
  SELECT qid, v,
         sqrt(list_reduce(list_prepend(0.0::DOUBLE,
              list_transform(v, x -> x * x)), (a, b) -> a + b)) AS qn,
         {lut_sql}
  FROM (SELECT qid, list_transform(qraw,
            x -> x / (CASE WHEN qn0 > 0 THEN qn0 ELSE 1.0 END)) AS v
        FROM q {q_guard})
),
cent(cid, cvec, invn, cnrm) AS (VALUES
    {cent_values}),
probe AS (
  SELECT qid, cid FROM (
    SELECT qq.qid, c.cid, row_number() OVER ({part}ORDER BY
      list_reduce(list_prepend(0.0::DOUBLE,
        list_transform(list_zip(qq.v, c.cvec), z -> z[1] * z[2])), (a, b) -> a + b)
      / (qq.qn * c.cnrm) DESC, c.cid ASC) AS rn
    FROM cent c, qq
  ) WHERE rn <= 4
),
norm AS (
  SELECT vec_id, list_transform(raw, x -> x / nrm) AS v FROM (
    SELECT vec_id, embedding::DOUBLE[] AS raw,
           sqrt(list_reduce(list_prepend(0.0::DOUBLE,
                list_transform(embedding::DOUBLE[], x -> x * x)), (a, b) -> a + b)) AS nrm
    FROM embeddings WHERE embedding IS NOT NULL{corpus_pred}
  ) WHERE nrm > 0
),
assign AS (
  SELECT vec_id, v, centroid_id FROM (
    SELECT n.vec_id, n.v, c.cid AS centroid_id,
           row_number() OVER (PARTITION BY n.vec_id ORDER BY
             list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(list_zip(n.v, c.cvec), z -> z[1] * z[2])), (a, b) -> a + b)
             * c.invn DESC, c.cid ASC) AS rn
    FROM norm n, cent c
  ) WHERE rn = 1
),
cand AS (
  SELECT qq.qid, a.vec_id, a.v,
      {code_cols}
  FROM assign a
  JOIN probe p ON a.centroid_id = p.cid
  JOIN qq ON qq.qid = p.qid
  WHERE a.vec_id <> qq.qid{extra_pred}
),
short AS (
  SELECT qid, vec_id, v FROM (
    SELECT cand.qid, cand.vec_id, cand.v, par.sl,
           row_number() OVER (PARTITION BY cand.qid
                              ORDER BY ({adc_sum}) ASC, cand.vec_id ASC) AS rn
    FROM cand JOIN qq ON qq.qid = cand.qid, par
  ) WHERE rn <= sl
)
SELECT {qid_out}vec_id, round(l2, 6) AS l2_dist{flag_cols} FROM (
  SELECT qid, vec_id, l2,
         row_number() OVER (PARTITION BY qid ORDER BY l2 ASC, vec_id ASC) AS rn
  FROM (
    SELECT s.qid, s.vec_id,
           list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(list_zip(s.v, qq.v), z -> (z[1] - z[2]) * (z[1] - z[2]))), (a, b) -> a + b) AS l2
    FROM short s JOIN qq ON qq.qid = s.qid
  )
) WHERE rn <= {k}
ORDER BY qid, vec_id
"""


def _ann_serving_artifacts(spark, sf_dir: str, emb: DataFrame):
    """Pinned per-SF serving artifacts (plans/ann_artifact.py), or the
    in-query index-build fallback for unknown SFs (same recipe as
    tools/regen_ann_artifacts.py) — shared by the persistent-index
    entries."""
    import os

    from iheardai_data_pipeline_spark.operators import pq
    from iheardai_data_pipeline_spark.plans.ann_artifact import (
        IVF_CENTROIDS,
        IVFPQ_BOOKS,
    )

    key = os.path.basename(os.path.normpath(sf_dir))
    centroids = IVF_CENTROIDS.get(key)
    books = IVFPQ_BOOKS.get(key)
    if centroids is None or books is None:
        norm = pq.normalize_rows(emb)
        centroids = [
            v
            for _, v in similarity._collect_centroids(
                norm, 16, "vec_id", "embedding", "first"
            )
        ]
        books = pq.pq_train(norm, m=8, k=16, iters=1, allow_fewer=True)
    return centroids, books


@register(
    "x_sim_index_topk",
    oracle=_index_serve_oracle(),
    tags=("extension", "similarity", "approximate"),
    doc="PERSISTENT ANN serving (round 7; round 10: FULLY value-"
    "oracled): the corpus is indexed once into a PersistentAnnIndex — "
    "normalized vectors AND their PQ codes cluster-keyed under one OCC "
    "commit log, IVF centroids + codebooks pinned as the shipped "
    "artifact — then topk() probes 4 of 16 lists by reading ONLY those "
    "clusters' buckets, ADC-ranks the stored 8-byte codes, and exact-"
    "re-ranks the n/5 shortlist's vectors. The returned (vec_id, "
    "l2_dist) top-10 hash-matches a DuckDB replay of the ENTIRE serve "
    "(probe ranking, assignment, PQ encode, ADC shortlist, exact "
    "re-rank — identical left-fold float arithmetic, "
    "_index_serve_oracle), which closes the bug class the r7-r9 "
    "literal-flag gate could not see: engine and in-engine reference "
    "wrong the same way. Recall under per-SF-trained artifacts stays "
    "gated by x_sim_ivf_recall / x_sim_ivfpq_recall; bucket pruning is "
    "pinned by test_ann_index.py "
    "(operators/ann_index.py:PersistentAnnIndex).",
)
def x_sim_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    qid, qvec = _probe_vector(emb)
    shortlist = max(100, n // 5)
    root = ram_tempdir("annidx_")
    try:
        idx = PersistentAnnIndex.bootstrap(
            spark, root, emb, centroids=_SERVE_CENTROIDS, books=_SERVE_BOOKS
        )
        return idx.topk(
            qvec, k=10, nprobe=4, shortlist=shortlist, exclude_id=qid
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_sim_index_batch_topk",
    oracle=_index_serve_oracle(n_queries=8, k=5),
    tags=("extension", "similarity", "approximate"),
    doc="BATCH ANN serving (round 8; round 10: FULLY value-oracled): "
    "PersistentAnnIndex.topk_batch serves a FRAME of 8 query vectors "
    "in one distributed plan — centroid ranking and the per-query ADC "
    "lookup table as row-local expressions against one broadcast "
    "artifact row, codes/vectors reads bucket-pruned to the batch's "
    "DISTINCT probed clusters, per-query shortlists and final top-5 "
    "via query-keyed windows. No per-query driver loop (the last "
    "driver-side bottleneck class). The returned (query_id, vec_id, "
    "l2_dist) rows hash-match a DuckDB replay that recomputes EVERY "
    "query's serve independently (per-query windows over the identical "
    "fold arithmetic) — strictly stronger than the r8/r9 in-engine "
    "batch==per-query exceptAll gate, which could not catch a bug "
    "breaking topk and topk_batch identically. Bucket pruning pinned "
    "by test_ann_index.py:test_topk_batch_probes_buckets_not_whole_"
    "store (operators/ann_index.py:PersistentAnnIndex.topk_batch).",
)
def x_sim_index_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    shortlist = max(100, n // 5)
    # deterministic query frame: the 8 smallest vec_ids
    queries = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    root = ram_tempdir("annbatch_")
    try:
        idx = PersistentAnnIndex.bootstrap(
            spark, root, emb, centroids=_SERVE_CENTROIDS, books=_SERVE_BOOKS
        )
        return idx.topk_batch(
            queries, k=5, nprobe=4, shortlist=shortlist, exclude_self=True
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_sim_index_filtered_topk",
    oracle=_index_serve_oracle(extra_pred=" AND a.vec_id % 2 = 1"),
    tags=("extension", "similarity", "approximate"),
    doc="FILTERED ANN serving (round 9; round 10: FULLY value-oracled): "
    "top-k among vectors matching a metadata predicate (here vec_id%2=1 "
    "— the 'WHERE lang=en' serving shape). "
    "PersistentAnnIndex.topk(allowed=ids) PRE-filters the probed "
    "clusters' candidates before ADC ranking, so the whole shortlist is "
    "spent on qualifying vectors — a selective predicate cannot starve "
    "the result the way post-filtering the final k does; the semi-join "
    "is left to the optimizer (small id sets broadcast). The returned "
    "(vec_id, l2_dist) top-10 hash-matches the same DuckDB full-serve "
    "replay as x_sim_index_topk with ONE extra candidate predicate — "
    "exactly mirroring that the engine is the same plan with one extra "
    "semi-join, so a divergence anywhere in the pre-filter PLACEMENT "
    "(post-ADC instead of pre-ADC, pre-tombstone instead of post) "
    "changes the shortlist and fails the hash "
    "(operators/ann_index.py:topk).",
)
def x_sim_index_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    qid, qvec = _probe_vector(emb)
    shortlist = max(100, n // 5)
    allowed = emb.where(F.col("vec_id") % 2 == 1).select("vec_id")
    root = ram_tempdir("annfilt_")
    try:
        idx = PersistentAnnIndex.bootstrap(
            spark, root, emb, centroids=_SERVE_CENTROIDS, books=_SERVE_BOOKS
        )
        return idx.topk(
            qvec,
            k=10,
            nprobe=4,
            shortlist=shortlist,
            exclude_id=qid,
            allowed=allowed,
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_sim_index_filtered_batch_topk",
    oracle=_index_serve_oracle(
        extra_pred=" AND a.vec_id % 2 = 1", n_queries=8, k=5
    ),
    tags=("extension", "similarity", "approximate"),
    doc="FILTERED BATCH ANN serving (round 10): the production "
    "combination — a FRAME of 8 queries, each restricted to vectors "
    "matching a metadata predicate (vec_id%2=1), in one distributed "
    "plan ('nearest allowed neighbors for every record WHERE "
    "lang=en'). topk_batch(allowed=ids) applies the predicate to the "
    "probed clusters' live candidates BEFORE ADC ranking — the same "
    "placement as the single-query path, so every query's shortlist "
    "is spent on qualifying vectors. The returned (query_id, vec_id, "
    "l2_dist) rows hash-match the batch DuckDB replay with ONE extra "
    "candidate predicate; previously this combination was only "
    "unit-tested (operators/ann_index.py:PersistentAnnIndex."
    "topk_batch).",
)
def x_sim_index_filtered_batch_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    shortlist = max(100, n // 5)
    queries = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    allowed = emb.where(F.col("vec_id") % 2 == 1).select("vec_id")
    root = ram_tempdir("annfb_")
    try:
        idx = PersistentAnnIndex.bootstrap(
            spark, root, emb, centroids=_SERVE_CENTROIDS, books=_SERVE_BOOKS
        )
        return idx.topk_batch(
            queries,
            k=5,
            nprobe=4,
            shortlist=shortlist,
            exclude_self=True,
            allowed=allowed,
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _doc_serve_oracle(
    n_queries: int = 1, chunk_k: int = 50, k_docs: int = 5
) -> str:
    """DuckDB replay of PersistentAnnIndex.doc_topk / doc_topk_batch:
    the full chunk-level serve replay (_index_serve_oracle — probe
    ranking, PQ encode, ADC shortlist, exact re-rank, identical fold
    arithmetic) wrapped in the document reduction: join the served
    chunks' labels, MIN the rounded chunk distance per (query,)
    document, window-cut k_docs per query ordered (best_l2 ASC, label
    ASC). MIN over the already-rounded l2_dist doubles is order-
    independent, and the tie-break is total, so the doc-level answer
    value-replays end-to-end — a divergence anywhere in the serve OR
    the reduction fails the hash."""
    serve = _index_serve_oracle(n_queries=n_queries, k=chunk_k)
    if n_queries > 1:
        part, qid_out, qid_grp = "PARTITION BY s.query_id ", "query_id, ", "s.query_id, "
        order = "ORDER BY query_id, label"
    else:
        part, qid_out, qid_grp = "", "", ""
        order = "ORDER BY label"
    return f"""
WITH serve AS ({serve})
SELECT {qid_out}label, best_l2 FROM (
  SELECT {qid_grp}e.label, min(s.l2_dist) AS best_l2,
         row_number() OVER ({part}ORDER BY min(s.l2_dist) ASC, e.label ASC) AS rn
  FROM serve s JOIN embeddings e ON s.vec_id = e.vec_id
  GROUP BY {qid_grp}e.label
) WHERE rn <= {k_docs}
{order}
"""


@register(
    "x_sim_doc_maxsim_index",
    oracle=_doc_serve_oracle(),
    tags=("extension", "similarity", "approximate"),
    doc="INDEX-SERVED multi-vector document retrieval (round 11): the "
    "100 TB shape of x_sim_doc_maxsim_topk, whose exact brute-force "
    "scan stays as the baseline. Chunks (label members) are indexed "
    "once into the PersistentAnnIndex; doc_topk() serves the query's "
    "top-50 chunks through the bucket-pruned topk path (ONLY the 4 "
    "probed clusters' buckets are read, never the corpus), broadcast-"
    "joins the tiny chunk shortlist onto the label mapping, and "
    "reduces each document to its best chunk distance (min L2 over "
    "unit vectors == MaxSim) — top-5 docs as (label, best_l2). The "
    "answer hash-matches a DuckDB replay of the ENTIRE pipeline: the "
    "full chunk serve replay (_index_serve_oracle) plus the identical "
    "doc reduction (operators/ann_index.py:PersistentAnnIndex."
    "doc_topk).",
)
def x_sim_doc_maxsim_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    qid, qvec = _probe_vector(emb)
    shortlist = max(100, n // 5)
    root = ram_tempdir("anndoc_")
    try:
        idx = PersistentAnnIndex.bootstrap(
            spark, root, emb, centroids=_SERVE_CENTROIDS, books=_SERVE_BOOKS
        )
        return idx.doc_topk(
            qvec,
            labels=emb.select("vec_id", "label"),
            k_docs=5,
            chunk_k=50,
            nprobe=4,
            shortlist=shortlist,
            exclude_id=qid,
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_sim_doc_maxsim_index_batch",
    oracle=_doc_serve_oracle(n_queries=8),
    tags=("extension", "similarity", "approximate"),
    doc="BATCH index-served document retrieval (round 11): doc-level "
    "answers for a FRAME of 8 queries in one distributed plan — "
    "doc_topk_batch composes the bucket-pruned topk_batch chunk serve "
    "(row-local probe ranking + ADC tables, per-query windows, no "
    "driver loop) with a (query, label) group-MIN and a k_docs window "
    "that reuses the serve's query-keyed exchange. (query_id, label, "
    "best_l2) rows hash-match the DuckDB batch serve replay + doc "
    "reduction (operators/ann_index.py:PersistentAnnIndex."
    "doc_topk_batch).",
)
def x_sim_doc_maxsim_index_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    shortlist = max(100, n // 5)
    queries = (
        emb.orderBy("vec_id")
        .limit(8)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    root = ram_tempdir("anndocb_")
    try:
        idx = PersistentAnnIndex.bootstrap(
            spark, root, emb, centroids=_SERVE_CENTROIDS, books=_SERVE_BOOKS
        )
        return (
            idx.doc_topk_batch(
                queries,
                labels=emb.select("vec_id", "label"),
                k_docs=5,
                chunk_k=50,
                nprobe=4,
                shortlist=shortlist,
                exclude_self=True,
            )
            .orderBy("query_id", "label")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# HYBRID oracle for the ANN index LWW/tombstone path (round 8; round
# 10: the served rows are VALUE-replayed): after the 4-step churn
# (bootstrap seq 0 -> epoch-replayed append seq 2 -> tombstone delete
# seq 3 -> append seq 4) the index must serve EXACTLY the DuckDB
# replay of a serve over the final logical state (corpus_pred = all
# vectors minus the deleted) — a leaked tombstone, a lost append, or a
# replay-duplicated row changes the served multiset and fails the row
# hash. On top of the replay, two in-engine flags ride along: the
# fresh-build equality (exercises a second independent store-build
# path end-to-end) and the no-deleted-id scan. Compaction under the
# same churn is gated by its OWN entry (x_sim_index_compact) so this
# entry's recorded timing stays comparable round-over-round (VERDICT
# r9 #2's drift concern).
_INDEX_UPDATE_ORACLE = _index_serve_oracle(
    corpus_pred=" AND vec_id % 10 <> 0",
    flags=("serve_equals_fresh_build", "deleted_ids_absent"),
)


@register(
    "x_sim_index_update",
    oracle=_INDEX_UPDATE_ORACLE,
    tags=("extension", "similarity", "approximate"),
    doc="LWW delete/tombstone path of the persistent ANN index (round "
    "8): bootstrap on vec_id%2==0, epoch-guarded append of vec_id%4==1 "
    "REPLAYED (idempotence on the timed path — duplicate rows would "
    "break the equality gate), O(batch) tombstone DELETE of "
    "vec_id%10==0 (the id-keyed lookup relation routes each tombstone "
    "into the exact cluster bucket it must starve — the reference's "
    "M1/M2 last-write-wins contract, greatest seq wins, delete wins "
    "ties), append of vec_id%4==3, then topk serve. Gated three ways "
    "(round 10): the served (vec_id, l2_dist) rows hash-match the "
    "DuckDB replay of a serve over the final logical state, PLUS the "
    "in-engine fresh-build multiset equality and the no-deleted-id "
    "scan; compaction under the same churn is gated by "
    "x_sim_index_compact "
    "(operators/ann_index.py:PersistentAnnIndex.delete).",
)
def x_sim_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    qid, qvec = _probe_vector(emb)
    shortlist = max(100, n // 5)
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 4 == 1)
    b2 = emb.filter(F.col("vec_id") % 4 == 3)
    deleted = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id")
    final_state = emb.filter(F.col("vec_id") % 10 != 0)
    root = ram_tempdir("annupd_")
    root2 = ram_tempdir("annupd_fresh_")
    try:
        from iheardai_data_pipeline_spark.session import parallel_legs

        # the churned index and the fresh-build gate index are fully
        # independent builds on disjoint stores: overlap them (§2.6);
        # each leg pins its serve once so the gate compares checkpointed
        # frames instead of re-running the serve per gate job
        def churn_leg():
            idx = PersistentAnnIndex.bootstrap(
                spark, root, corpus,
                centroids=_SERVE_CENTROIDS, books=_SERVE_BOOKS,
            )
            idx.append(b1, seq=2, epoch="b1")
            idx.append(b1, seq=2, epoch="b1")  # replay: must no-op
            idx.delete(deleted, seq=3)
            idx.append(b2, seq=4)
            return idx.topk(
                qvec, k=10, nprobe=4, shortlist=shortlist, exclude_id=qid
            ).localCheckpoint(eager=True)

        def fresh_leg():
            fresh = PersistentAnnIndex.bootstrap(
                spark,
                root2,
                final_state,
                centroids=_SERVE_CENTROIDS,
                books=_SERVE_BOOKS,
            )
            return fresh.topk(
                qvec, k=10, nprobe=4, shortlist=shortlist, exclude_id=qid
            ).localCheckpoint(eager=True)

        got, want = parallel_legs(churn_leg, fresh_leg)
        # ONE gate job: the symmetric-difference rows and the
        # deleted-id rows counted together (was 3 jobs over an
        # UNCHECKPOINTED serve — 4 serve executions in total)
        gate = {
            r["k"]: r["n"]
            for r in got.exceptAll(want)
            .unionAll(want.exceptAll(got))
            .select(F.lit("diff").alias("k"))
            .unionAll(
                got.filter(F.col("vec_id") % 10 == 0).select(
                    F.lit("deleted").alias("k")
                )
            )
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        return got.select(
            "vec_id",
            "l2_dist",
            F.lit(gate.get("diff", 0) == 0).alias("serve_equals_fresh_build"),
            F.lit(gate.get("deleted", 0) == 0).alias("deleted_ids_absent"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root2, ignore_errors=True)


# HYBRID oracle for ANN compaction (round 10 — VERDICT r9 #3, lifting
# compact() from unit-only coverage onto the sweep's correctness path):
# after the same churn workflow as x_sim_index_update (bootstrap ->
# replayed append -> tombstone delete -> append), compact() must leave
# the POST-compact serve hash-matching the same final-state DuckDB
# replay (a wrong LWW fold order, a dropped live row, or a tombstone
# surviving the fold all change the served rows), and two in-engine
# flags ride along: row-identity to the PRE-compact serve, and
# physical reclamation — the codes relation's raw row count collapses
# to EXACTLY one row per live indexed id (strictly below the versioned
# pre-compact count, which carries the replays' duplicate-guarded
# appends and every tombstone).
_INDEX_COMPACT_ORACLE = _index_serve_oracle(
    corpus_pred=" AND vec_id % 10 <> 0",
    flags=("compact_serve_identical", "compact_reclaims_rows"),
)


@register(
    "x_sim_index_compact",
    oracle=_INDEX_COMPACT_ORACLE,
    tags=("extension", "similarity", "approximate"),
    doc="ANN index COMPACTION on the correctness path (round 10): the "
    "x_sim_index_update churn (bootstrap vec_id%2==0, epoch-replayed "
    "append %4==1, tombstone delete %10==0, append %4==3) followed by "
    "compact() — the vacuum of the upsert model, folding every "
    "relation to the live latest version per id under the LWW order "
    "(greatest seq wins, tombstone wins ties). Gated three ways (one "
    "output): the POST-compact served rows hash-match the final-state "
    "DuckDB replay, they are row-identical to the pre-compact serve "
    "(multiset-exact incl. distances), and the codes relation "
    "physically collapses to exactly one row per live id — strictly "
    "fewer rows than the versioned pre-compact state, so reclamation "
    "is real, not a no-op "
    "(operators/ann_index.py:PersistentAnnIndex.compact).",
)
def x_sim_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )
    from iheardai_data_pipeline_spark.operators.pq import normalize_rows

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    qid, qvec = _probe_vector(emb)
    shortlist = max(100, n // 5)
    corpus = emb.filter(F.col("vec_id") % 2 == 0)
    b1 = emb.filter(F.col("vec_id") % 4 == 1)
    b2 = emb.filter(F.col("vec_id") % 4 == 3)
    deleted = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id")
    final_state = emb.filter(F.col("vec_id") % 10 != 0)
    root = ram_tempdir("anncpt_")
    try:
        idx = PersistentAnnIndex.bootstrap(
            spark, root, corpus, centroids=_SERVE_CENTROIDS, books=_SERVE_BOOKS
        )
        idx.append(b1, seq=2, epoch="b1")
        idx.append(b1, seq=2, epoch="b1")  # replay: must no-op
        idx.delete(deleted, seq=3)
        idx.append(b2, seq=4)
        # pin the pre-compact serve: it is compared again AFTER
        # compact() rewrites the store, and must not re-read it
        before = idx.topk(
            qvec, k=10, nprobe=4, shortlist=shortlist, exclude_id=qid
        ).localCheckpoint(eager=True)
        phys_before = idx._store.read("codes").count()
        idx.compact()
        after = idx.topk(
            qvec, k=10, nprobe=4, shortlist=shortlist, exclude_id=qid
        ).localCheckpoint(eager=True)  # pinned once; gates below reuse it
        # ONE gate job: symmetric-difference rows, post-compact physical
        # rows, and the expected live count tallied together (was 4
        # jobs, two of them re-running the post-compact serve)
        gate = {
            r["k"]: r["n"]
            for r in before.exceptAll(after)
            .unionAll(after.exceptAll(before))
            .select(F.lit("diff").alias("k"))
            .unionAll(idx._store.read("codes").select(F.lit("phys").alias("k")))
            .unionAll(
                # exactly one physical row per live indexed id (NULL/
                # zero-norm rows were never indexed — normalize_rows)
                normalize_rows(final_state).select(F.lit("live").alias("k"))
            )
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        phys_after = gate.get("phys", 0)
        live_expected = gate.get("live", 0)
        return after.select(
            "vec_id",
            "l2_dist",
            F.lit(gate.get("diff", 0) == 0).alias("compact_serve_identical"),
            F.lit(
                phys_before > phys_after and phys_after == live_expected
            ).alias("compact_reclaims_rows"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_sim_index_merge",
    oracle=_index_serve_oracle(corpus_pred=" AND vec_id % 10 <> 0"),
    tags=("extension", "similarity", "approximate"),
    doc="Persistent ANN SHARD MERGE (round 11): how a 100 TB corpus is "
    "actually indexed — per-shard builds (embarrassingly parallel), "
    "then merge() folds a shard's entire versioned state into the "
    "serving index in ONE atomic O(shard) commit, version stamps "
    "carried verbatim so LWW order is preserved across the merge. "
    "Here shard A (vec_id%2==0) also carries a tombstone delete "
    "(%10==0, seq 3) to prove deletes survive merging; shard B is the "
    "odd half. After merge(B -> A), the serve must hash-match the "
    "DuckDB replay over the UNION's final logical state (all vectors "
    "minus the deleted) — exactly the union-built-index replay, so a "
    "dropped shard row, a stamp rewritten in transit, or a tombstone "
    "that failed to propagate all change the served multiset "
    "(operators/ann_index.py:PersistentAnnIndex.merge).",
)
def x_sim_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    qid, qvec = _probe_vector(emb)
    shortlist = max(100, n // 5)
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    deleted = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id")
    root_a = ram_tempdir("annmrg_a_")
    root_b = ram_tempdir("annmrg_b_")
    try:
        from iheardai_data_pipeline_spark.session import parallel_legs

        # the two shard builds are independent (disjoint stores):
        # overlap their bootstrap/delete job sequences (guide §2.6)
        def build_a():
            s = PersistentAnnIndex.bootstrap(
                spark,
                root_a,
                half_a,
                centroids=_SERVE_CENTROIDS,
                books=_SERVE_BOOKS,
            )
            s.delete(deleted, seq=3)
            return s

        def build_b():
            return PersistentAnnIndex.bootstrap(
                spark,
                root_b,
                half_b,
                centroids=_SERVE_CENTROIDS,
                books=_SERVE_BOOKS,
            )

        shard_a, shard_b = parallel_legs(build_a, build_b)
        shard_a.merge(shard_b, epoch="merge-b")
        shard_a.merge(shard_b, epoch="merge-b")  # replay: must no-op
        return shard_a.topk(
            qvec, k=10, nprobe=4, shortlist=shortlist, exclude_id=qid
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root_a, ignore_errors=True)
        shutil.rmtree(root_b, ignore_errors=True)


# --- text analysis ---------------------------------------------------------------

_STOPWORDS_SQL = ", ".join(f"'{w}'" for w in text.QUALITY_STOPWORDS)

# quality metrics CTE + score expression, shared by x_text_quality and
# the end-to-end curation pipeline oracle (ratio macros precomputed:
# f-string expression parts can't contain backslashes on py3.11)
_PUNCT_RATIO_SQL = sql_ratio_half_up(
    "len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))", "length(text)", 6
)
_STOPWORD_RATIO_SQL = sql_ratio_half_up(
    "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),"
    f" w -> w IN ({_STOPWORDS_SQL})))",
    "len(string_split_regex(lower(trim(text)), '\\s+'))",
    6,
)
_MEAN_WORD_LEN_SQL = sql_ratio_half_up(
    "list_sum(list_transform(string_split_regex(trim(text), '\\s+'), w -> length(w)))",
    "len(string_split_regex(trim(text), '\\s+'))",
    6,
)

_QUALITY_M_CTE = f"""m AS (
  SELECT doc_id,
    length(text) AS n_chars_raw,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens_ws,
    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens_bpe,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE {_PUNCT_RATIO_SQL} END AS punct_ratio,
    CASE WHEN length(lower(trim(text))) = 0 THEN 0.0
         ELSE {_STOPWORD_RATIO_SQL} END AS stopword_ratio,
    CASE WHEN length(trim(text)) = 0 THEN 0.0
         ELSE {_MEAN_WORD_LEN_SQL} END AS mean_word_len
  FROM documents
)"""

_QUALITY_EXPR = """
  (CASE WHEN n_chars_raw BETWEEN 200 AND 5000 THEN 30
        WHEN (n_chars_raw BETWEEN 50 AND 199) OR (n_chars_raw BETWEEN 5001 AND 20000) THEN 15
        ELSE 0 END
   + CASE WHEN stopword_ratio BETWEEN 0.05 AND 0.6 THEN 25 ELSE 0 END
   + CASE WHEN punct_ratio <= 0.2 THEN 25 ELSE 0 END
   + CASE WHEN mean_word_len BETWEEN 3 AND 12 THEN 20 ELSE 0 END)::INT
"""

_TEXT_QUALITY_ORACLE = f"""
WITH {_QUALITY_M_CTE}
SELECT doc_id, n_tokens_ws, n_tokens_bpe, punct_ratio, stopword_ratio, mean_word_len,
  {_QUALITY_EXPR} AS quality
FROM m
"""


@register(
    "x_text_quality",
    oracle=_TEXT_QUALITY_ORACLE,
    tags=("extension", "text"),
    doc="Per-document corpus stats: whitespace + BPE-ish token counts, "
    "punct/stopword ratios, mean word length, [0,100] quality score. "
    "All whole-stage-codegen column expressions.",
)
def x_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.with_text_quality_metrics(docs, "text").select(
        "doc_id",
        "n_tokens_ws",
        "n_tokens_bpe",
        "punct_ratio",
        "stopword_ratio",
        "mean_word_len",
        "quality",
    )


# Polynomial rolling hash over the normalized character stream; modulus
# keeps the accumulator < 2^50 so both engines stay in exact int64 range
# (DuckDB raises on BIGINT overflow, Spark would wrap silently).
_RH_MOD = 999999999999989

_FINGERPRINT_ORACLE = f"""
SELECT doc_id,
  md5({_NORM_SQL}) AS fingerprint,
  list_reduce(
    list_prepend(0::BIGINT,
      list_transform(string_split({_NORM_SQL}, ''), c -> ascii(c)::BIGINT)),
    (a, b) -> (a * 31 + b) % {_RH_MOD}) AS rolling_hash
FROM documents
"""


@register(
    "x_text_fingerprint",
    oracle=_FINGERPRINT_ORACLE,
    tags=("extension", "text"),
    doc="Document fingerprints: md5 + base-31 polynomial rolling hash of "
    "the normalized char stream (mod 1e15-ish prime, overflow-free).",
)
def x_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = text.normalize_text(F.col("text"))
    codes = F.transform(F.split(norm, ""), lambda c: F.ascii(c).cast("long"))
    rolling = F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * 31 + c) % F.lit(_RH_MOD),
    )
    return docs.select(
        "doc_id",
        text.fingerprint_md5(F.col("text")).alias("fingerprint"),
        rolling.alias("rolling_hash"),
    )


# --- multimodal plumbing ---------------------------------------------------------

# The stub decode kernel is sha256-derived, which DuckDB can reproduce
# exactly (sha256(text) hashes the same UTF-8 bytes the Spark side feeds
# the Python kernel), so even the mapInPandas path gets a full value oracle.
_MEDIA_ORACLE = f"""
SELECT doc_id AS media_id,
       'image' AS kind,
       octet_length(encode(text)) AS n_bytes,
       list_transform(generate_series(1, {multimodal.FEATURE_DIM}),
                      i -> ('0x' || substr(sha256(text), 2*i - 1, 2))::INT / 255.0)
         AS features
FROM documents
"""


@register(
    "x_media_features",
    oracle=_MEDIA_ORACLE,
    tags=("extension", "multimodal"),
    doc="Multimodal feature extraction: opaque binary payloads through an "
    "Arrow-batched mapInPandas decode kernel (deterministic sha256 stub; "
    "real codecs plug into the same shell).",
)
def x_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.attach_fake_media(load_table(spark, sf_dir, "documents"))
    return multimodal.extract_media_features(media)


# Resize oracle: the nearest-neighbor index math is pure integer
# arithmetic ((y*src_h)//H etc.), the raster layout is bytes zero-padded
# into a ceil(sqrt)-wide grid, and the payload is ASCII text — so DuckDB
# reproduces every output pixel and the byte-sum compares exactly.
_MEDIA_RESIZE_ORACLE = """
WITH src AS (
  SELECT doc_id AS media_id, text AS t,
         CAST(length(text) AS BIGINT) AS n,
         greatest(1, CAST(ceil(sqrt(CAST(length(text) AS DOUBLE))) AS BIGINT)) AS sw
  FROM documents WHERE text IS NOT NULL
),
dims AS (SELECT *, greatest(1, (n + sw - 1) // sw) AS sh FROM src),
px AS (
  SELECT media_id, n, t,
         ((y.y * sh) // 6) * sw + ((x.x * sw) // 8) AS idx
  FROM dims,
       unnest(generate_series(0, 5)) AS y(y),
       unnest(generate_series(0, 7)) AS x(x)
)
SELECT media_id,
       CAST(48 AS BIGINT) AS n_bytes,
       CAST(sum(CASE WHEN idx < n
                     THEN ord(substring(t, CAST(idx + 1 AS INT), 1))
                     ELSE 0 END) AS BIGINT) AS pixel_sum
FROM px GROUP BY media_id
"""


@register(
    "x_media_resize",
    oracle=_MEDIA_RESIZE_ORACLE,
    tags=("extension", "multimodal"),
    doc="Nearest-neighbor image resize (8x6) over opaque payloads: the "
    "resize is the real vectorized algorithm (integer source-index "
    "gather per output pixel, np.ix_ per image) in the Arrow-batched "
    "mapInPandas shell; only the codec decode is the documented "
    "deterministic-raster stand-in. Compared via exact per-image byte "
    "sums (operators/multimodal.py:resize_images).",
)
def x_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.attach_fake_media(load_table(spark, sf_dir, "documents"))
    resized = multimodal.resize_images(media, width=8, height=6)
    return multimodal.raster_checksums(resized)


_FRAMES_ORACLE = f"""
WITH m AS (SELECT doc_id AS media_id, text, length(text) AS n FROM documents),
f AS (SELECT media_id, text, n, unnest(range(0, 4)) AS frame_idx FROM m)
SELECT media_id, 'video' AS kind, CAST(frame_idx AS INT) AS frame_idx,
    (frame_idx * n) // 4 AS frame_start,
    ((frame_idx + 1) * n) // 4 - (frame_idx * n) // 4 AS frame_len,
    list_transform(generate_series(1, {multimodal.FEATURE_DIM}),
        i -> ('0x' || substr(sha256(substring(text, (frame_idx * n) // 4 + 1,
                      ((frame_idx + 1) * n) // 4 - (frame_idx * n) // 4)),
                      2*i - 1, 2))::INT / 255.0) AS features
FROM f
"""


@register(
    "x_media_frames",
    oracle=_FRAMES_ORACLE,
    tags=("extension", "multimodal"),
    doc="Video frame sampling: each payload fans out to 4 evenly-spaced "
    "frames through the mapInPandas decode shell, one typed row per "
    "frame (deterministic sha256 stub kernel; full value oracle).",
)
def x_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.attach_fake_media(
        load_table(spark, sf_dir, "documents"), kind="video"
    )
    return multimodal.sample_frames(media, n_frames=4)


# --- interval / range join -------------------------------------------------------

_RANGE_ORACLE = """
SELECT e1.event_id AS error_event_id, e1.user_id,
    e2.event_id AS other_event_id, e2.event_type AS other_type,
    epoch_us(e2.ts) - epoch_us(e1.ts) AS dt_us
FROM (SELECT * FROM events WHERE event_type = 'error') e1
JOIN events e2 ON e1.user_id = e2.user_id
    AND e2.ts >= e1.ts - INTERVAL 60 SECOND
    AND e2.ts <= e1.ts + INTERVAL 60 SECOND
    AND e2.event_id <> e1.event_id
"""


@register(
    "x_range_cooccur",
    oracle=_RANGE_ORACLE,
    tags=("extension", "join"),
    doc="Interval join (error co-occurrence): same-user events within "
    "+/-60s of each error event. Time-bucketed equi-join + residual "
    "filter (operators/rangejoin.py) — candidate volume bounded per "
    "(key, bucket), never per-key quadratic.",
)
def x_range_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.rangejoin import interval_join

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    others = ev.select("user_id", "ts", "event_id", "event_type")
    joined = interval_join(
        errors, others, on=["user_id"], left_ts="ts", right_ts="ts",
        lower_s=-60.0, upper_s=60.0,
    )
    return (
        joined.filter(F.col("event_id_r") != F.col("event_id"))
        .select(
            F.col("event_id").alias("error_event_id"),
            "user_id",
            F.col("event_id_r").alias("other_event_id"),
            F.col("event_type_r").alias("other_type"),
            (F.unix_micros("ts_r") - F.unix_micros("ts")).alias("dt_us"),
        )
    )


# --- as-of join ------------------------------------------------------------------

_ASOF_ORACLE = """
SELECT p.event_id, p.user_id,
    CAST(FLOOR(epoch(p.ts)) AS BIGINT) AS purchase_ts_s,
    round(p.value, 2) AS purchase_value,
    c.event_id AS click_event_id,
    CAST(FLOOR(epoch(c.ts)) AS BIGINT) AS click_ts_s
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
    ON p.user_id = c.user_id AND c.ts <= p.ts
"""


@register(
    "x_asof_attribution",
    oracle=_ASOF_ORACLE,
    tags=("extension", "join"),
    doc="As-of join (last-touch attribution): each purchase event joined "
    "to the same user's most recent click at-or-before it. Union + "
    "window composition — one keyed shuffle, no range join "
    "(operators/asof.py); oracle = DuckDB ASOF LEFT JOIN.",
)
def x_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id"],
        suffix="_click",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.unix_seconds("ts").alias("purchase_ts_s"),
        F.round("value", 2).alias("purchase_value"),
        F.col("event_id_click").alias("click_event_id"),
        F.unix_seconds("ts_click").alias("click_ts_s"),
    )


def _hyperplane_oracle(n_bits: int = 16, bands: int = 4, dim: int = 64) -> str:
    """Exact DuckDB replica of the hyperplane-LSH pair query.

    The sketch is *deterministic* (planes are sha256-derived ±1 constants,
    banding is exhaustive over all band keys), so the naive all-pairs SQL
    version of the same algorithm — literal plane matrix dot products for
    the sign bits, any-band-key-match join, exact-cosine verify — is
    provably equal to the banded Spark plan, pair for pair. ``dim`` is
    pinned to the test tables' embedding width (64); the Spark side
    probes it from data and lands on the same value.
    """
    planes = similarity._hyperplanes(n_bits, dim)
    r = n_bits // bands
    mask = (1 << r) - 1
    sigbits = " + ".join(
        "(CASE WHEN list_dot_product(v, ["
        + ",".join(str(v) for v in planes[b])
        + f"]::DOUBLE[]) >= 0 THEN {1 << b} ELSE 0 END)"
        for b in range(n_bits)
    )
    band_match = " OR ".join(
        f"((a.sig >> {r * i}) & {mask}) = ((b.sig >> {r * i}) & {mask})"
        for i in range(bands)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sig AS (SELECT vec_id, v, {sigbits} AS sig FROM e)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 6) AS sim
FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND ({band_match})
WHERE list_cosine_similarity(a.v, b.v) >= 0.4
"""


@register(
    "x_sim_hyperplane_lsh",
    oracle=_hyperplane_oracle(),
    tags=("extension", "similarity", "sketch"),
    doc="Cosine-LSH near-dup pairs via random-hyperplane signatures: "
    "banded equi-join candidates + exact-cosine verification — the "
    "no-blocking-key scale path beside IVF. Oracle = all-pairs SQL over "
    "the identically-computed deterministic sketch (banding is "
    "exhaustive, so the two are provably equal; recall vs the exact "
    "cosine answer is additionally pinned in unit tests).",
)
def x_sim_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.hyperplane_lsh_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, n_bits=16, bands=4
    )


# --- duplicate groups: connected components over the near-dup pair graph ---------

# Transitive closure of the exact n-gram Jaccard pairs (same CTEs as the
# pair oracle), via a recursive CTE; Spark side iterates min-label
# propagation to the same fixpoint.
_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTE},
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM shared
  JOIN counts ca ON shared.doc_a = ca.doc_id
  JOIN counts cb ON shared.doc_b = cb.doc_id
  WHERE {_JACCARD_SQL} >= 0.7
),
edges AS (
  SELECT doc_a AS node, doc_b AS nbr FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
cc AS (
  SELECT node, node AS label FROM (SELECT DISTINCT node FROM edges) t
  UNION
  SELECT e.nbr, cc.label FROM cc JOIN edges e ON cc.node = e.node
),
comp AS (SELECT node, min(label) AS component FROM cc GROUP BY node)
SELECT d.doc_id,
       coalesce(comp.component, d.doc_id) AS component,
       (d.doc_id = coalesce(comp.component, d.doc_id)) AS is_keeper
FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
"""


@register(
    "x_dedup_components",
    oracle=_COMPONENTS_ORACLE,
    tags=("extension", "dedup", "graph"),
    doc="Duplicate GROUPS from near-dup pairs: connected components "
    "(iterative min-label propagation; oracle = recursive CTE closure). "
    "Pairs alone can chain A~B~C without A~C — group identity needs the "
    "transitive closure, the step that actually dedups a corpus.",
)
def x_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.graph import duplicate_groups_from_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=5, threshold=0.7, max_doc_freq=100)
    return duplicate_groups_from_pairs(docs, pairs)


# --- tf-idf top terms ------------------------------------------------------------

_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc_id, term, tf, df,
         tf * ln((SELECT count(*) FROM documents) * 1.0 / df) AS tfidf
  FROM tf JOIN dfreq USING (term)
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df, round(tfidf, 4) AS tfidf, rnk
FROM ranked WHERE rnk <= 5
"""


@register(
    "x_text_tfidf",
    oracle=_TFIDF_ORACLE,
    tags=("extension", "text"),
    doc="Top-5 characteristic terms per document by tf-idf "
    "(tf * ln(N/df), deterministic term-asc tiebreak): two partial-agg "
    "shuffles + a term join + a per-doc top-k window.",
)
def x_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tfidf_top_terms(
        load_table(spark, sf_dir, "documents"), k=5
    ).withColumn("rnk", F.col("rnk").cast("long"))


# --- BM25 ranked retrieval --------------------------------------------------------

# Fixed query workload for the BM25 entries: literal strings so the
# Spark entry and the DuckDB oracle rank the identical queries.
BM25_QUERIES: tuple[tuple[int, str], ...] = (
    (0, "spark window merge"),
    (1, "vector hash join group"),
    (2, "slow scan filter"),
    (3, "customer the batch"),
)

# BM25 constants inlined via repr() so the Spark literal and the SQL
# literal parse to the SAME double (1.2 + 1.0 computed once, here).
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERY_VALUES = ", ".join(f"({i}, '{t}')" for i, t in BM25_QUERIES)

def _bm25_oracle_sql(src_sql: str, k: int = 5, allowed_sql: str = 'TRUE') -> str:
    """Full BM25 oracle over an arbitrary (doc_id, text) source CTE —
    the brute entry passes the raw documents table; the persistent-
    index entries pass the mutation scenario's FINAL live corpus (the
    final-state-replay pattern, as in _index_serve_oracle)."""
    return f"""
WITH q(query_id, qtext) AS (VALUES {_BM25_QUERY_VALUES}),
src AS ({src_sql}),
toks AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM src
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
),
qt AS (
  SELECT DISTINCT query_id,
         unnest(string_split(trim(regexp_replace(lower(qtext), '\\s+', ' ', 'g')), ' ')) AS term
  FROM q
),
m AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(FLOOR(
           ln(1.0 + ((s.n - dfreq.df) + 0.5) / (dfreq.df + 0.5))
           * ((tf.tf * {_BM25_K1 + 1.0!r}) /
              (tf.tf + {_BM25_K1!r} * ({1.0 - _BM25_B!r} + {_BM25_B!r} * (dl.dl / s.avgdl))))
           * 1000000.0
         ) AS BIGINT) AS micro
  FROM tf
  JOIN dfreq USING (term)
  JOIN qt USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
scored AS (
  SELECT query_id, doc_id,
         CAST(sum(micro) AS BIGINT) AS score_micro, count(*) AS n_terms
  FROM m GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score_micro DESC, doc_id ASC
  ) AS rnk
  FROM scored WHERE {allowed_sql}
)
SELECT query_id, doc_id, n_terms, score_micro,
       score_micro / 1000000.0 AS score, rnk
FROM ranked WHERE rnk <= {k}
"""


_BM25_ORACLE = _bm25_oracle_sql(
    "SELECT doc_id, text FROM documents WHERE text IS NOT NULL"
)

# The persistent-index entries' mutation scenario, as its FINAL live
# corpus (upsert wins over bootstrap, delete wins over both):
#   bootstrap all docs (seq 0) -> upsert doc_id%7==3 with appended
#   terms (seq 1) -> delete doc_id%5==0 (seq 2)
_BM25_SCENARIO_SRC = """
SELECT doc_id,
       CASE WHEN doc_id % 7 = 3
            THEN text || ' spark spark window' ELSE text END AS text
FROM documents WHERE text IS NOT NULL AND doc_id % 5 <> 0
"""

_BM25_INDEXED_ORACLE = _bm25_oracle_sql(_BM25_SCENARIO_SRC)

# Compact entry: same serve, plus the physical-reclamation gate as a
# pinned TRUE column (the x_sim_index_compact pattern — the gate rides
# in the hashed output so a reclamation bug fails the value compare).
_BM25_COMPACT_ORACLE = (
    "SELECT s.*, TRUE AS reclaimed_exact FROM ("
    + _bm25_oracle_sql(_BM25_SCENARIO_SRC)
    + ") s"
)

# Repair entry (round 14): same serve, plus two pinned TRUE gates —
# drift_detected (the un-epoched replay REALLY corrupted the
# maintained sums before the repair; a no-op corruption would prove
# nothing) and repaired_clean (repair_stats' post-audit is ok). The
# serve scores themselves are the third gate: they only match the
# brute replay if the healed (N, total_len, df) equal the exact live
# values.
_BM25_REPAIR_ORACLE = (
    "SELECT s.*, TRUE AS drift_detected, TRUE AS repaired_clean FROM ("
    + _bm25_oracle_sql(_BM25_SCENARIO_SRC)
    + ") s"
)


def _bm25_query_frame(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        list(BM25_QUERIES), "query_id long, qtext string"
    )


@register(
    "x_text_bm25_topk",
    oracle=_BM25_ORACLE,
    tags=("extension", "text", "retrieval"),
    doc="Okapi BM25 top-5 documents per query (ranked retrieval, the "
    "query-time complement of x_text_tfidf): one (doc, term) shuffle "
    "builds tf, df/doclen are rollups of it, the fixed query-term "
    "frame broadcasts onto tf so candidates are postings-of-query-"
    "terms (never a per-query corpus scan), and each per-term "
    "contribution floors into BIGINT micro-units before the per-"
    "(query, doc) sum — order-independent, replayed exactly in "
    "DuckDB. NOTE (DETERMINISM.md #7): the replay hinges on JVM "
    "Math.log == DuckDB ln bit-for-bit inside the floor — proven at "
    "3 SFs; a lone sweep failure in the bm25 family is a float-"
    "boundary suspect before it is a regression "
    "(operators/text.py:bm25_topk).",
)
def x_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bm25_topk(
        load_table(spark, sf_dir, "documents"),
        _bm25_query_frame(spark),
        k=5,
        k1=_BM25_K1,
        b=_BM25_B,
    )


def _bm25_prf_oracle_sql(
    src_sql: str, k: int = 5, fb_docs: int = 3, fb_terms: int = 2
) -> str:
    """Full two-pass PRF-BM25 replay: pass-1 ranking, integer
    expansion-term vote (tf * floor(idf*1e6), original terms excluded,
    term-asc ties), pass-2 ranking over the expanded term sets — the
    same CTE skeleton as _bm25_oracle_sql with the scoring body
    shared verbatim between the passes."""
    contrib = f"""CAST(FLOOR(
           ln(1.0 + ((s.n - dfreq.df) + 0.5) / (dfreq.df + 0.5))
           * ((tf.tf * {_BM25_K1 + 1.0!r}) /
              (tf.tf + {_BM25_K1!r} * ({1.0 - _BM25_B!r} + {_BM25_B!r} * (dl.dl / s.avgdl))))
           * 1000000.0
         ) AS BIGINT)"""
    return f"""
WITH q(query_id, qtext) AS (VALUES {_BM25_QUERY_VALUES}),
src AS ({src_sql}),
toks AS (
  SELECT doc_id,
         unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS term
  FROM src
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
  FROM dl
),
qt AS (
  SELECT DISTINCT query_id,
         unnest(string_split(trim(regexp_replace(lower(qtext), '\\s+', ' ', 'g')), ' ')) AS term
  FROM q
),
m1 AS (
  SELECT qt.query_id, tf.doc_id, {contrib} AS micro
  FROM tf
  JOIN dfreq USING (term)
  JOIN qt USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
s1 AS (
  SELECT query_id, doc_id, CAST(sum(micro) AS BIGINT) AS score_micro
  FROM m1 GROUP BY 1, 2
),
fb AS (
  SELECT query_id, doc_id FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY score_micro DESC, doc_id ASC
    ) AS rnk FROM s1
  ) WHERE rnk <= {fb_docs}
),
idfm AS (
  SELECT dfreq.term,
         CAST(FLOOR(ln(1.0 + ((s.n - dfreq.df) + 0.5) / (dfreq.df + 0.5))
                    * 1000000.0) AS BIGINT) AS idf_micro
  FROM dfreq CROSS JOIN stats s
),
cand AS (
  SELECT fb.query_id, tf.term,
         CAST(sum(tf.tf * idfm.idf_micro) AS BIGINT) AS w
  FROM fb JOIN tf USING (doc_id) JOIN idfm ON idfm.term = tf.term
  GROUP BY 1, 2
),
cand2 AS (
  SELECT c.query_id, c.term, c.w FROM cand c
  WHERE NOT EXISTS (
    SELECT 1 FROM qt WHERE qt.query_id = c.query_id AND qt.term = c.term
  )
),
exp AS (
  SELECT query_id, term FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY w DESC, term ASC
    ) AS rn FROM cand2
  ) WHERE rn <= {fb_terms}
),
qt2 AS (
  SELECT query_id, term FROM qt
  UNION
  SELECT query_id, term FROM exp
),
m2 AS (
  SELECT qt.query_id, tf.doc_id, {contrib} AS micro
  FROM tf
  JOIN dfreq USING (term)
  JOIN qt2 qt USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
scored AS (
  SELECT query_id, doc_id,
         CAST(sum(micro) AS BIGINT) AS score_micro, count(*) AS n_terms
  FROM m2 GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score_micro DESC, doc_id ASC
  ) AS rnk
  FROM scored
)
SELECT query_id, doc_id, n_terms, score_micro,
       score_micro / 1000000.0 AS score, rnk
FROM ranked WHERE rnk <= {k}
"""


@register(
    "x_text_bm25_prf",
    oracle=_bm25_prf_oracle_sql(
        "SELECT doc_id, text FROM documents WHERE text IS NOT NULL"
    ),
    tags=("extension", "text", "retrieval"),
    doc="Pseudo-relevance-feedback BM25 (Rocchio/RM3-lite — the "
    "classic second retrieval stage): pass 1 ranks with the raw "
    "query, the top-3 documents vote for expansion terms with EXACT "
    "integer weights (tf * floor(idf*1e6) summed as BIGINT — "
    "engine-order-independent, so both engines pick identical terms; "
    "original terms excluded, term-asc ties), the 2 best new terms "
    "join the query, and pass 2 re-ranks with the expanded set under "
    "the same micro-unit scoring discipline. tf/df/doclen build once "
    "and feed both passes; the expansion join touches only the "
    "feedback docs' tf rows. The whole two-pass pipeline replays "
    "bit-for-bit in DuckDB (operators/text.py:bm25_prf_topk).",
)
def x_text_bm25_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bm25_prf_topk(
        load_table(spark, sf_dir, "documents"),
        _bm25_query_frame(spark),
        k=5,
        fb_docs=3,
        fb_terms=2,
        k1=_BM25_K1,
        b=_BM25_B,
    )


def _bm25_scenario_frames(spark: SparkSession, sf_dir: str):
    """The indexed entries' shared mutation scenario: (bootstrap docs,
    upsert docs, delete-id frame) — mirrors _BM25_SCENARIO_SRC."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    boot = docs.select("doc_id", "text")
    upsert = docs.filter(F.col("doc_id") % 7 == 3).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" spark spark window")).alias("text"),
    )
    dele = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    return boot, upsert, dele


def _bm25_serve(spark: SparkSession, idx) -> DataFrame:
    return idx.topk(_bm25_query_frame(spark), k=5).localCheckpoint(
        eager=True
    )


@register(
    "x_text_bm25_indexed",
    oracle=_BM25_INDEXED_ORACLE,
    tags=("extension", "text", "retrieval", "incremental"),
    doc="Persistent inverted index serving BM25 (PostingsIndex — the "
    "retrieval member of the persistent-index family): bootstrap the "
    "corpus (seq 0, epoch-replayed append must no-op), UPSERT "
    "doc_id%7==3 with appended terms (seq 1 — the seq-equality "
    "liveness rule retires the stale postings without term-bucket "
    "tombstones), DELETE doc_id%5==0 (seq 2 — one doclens tombstone "
    "per doc, no term bucket touched), then serve the fixed query "
    "workload reading ONLY the query terms' postings buckets + the "
    "candidates' doclens buckets + the commit-count-sized stats "
    "deltas. Oracle = the brute BM25 SQL over the scenario's FINAL "
    "live corpus (final-state replay; a stale posting, resurrected "
    "delete, or drifted stats row changes a score and fails the hash) "
    "(operators/postings_index.py:PostingsIndex).",
)
def x_text_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )

    boot, upsert, dele = _bm25_scenario_frames(spark, sf_dir)
    root = ram_tempdir("bm25idx_")
    try:
        idx = PostingsIndex(spark, root, k1=_BM25_K1, b=_BM25_B)
        idx.append(boot, seq=0, epoch="boot")
        idx.append(boot, seq=0, epoch="boot")  # replay: must no-op
        idx.append(upsert, seq=1, epoch="upsert")
        idx.delete(dele, seq=2, epoch="delete")
        return _bm25_serve(spark, idx)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_text_bm25_prf_indexed",
    oracle=_bm25_prf_oracle_sql(_BM25_SCENARIO_SRC),
    tags=("extension", "text", "retrieval", "incremental"),
    doc="INDEX-SERVED pseudo-relevance-feedback BM25 (the production "
    "shape of x_text_bm25_prf, through the FULL mutation scenario): "
    "bootstrap + epoch-replayed append + upsert + delete, then "
    "PostingsIndex.prf_topk — pass 1 serves k=3 from probed term "
    "buckets, the expansion reads the feedback docs' term lists from "
    "the index's OWN doc-keyed forward relation (round 13 — no "
    "caller-supplied live corpus to drift out of sync) with the "
    "exact integer vote, the expansion terms' exact live df comes "
    "from the maintained termstats sums, and pass 2 re-serves the "
    "expanded term sets. Oracle = the brute two-pass PRF SQL over "
    "the scenario's FINAL live corpus, so a stale posting, a "
    "resurrected delete, or a drifted expansion vote in EITHER pass "
    "fails the hash "
    "(operators/postings_index.py:PostingsIndex.prf_topk).",
)
def x_text_bm25_prf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )

    boot, upsert, dele = _bm25_scenario_frames(spark, sf_dir)
    root = ram_tempdir("bm25prf_")
    try:
        idx = PostingsIndex(spark, root, k1=_BM25_K1, b=_BM25_B)
        idx.append(boot, seq=0, epoch="boot")
        idx.append(boot, seq=0, epoch="boot")  # replay: must no-op
        idx.append(upsert, seq=1, epoch="upsert")
        idx.delete(dele, seq=2, epoch="delete")
        return idx.prf_topk(
            _bm25_query_frame(spark),
            k=5,
            fb_docs=3,
            fb_terms=2,
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_text_bm25_prf_wand",
    oracle=_bm25_prf_oracle_sql(_BM25_SCENARIO_SRC),
    tags=("extension", "text", "retrieval", "incremental"),
    doc="PRUNED index-served PRF (round 14 — VERDICT r13 #1: the last "
    "retrieval path still on the unpruned serve): the SAME mutation "
    "scenario and UNCHANGED two-pass PRF oracle as "
    "x_text_bm25_prf_indexed, served with prf_topk(prune=True) — BOTH "
    "passes route through the max-score serve (maintained termstats "
    "for stats, essential-term candidate generation, doc-keyed "
    "forward-relation scoring), so a hot query term or a common "
    "idf-vote-surviving expansion term never re-grows the scoring "
    "exchange pruning killed on topk. Pruning is an evaluation-"
    "strategy change only: pass-1 feedback docs, the exact integer "
    "expansion vote, and the final ranking are bit-identical, which "
    "the unchanged brute oracle hashes "
    "(operators/postings_index.py:prf_topk).",
)
def x_text_bm25_prf_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )

    boot, upsert, dele = _bm25_scenario_frames(spark, sf_dir)
    root = ram_tempdir("bm25prfw_")
    try:
        idx = PostingsIndex(spark, root, k1=_BM25_K1, b=_BM25_B)
        idx.append(boot, seq=0, epoch="boot")
        idx.append(boot, seq=0, epoch="boot")  # replay: must no-op
        idx.append(upsert, seq=1, epoch="upsert")
        idx.delete(dele, seq=2, epoch="delete")
        return idx.prf_topk(
            _bm25_query_frame(spark),
            k=5,
            fb_docs=3,
            fb_terms=2,
            prune=True,
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_text_bm25_wand",
    oracle=_BM25_INDEXED_ORACLE,
    tags=("extension", "text", "retrieval", "incremental"),
    doc="Max-score/WAND-family PRUNED BM25 serving (round 12 — the "
    "hot-term scale lever VERDICT r11 named): the SAME mutation "
    "scenario and oracle as x_text_bm25_indexed, served with "
    "topk(prune=True). Per-term upper bounds idf(t)*sat(max live tf) "
    "pick each query's essential-term prefix; candidates come from "
    "essential postings only; the k-th best EXACT candidate score "
    "must strictly beat the non-essential suffix's UB sum before the "
    "iteration stops, so a doc matching only hot/low-impact terms "
    "NEVER enters the scoring exchange yet the result is EXACT top-k "
    "— identical rows, identical hash, against the UNCHANGED brute "
    "oracle. The serve also column-prunes the positions payload and "
    "resolves liveness against the mutation DELTA of doclens "
    "(parquet-stat file pruning) instead of a corpus-sized join "
    "(operators/postings_index.py:_topk_pruned).",
)
def x_text_bm25_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )

    boot, upsert, dele = _bm25_scenario_frames(spark, sf_dir)
    root = ram_tempdir("bm25wnd_")
    try:
        idx = PostingsIndex(spark, root, k1=_BM25_K1, b=_BM25_B)
        idx.append(boot, seq=0, epoch="boot")
        idx.append(upsert, seq=1, epoch="upsert")
        idx.delete(dele, seq=2, epoch="delete")
        return idx.topk(
            _bm25_query_frame(spark), k=5, prune=True
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_text_bm25_merge",
    oracle=_BM25_INDEXED_ORACLE,
    tags=("extension", "text", "retrieval", "incremental"),
    doc="PostingsIndex SHARD MERGE: two inverted-index shards built "
    "independently on disjoint corpus halves (doc_id%2), merge() "
    "folds shard B's postings/doclens/stats into A in one atomic "
    "O(shard) commit (rows verbatim — the seq-equality liveness rule "
    "resolves across shards; stats deltas are additive), then the "
    "SAME upsert+delete scenario runs through the merged index and "
    "the serve must equal x_text_bm25_indexed's oracle exactly — "
    "merge must be invisible to ranking (a lost posting changes df "
    "and every score in its term's lists) "
    "(operators/postings_index.py:PostingsIndex.merge).",
)
def x_text_bm25_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )

    from iheardai_data_pipeline_spark.session import parallel_legs

    boot, upsert, dele = _bm25_scenario_frames(spark, sf_dir)
    root_a = ram_tempdir("bm25mrg_a_")
    root_b = ram_tempdir("bm25mrg_b_")
    try:
        # the two shard builds are independent (disjoint stores, disjoint
        # id spaces): overlap their driver-sequenced append jobs
        def build(root, parity):
            idx = PostingsIndex(spark, root, k1=_BM25_K1, b=_BM25_B)
            idx.append(boot.filter(F.col("doc_id") % 2 == parity), seq=0)
            return idx

        a, b = parallel_legs(
            lambda: build(root_a, 0), lambda: build(root_b, 1)
        )
        a.merge(b, epoch="merge-b")
        a.merge(b, epoch="merge-b")  # replay: must no-op
        a.append(upsert, seq=1)
        a.delete(dele, seq=2)
        return _bm25_serve(spark, a)
    finally:
        shutil.rmtree(root_a, ignore_errors=True)
        shutil.rmtree(root_b, ignore_errors=True)


# --- BM25F: multi-field weighted retrieval (round 13) ------------------------------

# The documents table has one text column, so the fielded entries
# derive a deterministic two-field shape both engines can reproduce:
# title = the first 4 normalized tokens (weight 2.5), body = the full
# text (weight 1.0).
_BM25F_WEIGHTS = {"title": 2.5, "body": 1.0}


def _bm25f_doc_fields(docs: DataFrame) -> DataFrame:
    toks = F.split(text.normalize_text(F.col("text")), " ")
    return docs.select(
        "doc_id",
        F.array_join(F.slice(toks, 1, 4), " ").alias("title"),
        F.col("text").alias("body"),
    )


def _bm25f_oracle_sql(
    src_sql: str, k: int = 5, allowed_sql: str = "TRUE"
) -> str:
    """Full BM25F replay: the same field derivation, the exact BIGINT
    milli fold of the weighted tf (2500/1000 per token), and the
    fixed-parenthesization (x / 1000.0) re-entry into doubles — the
    bm25 oracle's skeleton on the weighted quantities."""
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    ntitle = "trim(regexp_replace(lower(title), '\\s+', ' ', 'g'))"
    nbody = "trim(regexp_replace(lower(body), '\\s+', ' ', 'g'))"
    return f"""
WITH q(query_id, qtext) AS (VALUES {_BM25_QUERY_VALUES}),
base AS ({src_sql}),
src AS (
  SELECT doc_id,
         array_to_string((string_split({norm}, ' '))[1:4], ' ') AS title,
         text AS body
  FROM base
),
toks AS (
  SELECT doc_id, unnest(string_split({ntitle}, ' ')) AS term, 2500 AS w
  FROM src WHERE title IS NOT NULL
  UNION ALL
  SELECT doc_id, unnest(string_split({nbody}, ' ')) AS term, 1000 AS w
  FROM src WHERE body IS NOT NULL
),
tf AS (
  SELECT doc_id, term, CAST(sum(w) AS BIGINT) AS tfm
  FROM toks GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
dl AS (SELECT doc_id, CAST(sum(tfm) AS BIGINT) AS dlm FROM tf GROUP BY 1),
stats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         (CAST(sum(dlm) AS DOUBLE) / 1000.0) / CAST(count(*) AS DOUBLE)
           AS avgdl
  FROM dl
),
qt AS (
  SELECT DISTINCT query_id,
         unnest(string_split(trim(regexp_replace(lower(qtext), '\\s+', ' ', 'g')), ' ')) AS term
  FROM q
),
m AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(FLOOR(
           ln(1.0 + ((s.n - dfreq.df) + 0.5) / (dfreq.df + 0.5))
           * (((tf.tfm / 1000.0) * {_BM25_K1 + 1.0!r}) /
              ((tf.tfm / 1000.0) + {_BM25_K1!r} * ({1.0 - _BM25_B!r} + {_BM25_B!r} * ((dl.dlm / 1000.0) / s.avgdl))))
           * 1000000.0
         ) AS BIGINT) AS micro
  FROM tf
  JOIN dfreq USING (term)
  JOIN qt USING (term)
  JOIN dl USING (doc_id)
  CROSS JOIN stats s
),
scored AS (
  SELECT query_id, doc_id,
         CAST(sum(micro) AS BIGINT) AS score_micro, count(*) AS n_terms
  FROM m GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY score_micro DESC, doc_id ASC
  ) AS rnk
  FROM scored WHERE {allowed_sql}
)
SELECT query_id, doc_id, n_terms, score_micro,
       score_micro / 1000000.0 AS score, rnk
FROM ranked WHERE rnk <= {k}
"""


@register(
    "x_text_bm25f",
    oracle=_bm25f_oracle_sql(
        "SELECT doc_id, text FROM documents WHERE text IS NOT NULL"
    ),
    tags=("extension", "text", "retrieval"),
    doc="Okapi BM25F — multi-field weighted retrieval (round 13, the "
    "standard production search shape): per-field weights (title "
    "x2.5, body x1.0) fold into term frequency BEFORE saturation "
    "(Robertson & Zaragoza's simple weighted-field BM25F), so a "
    "title hit outranks a body hit without double-counting "
    "saturation. tf_w/dl_w are EXACT BIGINT milli sums (weights "
    "validated as exact milli-units); doubles are entered once per "
    "contribution with a fixed parenthesization ((tfm/1000.0), "
    "avgdl=(total/1000.0)/N) and floored into micro-units, so the "
    "whole pipeline replays bit-for-bit in DuckDB "
    "(operators/text.py:bm25f_topk).",
)
def x_text_bm25f(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    return text.bm25f_topk(
        _bm25f_doc_fields(docs),
        _bm25_query_frame(spark),
        fields=_BM25F_WEIGHTS,
        k=5,
        k1=_BM25_K1,
        b=_BM25_B,
    )


@register(
    "x_text_bm25f_indexed",
    oracle=_bm25f_oracle_sql(_BM25_SCENARIO_SRC),
    tags=("extension", "text", "retrieval", "incremental"),
    doc="FIELDED PostingsIndex serving BM25F (round 13 — the "
    "persistent twin of x_text_bm25f, through the FULL mutation "
    "scenario): the index is created with pinned field weights "
    "(title x2.5, body x1.0 — part of the on-disk meta like k1/b), "
    "append folds each field's tf into an exact BIGINT milli sum "
    "riding the UNCHANGED postings/doclens/stats/forward/termstats "
    "machinery (seq-equality liveness, additive deltas), and the "
    "serve divides tf/dl by 1000 once per contribution — the "
    "unfielded serve is the same code at scale 1.0 (a bit-exact "
    "identity). Oracle = the brute BM25F SQL over the scenario's "
    "FINAL live corpus (operators/postings_index.py:PostingsIndex).",
)
def x_text_bm25f_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )

    boot, upsert, dele = _bm25_scenario_frames(spark, sf_dir)
    root = ram_tempdir("bm25f_")
    try:
        idx = PostingsIndex(
            spark,
            root,
            k1=_BM25_K1,
            b=_BM25_B,
            field_weights=_BM25F_WEIGHTS,
        )
        idx.append(_bm25f_doc_fields(boot), seq=0, epoch="boot")
        idx.append(_bm25f_doc_fields(boot), seq=0, epoch="boot")  # replay
        idx.append(_bm25f_doc_fields(upsert), seq=1, epoch="upsert")
        idx.delete(dele, seq=2, epoch="delete")
        return _bm25_serve(spark, idx)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_text_bm25f_filtered_wand",
    oracle=_bm25f_oracle_sql(
        _BM25_SCENARIO_SRC, allowed_sql="doc_id % 3 <> 1"
    ),
    tags=("extension", "text", "retrieval", "incremental"),
    doc="The COMPOSED production serve (round 13): one fielded "
    "(BM25F) index through the full mutation scenario, served with "
    "BOTH the tenant/ACL candidate mask (doc_id%3<>1 — filters "
    "candidates only; df/N/avgdl stay corpus-global) AND max-score "
    "pruning (prune=True — maintained termstats bounds, essential-"
    "bucket candidates, forward-fetch scoring) in a single call. "
    "Every serving axis the index ships — field weighting, metadata "
    "filtering, WAND-family pruning, maintained stats, seq-equality "
    "liveness — must compose EXACTLY: the oracle is the brute BM25F "
    "replay over the final live corpus with the predicate applied "
    "only before the rank cut, so a drift in any one axis (or any "
    "interaction between them) fails the hash "
    "(operators/postings_index.py:_topk_pruned).",
)
def x_text_bm25f_filtered_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )

    boot, upsert, dele = _bm25_scenario_frames(spark, sf_dir)
    allowed = boot.filter(F.col("doc_id") % 3 != 1).select("doc_id")
    root = ram_tempdir("bm25fw_")
    try:
        idx = PostingsIndex(
            spark,
            root,
            k1=_BM25_K1,
            b=_BM25_B,
            field_weights=_BM25F_WEIGHTS,
        )
        idx.append(_bm25f_doc_fields(boot), seq=0, epoch="boot")
        idx.append(_bm25f_doc_fields(upsert), seq=1, epoch="upsert")
        idx.delete(dele, seq=2, epoch="delete")
        return idx.topk(
            _bm25_query_frame(spark), k=5, allowed=allowed, prune=True
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- hybrid retrieval: RRF fusion of BM25 + embedding cosine -----------------------

# Each text query fuses with a semantic anchor vector (the embedding of
# vec_id = 7 * query_id — documents and embeddings share the id space).
_RRF_ANCHOR_VALUES = ", ".join(f"({i}, {7 * i})" for i, _ in BM25_QUERIES)

_HYBRID_RRF_ORACLE = f"""
WITH lex AS (
  SELECT query_id, doc_id, rnk
  FROM ({_bm25_oracle_sql("SELECT doc_id, text FROM documents WHERE text IS NOT NULL", k=20)})
),
anchors(query_id, aid) AS (VALUES {_RRF_ANCHOR_VALUES}),
sems AS (
  SELECT a.query_id, e.vec_id AS doc_id,
         row_number() OVER (
           PARTITION BY a.query_id
           ORDER BY round(list_cosine_similarity(
                      e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) DESC,
                    e.vec_id ASC
         ) AS rnk
  FROM anchors a
  JOIN embeddings q ON q.vec_id = a.aid
  CROSS JOIN embeddings e
  WHERE e.vec_id <> a.aid
),
sem AS (SELECT query_id, doc_id, rnk FROM sems WHERE rnk <= 20),
contrib AS (
  SELECT query_id, doc_id, 1000000 // (60 + rnk) AS c FROM lex
  UNION ALL
  SELECT query_id, doc_id, 1000000 // (60 + rnk) AS c FROM sem
),
fused AS (
  SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
         count(*) AS n_systems
  FROM contrib GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id ASC
  ) AS rnk
  FROM fused
)
SELECT query_id, doc_id, rrf_micro, n_systems, rnk
FROM ranked WHERE rnk <= 5
"""


@register(
    "x_hybrid_rrf_topk",
    oracle=_HYBRID_RRF_ORACLE,
    tags=("extension", "text", "retrieval", "similarity"),
    doc="Hybrid retrieval: Reciprocal Rank Fusion of the BM25 lexical "
    "top-20 (the fixed query workload) with an embedding-cosine "
    "semantic top-20 (anchor vector = embedding of vec_id 7*query_id; "
    "documents and embeddings share the id space) — the standard "
    "first fuse for text + vector search, needing no score "
    "calibration. Contributions are EXACT integers (1e6 div "
    "(60 + rank)), so the fused sum is order-independent and replays "
    "bit-for-bit; ranks inside each system use that system's proven "
    "deterministic order (micro-unit BM25; round-6 cosine with vec_id "
    "tiebreak) (operators/retrieval.py:rrf_fuse).",
)
def x_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from iheardai_data_pipeline_spark.operators.retrieval import rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = text.bm25_topk(
        docs, _bm25_query_frame(spark), k=20, k1=_BM25_K1, b=_BM25_B
    ).select("query_id", "doc_id", "rnk")
    anchor_ids = spark.createDataFrame(
        [(i, 7 * i) for i, _ in BM25_QUERIES], "query_id long, aid long"
    )
    anchors = anchor_ids.join(
        emb.select(F.col("vec_id").alias("aid"), F.col("embedding")), "aid"
    ).select(
        "query_id",
        "aid",
        F.col("embedding").alias("qvec"),
        similarity.vector_norm(F.col("embedding")).alias("qnorm"),
    )
    sim = similarity.dot_product(F.col("embedding"), F.col("qvec")) / (
        similarity.vector_norm(F.col("embedding")) * F.col("qnorm")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim"), F.asc("vec_id")
    )
    sem = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("aid"))
        .select(
            "query_id",
            F.col("vec_id"),
            F.round(sim, 6).alias("sim"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 20)
        .select("query_id", F.col("vec_id").alias("doc_id"), "rnk")
    )
    return rrf_fuse([lex, sem], k=5)


def _hybrid_indexed_oracle(allowed_mod: int | None = None) -> str:
    """RRF over two INDEX-SERVED rankings, both already value-proven:
    the BM25 oracle (k=20) and the ANN batch-serve replay
    (_index_serve_oracle, 4 queries = the 4 smallest vec_ids, which in
    the dense testdata id space are exactly the BM25 query ids 0-3).
    Ranks derive from each replay's own rows — l2_dist bit-identity
    (proven by x_sim_index_batch_topk at 3 SFs) makes the semantic
    rank cross-engine stable; the BM25 rank is integer by
    construction. ``allowed_mod``: when set, BOTH legs carry the same
    candidate predicate id % allowed_mod <> 1 — the filtered hybrid
    (tenant/ACL) shape."""
    lex_sql = _bm25_oracle_sql(
        "SELECT doc_id, text FROM documents WHERE text IS NOT NULL",
        k=20,
        allowed_sql=(
            f"doc_id % {allowed_mod} <> 1" if allowed_mod else "TRUE"
        ),
    )
    ann_sql = _index_serve_oracle(
        n_queries=4,
        k=20,
        extra_pred=(
            f" AND a.vec_id % {allowed_mod} <> 1" if allowed_mod else ""
        ),
    )
    return f"""
WITH lex AS (SELECT query_id, doc_id, rnk FROM ({lex_sql})),
ann AS (SELECT query_id, vec_id, l2_dist FROM ({ann_sql})),
sem AS (
  SELECT query_id, vec_id AS doc_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY l2_dist ASC, vec_id ASC
         ) AS rnk
  FROM ann
),
contrib AS (
  SELECT query_id, doc_id, 1000000 // (60 + rnk) AS c FROM lex
  UNION ALL
  SELECT query_id, doc_id, 1000000 // (60 + rnk) AS c FROM sem
),
fused AS (
  SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
         count(*) AS n_systems
  FROM contrib GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY rrf_micro DESC, doc_id ASC
  ) AS rnk
  FROM fused
)
SELECT query_id, doc_id, rrf_micro, n_systems, rnk
FROM ranked WHERE rnk <= 5
"""


@register(
    "x_hybrid_rrf_indexed",
    oracle=_hybrid_indexed_oracle(),
    tags=("extension", "text", "retrieval", "similarity", "incremental"),
    doc="INDEX-SERVED hybrid retrieval (the production shape of "
    "x_hybrid_rrf_topk): the lexical leg is PostingsIndex BM25 top-20 "
    "(probed term buckets only), the semantic leg is "
    "PersistentAnnIndex.topk_batch top-20 for the 4 smallest vec_ids "
    "(= the BM25 query ids in the dense testdata id space; probed "
    "cluster buckets only, pinned artifacts, exclude_self), fused by "
    "the same exact-integer RRF. Oracle = RRF over the two legs' own "
    "value-proven replays (the BM25 SQL at k=20 + _index_serve_oracle "
    "at 4 queries/k=20), so a drift in EITHER index's serve — or in "
    "the fusion — fails the hash (operators/retrieval.py:rrf_fuse).",
)
def x_hybrid_rrf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import Window

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )
    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )
    from iheardai_data_pipeline_spark.operators.retrieval import rrf_fuse

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    shortlist = max(100, n // 5)
    queries = (
        emb.orderBy("vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    root_p = ram_tempdir("hyb_pi_")
    root_a = ram_tempdir("hyb_ann_")
    try:
        from iheardai_data_pipeline_spark.session import parallel_legs

        # independent legs, overlapped (guide §2.6) — see x_hybrid_convex
        def lex_leg():
            pidx = PostingsIndex(spark, root_p, k1=_BM25_K1, b=_BM25_B)
            pidx.append(docs, seq=0)
            return pidx.topk(_bm25_query_frame(spark), k=20).select(
                "query_id", "doc_id", "rnk"
            ).localCheckpoint(eager=True)

        def sem_leg():
            aidx = PersistentAnnIndex.bootstrap(
                spark, root_a, emb,
                centroids=_SERVE_CENTROIDS, books=_SERVE_BOOKS,
            )
            served = aidx.topk_batch(
                queries, k=20, nprobe=4, shortlist=shortlist,
                exclude_self=True,
            )
            w = Window.partitionBy("query_id").orderBy(
                F.asc("l2_dist"), F.asc("vec_id")
            )
            return (
                served.withColumn("rnk", F.row_number().over(w).cast("long"))
                .select("query_id", F.col("vec_id").alias("doc_id"), "rnk")
                .localCheckpoint(eager=True)
            )

        lex, sem = parallel_legs(lex_leg, sem_leg)
        return rrf_fuse([lex, sem], k=5).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root_p, ignore_errors=True)
        shutil.rmtree(root_a, ignore_errors=True)


@register(
    "x_hybrid_rrf_filtered",
    oracle=_hybrid_indexed_oracle(allowed_mod=3),
    tags=("extension", "text", "retrieval", "similarity", "incremental"),
    doc="FILTERED index-served hybrid retrieval (round 12 — the "
    "production search shape: tenant/ACL filtering): ONE candidate "
    "predicate (id % 3 <> 1) flows through BOTH legs — "
    "PostingsIndex.topk(allowed=) masks the lexical candidates after "
    "liveness and before scoring (df/N/avgdl stay corpus-global), "
    "PersistentAnnIndex.topk_batch(allowed=) masks the probed "
    "clusters' live candidates before ADC ranking — then the same "
    "exact-integer RRF fuses the two filtered top-20 lists. Oracle = "
    "RRF over the two legs' own value-proven FILTERED replays (each "
    "leg's oracle + one predicate, exactly as each engine plan is the "
    "unfiltered plan + one semi-join), so a drift in either filtered "
    "serve or in the fusion fails the hash "
    "(operators/retrieval.py:rrf_fuse).",
)
def x_hybrid_rrf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pyspark.sql import Window

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )
    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )
    from iheardai_data_pipeline_spark.operators.retrieval import rrf_fuse

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    shortlist = max(100, n // 5)
    queries = (
        emb.orderBy("vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    lex_allowed = docs.where(F.col("doc_id") % 3 != 1).select("doc_id")
    sem_allowed = emb.where(F.col("vec_id") % 3 != 1).select("vec_id")
    root_p = ram_tempdir("hybf_pi_")
    root_a = ram_tempdir("hybf_ann_")
    try:
        from iheardai_data_pipeline_spark.session import parallel_legs

        # independent legs, overlapped (guide §2.6) — see x_hybrid_convex
        def lex_leg():
            pidx = PostingsIndex(spark, root_p, k1=_BM25_K1, b=_BM25_B)
            pidx.append(docs, seq=0)
            return pidx.topk(
                _bm25_query_frame(spark), k=20, allowed=lex_allowed
            ).select("query_id", "doc_id", "rnk").localCheckpoint(eager=True)

        def sem_leg():
            aidx = PersistentAnnIndex.bootstrap(
                spark, root_a, emb,
                centroids=_SERVE_CENTROIDS, books=_SERVE_BOOKS,
            )
            served = aidx.topk_batch(
                queries,
                k=20,
                nprobe=4,
                shortlist=shortlist,
                exclude_self=True,
                allowed=sem_allowed,
            )
            w = Window.partitionBy("query_id").orderBy(
                F.asc("l2_dist"), F.asc("vec_id")
            )
            return (
                served.withColumn("rnk", F.row_number().over(w).cast("long"))
                .select("query_id", F.col("vec_id").alias("doc_id"), "rnk")
                .localCheckpoint(eager=True)
            )

        lex, sem = parallel_legs(lex_leg, sem_leg)
        return rrf_fuse([lex, sem], k=5).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root_p, ignore_errors=True)
        shutil.rmtree(root_a, ignore_errors=True)


def _hybrid_convex_oracle(allowed_mod: int | None = None) -> str:
    """Convex fusion over the two legs' value-proven replays: the BM25
    oracle's score_micro and the ANN replay's l2_dist (hash-proven
    bit-identical at 3 SFs by x_sim_index_batch_topk) — per-query
    integer min-max normalization, 700/300 milli weights, all BIGINT
    (// on non-negative operands == Spark's DIV). ``allowed_mod``:
    when set, BOTH legs carry the same id % allowed_mod <> 1 candidate
    predicate BEFORE their top-20 cut AND before the per-leg min-max
    (the filtered-hybrid contract: normalization ranges over the
    filtered lists, exactly as each engine leg computes them)."""
    lex_sql = _bm25_oracle_sql(
        "SELECT doc_id, text FROM documents WHERE text IS NOT NULL",
        k=20,
        allowed_sql=(
            f"doc_id % {allowed_mod} <> 1" if allowed_mod else "TRUE"
        ),
    )
    ann_sql = _index_serve_oracle(
        n_queries=4,
        k=20,
        extra_pred=(
            f" AND a.vec_id % {allowed_mod} <> 1" if allowed_mod else ""
        ),
    )
    return _convex_fuse_sql(lex_sql, ann_sql)


def _convex_fuse_sql(lex_sql: str, ann_sql: str) -> str:
    """The shared convex-fusion CTE skeleton over an arbitrary lexical
    replay (any SQL yielding (query_id, doc_id, score_micro) rows —
    plain BM25, PRF, filtered) and the ANN replay: per-query exact
    BIGINT min-max over each leg's OWN rows, 700/300 milli weights,
    integral DIV throughout (DuckDB // on non-negative operands ==
    Spark's DIV)."""
    minmax = """
  SELECT query_id, doc_id,
         CASE WHEN max(s) OVER (PARTITION BY query_id)
                   = min(s) OVER (PARTITION BY query_id)
              THEN CAST(1000000 AS BIGINT)
              ELSE ((s - min(s) OVER (PARTITION BY query_id))
                    * CAST(1000000 AS BIGINT))
                   // (max(s) OVER (PARTITION BY query_id)
                       - min(s) OVER (PARTITION BY query_id))
         END AS norm
  FROM {src}
"""
    return f"""
WITH lex0 AS (
  SELECT query_id, doc_id, CAST(score_micro AS BIGINT) AS s
  FROM ({lex_sql})
),
ann0 AS (
  SELECT query_id, vec_id AS doc_id,
         -CAST(FLOOR(l2_dist * 1000000.0) AS BIGINT) AS s
  FROM ({ann_sql})
),
lexn AS ({minmax.format(src="lex0")}),
semn AS ({minmax.format(src="ann0")}),
contrib AS (
  SELECT query_id, doc_id, norm * 700 AS c FROM lexn
  UNION ALL
  SELECT query_id, doc_id, norm * 300 AS c FROM semn
),
fused AS (
  SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS convex_nano,
         count(*) AS n_systems
  FROM contrib GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY convex_nano DESC, doc_id ASC
  ) AS rnk
  FROM fused
)
SELECT query_id, doc_id, convex_nano, n_systems, rnk
FROM ranked WHERE rnk <= 5
"""


@register(
    "x_hybrid_convex",
    oracle=_hybrid_convex_oracle(),
    tags=("extension", "text", "retrieval", "similarity", "incremental"),
    doc="CONVEX (weighted score-interpolation) hybrid retrieval "
    "(round 13 — the shape tenant search usually ships NEXT TO RRF: "
    "alpha*bm25 + (1-alpha)*semantic keeps score GAPS that rank-only "
    "fusion discards): the lexical leg is PostingsIndex BM25 top-20 "
    "(exact integer score_micro), the semantic leg is "
    "PersistentAnnIndex.topk_batch top-20 with score "
    "-floor(l2_dist*1e6) (l2_dist hash-proven bit-identical at 3 SFs, "
    "so the floor is too), each leg min-max-normalized PER QUERY in "
    "exact BIGINT micro-units (integral DIV; all-tied legs pin to "
    "1e6), fused as 700*norm_lex + 300*norm_sem nano-units. Oracle = "
    "the same integer pipeline over the two legs' own value-proven "
    "replays, so a drift in either serve, either normalization, or "
    "the weighting fails the hash "
    "(operators/retrieval.py:convex_fuse).",
)
def x_hybrid_convex(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )
    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )
    from iheardai_data_pipeline_spark.operators.retrieval import convex_fuse

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    shortlist = max(100, n // 5)
    queries = (
        emb.orderBy("vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    root_p = ram_tempdir("hybc_pi_")
    root_a = ram_tempdir("hybc_ann_")
    try:
        from iheardai_data_pipeline_spark.session import parallel_legs

        # the two legs are independent until the fusion (disjoint
        # stores): overlap their build+serve job sequences (guide §2.6)
        def lex_leg():
            pidx = PostingsIndex(spark, root_p, k1=_BM25_K1, b=_BM25_B)
            pidx.append(docs, seq=0)
            return pidx.topk(_bm25_query_frame(spark), k=20).select(
                "query_id", "doc_id", F.col("score_micro").alias("score_int")
            ).localCheckpoint(eager=True)

        def sem_leg():
            aidx = PersistentAnnIndex.bootstrap(
                spark, root_a, emb,
                centroids=_SERVE_CENTROIDS, books=_SERVE_BOOKS,
            )
            return aidx.topk_batch(
                queries, k=20, nprobe=4, shortlist=shortlist,
                exclude_self=True,
            ).select(
                "query_id",
                F.col("vec_id").alias("doc_id"),
                (
                    F.floor(F.col("l2_dist") * F.lit(1000000.0)).cast("long")
                    * F.lit(-1)
                ).alias("score_int"),
            ).localCheckpoint(eager=True)

        lex, sem = parallel_legs(lex_leg, sem_leg)
        return convex_fuse(
            [(lex, 700), (sem, 300)], k=5
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root_p, ignore_errors=True)
        shutil.rmtree(root_a, ignore_errors=True)


@register(
    "x_hybrid_convex_filtered",
    oracle=_hybrid_convex_oracle(allowed_mod=3),
    tags=("extension", "text", "retrieval", "similarity", "incremental"),
    doc="FILTERED convex hybrid retrieval (round 14 — VERDICT r13 #5: "
    "x_hybrid_rrf_filtered proved filter-through-fusion for rank "
    "fusion; this is the score-interpolation twin): ONE tenant/ACL "
    "candidate predicate (id % 3 <> 1) flows through BOTH index-served "
    "legs — PostingsIndex.topk(allowed=) masks lexical candidates "
    "post-liveness/pre-scoring with corpus-global df/N/avgdl, "
    "PersistentAnnIndex.topk_batch(allowed=) masks the probed "
    "clusters' candidates before ADC ranking — then the exact-BIGINT "
    "per-query min-max normalization runs over the FILTERED top-20 "
    "lists and fuses 700/300 nano-units. Oracle = the same integer "
    "pipeline over the two legs' filtered replays, so a drift in "
    "either filtered serve, either normalization range, or the "
    "weighting fails the hash — any filter/normalization axis "
    "interaction is hash-gated (operators/retrieval.py:convex_fuse).",
)
def x_hybrid_convex_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )
    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )
    from iheardai_data_pipeline_spark.operators.retrieval import convex_fuse

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    shortlist = max(100, n // 5)
    queries = (
        emb.orderBy("vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    lex_allowed = docs.where(F.col("doc_id") % 3 != 1).select("doc_id")
    sem_allowed = emb.where(F.col("vec_id") % 3 != 1).select("vec_id")
    root_p = ram_tempdir("hybcf_pi_")
    root_a = ram_tempdir("hybcf_ann_")
    try:
        from iheardai_data_pipeline_spark.session import parallel_legs

        # independent legs, overlapped (guide §2.6) — see x_hybrid_convex
        def lex_leg():
            pidx = PostingsIndex(spark, root_p, k1=_BM25_K1, b=_BM25_B)
            pidx.append(docs, seq=0)
            return pidx.topk(
                _bm25_query_frame(spark), k=20, allowed=lex_allowed
            ).select(
                "query_id", "doc_id", F.col("score_micro").alias("score_int")
            ).localCheckpoint(eager=True)

        def sem_leg():
            aidx = PersistentAnnIndex.bootstrap(
                spark, root_a, emb,
                centroids=_SERVE_CENTROIDS, books=_SERVE_BOOKS,
            )
            return aidx.topk_batch(
                queries,
                k=20,
                nprobe=4,
                shortlist=shortlist,
                exclude_self=True,
                allowed=sem_allowed,
            ).select(
                "query_id",
                F.col("vec_id").alias("doc_id"),
                (
                    F.floor(F.col("l2_dist") * F.lit(1000000.0)).cast("long")
                    * F.lit(-1)
                ).alias("score_int"),
            ).localCheckpoint(eager=True)

        lex, sem = parallel_legs(lex_leg, sem_leg)
        return convex_fuse(
            [(lex, 700), (sem, 300)], k=5
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root_p, ignore_errors=True)
        shutil.rmtree(root_a, ignore_errors=True)


def _hybrid_convex_prf_oracle() -> str:
    """Convex fusion with the LEXICAL leg replaced by the full
    two-pass PRF replay at k=20 — the expansion terms change which
    docs the lexical leg surfaces AND their score_micro values, so
    the per-query min-max range (and with it every fused score)
    depends on the whole PRF pipeline being exact."""
    lex_sql = _bm25_prf_oracle_sql(
        "SELECT doc_id, text FROM documents WHERE text IS NOT NULL",
        k=20,
        fb_docs=3,
        fb_terms=2,
    )
    ann_sql = _index_serve_oracle(n_queries=4, k=20)
    return _convex_fuse_sql(lex_sql, ann_sql)


@register(
    "x_hybrid_convex_prf",
    oracle=_hybrid_convex_prf_oracle(),
    tags=("extension", "text", "retrieval", "similarity", "incremental"),
    doc="QUERY-EXPANDED convex hybrid retrieval (round 14 — the "
    "production composition PRF exists for: expand the lexical query "
    "from its own feedback docs, THEN fuse with the semantic leg): "
    "the lexical leg is PostingsIndex.prf_topk(prune=True) at k=20 — "
    "pass 1 at k=3 through the max-score serve, the exact integer "
    "expansion vote from the index's own forward relation, pass 2 "
    "re-served pruned — and the semantic leg is the ANN batch serve; "
    "both min-max-normalized per query in exact BIGINT and fused "
    "700/300. Oracle = the convex skeleton over the brute two-pass "
    "PRF replay at k=20 + the ANN replay, so a drift anywhere in the "
    "PRF pipeline (feedback ranking, vote, expanded rescoring), in "
    "the pruning, or in the fusion changes the normalization range "
    "and fails the hash (operators/retrieval.py:convex_fuse).",
)
def x_hybrid_convex_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.ann_index import (
        PersistentAnnIndex,
    )
    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )
    from iheardai_data_pipeline_spark.operators.retrieval import convex_fuse

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    ).select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    n = emb.count()
    shortlist = max(100, n // 5)
    queries = (
        emb.orderBy("vec_id")
        .limit(4)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    root_p = ram_tempdir("hybp_pi_")
    root_a = ram_tempdir("hybp_ann_")
    try:
        from iheardai_data_pipeline_spark.session import parallel_legs

        # independent legs, overlapped (guide §2.6) — see x_hybrid_convex
        def lex_leg():
            pidx = PostingsIndex(spark, root_p, k1=_BM25_K1, b=_BM25_B)
            pidx.append(docs, seq=0)
            return pidx.prf_topk(
                _bm25_query_frame(spark),
                k=20,
                fb_docs=3,
                fb_terms=2,
                prune=True,
            ).select(
                "query_id", "doc_id", F.col("score_micro").alias("score_int")
            ).localCheckpoint(eager=True)

        def sem_leg():
            aidx = PersistentAnnIndex.bootstrap(
                spark, root_a, emb,
                centroids=_SERVE_CENTROIDS, books=_SERVE_BOOKS,
            )
            return aidx.topk_batch(
                queries, k=20, nprobe=4, shortlist=shortlist,
                exclude_self=True,
            ).select(
                "query_id",
                F.col("vec_id").alias("doc_id"),
                (
                    F.floor(F.col("l2_dist") * F.lit(1000000.0)).cast("long")
                    * F.lit(-1)
                ).alias("score_int"),
            ).localCheckpoint(eager=True)

        lex, sem = parallel_legs(lex_leg, sem_leg)
        return convex_fuse(
            [(lex, 700), (sem, 300)], k=5
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root_p, ignore_errors=True)
        shutil.rmtree(root_a, ignore_errors=True)


# --- exact phrase retrieval -------------------------------------------------------

# Fixed phrase workload (a duplicate-term phrase, two bigrams, a
# unigram, a trigram — every base-shift counting edge).
PHRASE_QUERIES: tuple[tuple[int, str], ...] = (
    (0, "batch batch"),
    (1, "scan merge"),
    (2, "vector"),
    (3, "the fast key"),
)

_PHRASE_QUERY_VALUES = ", ".join(f"({i}, '{t}')" for i, t in PHRASE_QUERIES)

_PHRASE_TOKS_SQL = (
    "trim(regexp_replace(lower({col}), '\\s+', ' ', 'g'))"
)


def _phrase_oracle_sql(src_sql: str) -> str:
    """Exact-phrase top-k oracle over an arbitrary (doc_id, text)
    source — pure integer counting (base-shift completion), so there
    is no float discipline at all. 1-based DuckDB positions vs 0-based
    Spark positions cancel in the pos - idx shift."""
    norm_t = _PHRASE_TOKS_SQL.format(col="text")
    norm_q = _PHRASE_TOKS_SQL.format(col="qtext")
    return f"""
WITH pq(query_id, qtext) AS (VALUES {_PHRASE_QUERY_VALUES}),
src AS ({src_sql}),
toks AS (
  SELECT doc_id,
         unnest(string_split({norm_t}, ' ')) AS term,
         generate_subscripts(string_split({norm_t}, ' '), 1) AS pos
  FROM src
),
qt AS (
  SELECT query_id,
         unnest(string_split({norm_q}, ' ')) AS term,
         generate_subscripts(string_split({norm_q}, ' '), 1) AS idx
  FROM pq
),
qlen AS (SELECT query_id, count(*) AS phrase_len FROM qt GROUP BY 1),
hits AS (
  SELECT qt.query_id, toks.doc_id, toks.pos - qt.idx AS base
  FROM toks JOIN qt USING (term)
),
bases AS (
  SELECT query_id, doc_id, base, count(*) AS n_idx
  FROM hits GROUP BY 1, 2, 3
),
matched AS (
  SELECT b.query_id, b.doc_id, count(*) AS n_matches
  FROM bases b JOIN qlen USING (query_id)
  WHERE b.n_idx = qlen.phrase_len
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY n_matches DESC, doc_id ASC
  ) AS rnk
  FROM matched
)
SELECT query_id, doc_id, n_matches, rnk FROM ranked WHERE rnk <= 5
"""


_PHRASE_ORACLE = _phrase_oracle_sql(
    "SELECT doc_id, text FROM documents WHERE text IS NOT NULL"
)


def _phrase_query_frame(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        list(PHRASE_QUERIES), "query_id long, qtext string"
    )


@register(
    "x_text_phrase_topk",
    oracle=_PHRASE_ORACLE,
    tags=("extension", "text", "retrieval"),
    doc="Exact-phrase top-5 per query (overlapping occurrences count; "
    "duplicate-term phrases exact by base-shift completion counting): "
    "positional tokenize (posexplode), broadcast the phrase-term "
    "frame, shift each hit to its would-be base (pos - idx), a base "
    "completes iff all phrase indexes are present. Candidates are "
    "postings-of-phrase-terms, never a per-query corpus scan; the "
    "scoring is pure integer counting — no float discipline needed "
    "(operators/text.py:phrase_topk).",
)
def x_text_phrase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.phrase_topk(
        load_table(spark, sf_dir, "documents"),
        _phrase_query_frame(spark),
        k=5,
    )


_BM25_FILTERED_ORACLE = _bm25_oracle_sql(
    _BM25_SCENARIO_SRC, allowed_sql="doc_id % 3 <> 1"
)


@register(
    "x_text_bm25_filtered",
    oracle=_BM25_FILTERED_ORACLE,
    tags=("extension", "text", "retrieval", "incremental"),
    doc="Metadata-FILTERED BM25 serving (the postings twin of the ANN "
    "index's topk(allowed=)): the same mutation scenario, then the "
    "serve masked to doc_id%3<>1. The mask filters CANDIDATES ONLY — "
    "df/N/avgdl stay corpus-global (the search-engine filter-query "
    "contract: a filter narrows results without re-weighting "
    "collection statistics), so every surviving score is identical to "
    "the unfiltered serve's, which the oracle pins by replaying the "
    "FULL-corpus scoring and applying the predicate only before the "
    "rank cut (operators/postings_index.py:PostingsIndex.topk).",
)
def x_text_bm25_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )

    boot, upsert, dele = _bm25_scenario_frames(spark, sf_dir)
    allowed = boot.filter(F.col("doc_id") % 3 != 1).select("doc_id")
    root = ram_tempdir("bm25flt_")
    try:
        idx = PostingsIndex(spark, root, k1=_BM25_K1, b=_BM25_B)
        idx.append(boot, seq=0)
        idx.append(upsert, seq=1)
        idx.delete(dele, seq=2)
        return idx.topk(
            _bm25_query_frame(spark), k=5, allowed=allowed
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_PHRASE_INDEXED_ORACLE = _phrase_oracle_sql(_BM25_SCENARIO_SRC)


@register(
    "x_text_phrase_indexed",
    oracle=_PHRASE_INDEXED_ORACLE,
    tags=("extension", "text", "retrieval", "incremental"),
    doc="Exact-phrase retrieval served FROM the persistent inverted "
    "index's positional payload (PostingsIndex.phrase_topk): the same "
    "bootstrap + upsert + delete scenario as x_text_bm25_indexed, "
    "then the fixed phrase workload served reading only the phrase "
    "terms' postings buckets — positions ride each posting row "
    "(sorted in-document offsets), a hit shifts to its would-be base "
    "(pos - idx) and a base completes iff all phrase indexes are "
    "present. Oracle = the brute phrase SQL over the scenario's FINAL "
    "live corpus: a stale position list (an upsert that kept v0 "
    "offsets) or a resurrected delete changes a count and fails the "
    "hash. Pure integer scoring — no float discipline "
    "(operators/postings_index.py:PostingsIndex.phrase_topk).",
)
def x_text_phrase_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )

    boot, upsert, dele = _bm25_scenario_frames(spark, sf_dir)
    root = ram_tempdir("phridx_")
    try:
        idx = PostingsIndex(spark, root, k1=_BM25_K1, b=_BM25_B)
        idx.append(boot, seq=0)
        idx.append(upsert, seq=1)
        idx.delete(dele, seq=2)
        return idx.phrase_topk(
            _phrase_query_frame(spark), k=5
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_text_bm25_compact",
    oracle=_BM25_COMPACT_ORACLE,
    tags=("extension", "text", "retrieval", "incremental"),
    doc="PostingsIndex COMPACT on the correctness path (the "
    "x_sim_index_compact pattern): run the full mutation scenario "
    "(bootstrap + upsert + delete), compact() — doclens collapse to "
    "the live latest row, postings physically drop every row failing "
    "the seq-equality liveness rule, stats deltas fold to ONE row — "
    "then serve. The serve must STILL hash-match the final-state "
    "oracle (reclamation must be invisible to ranking), and the "
    "reclaimed_exact gate column pins the physical claim: post-compact "
    "postings rows == live (term, doc) pairs, doclens rows == live "
    "docs, stats rows == 1 "
    "(operators/postings_index.py:PostingsIndex.compact).",
)
def x_text_bm25_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )

    boot, upsert, dele = _bm25_scenario_frames(spark, sf_dir)
    root = ram_tempdir("bm25cpt_")
    try:
        idx = PostingsIndex(spark, root, k1=_BM25_K1, b=_BM25_B)
        idx.append(boot, seq=0)
        idx.append(upsert, seq=1)
        idx.delete(dele, seq=2)
        idx.compact()
        served = _bm25_serve(spark, idx)
        # physical-reclamation gate: exactly the live state remains
        n_live, _ = idx.stats()
        live_pairs = (
            boot.join(dele, "doc_id", "left_anti")
            .join(upsert.select("doc_id"), "doc_id", "left_anti")
            .unionByName(upsert.join(dele, "doc_id", "left_anti"))
            .select(
                "doc_id",
                F.explode(
                    F.array_distinct(
                        F.split(
                            text.normalize_text(F.col("text")), " "
                        )
                    )
                ).alias("term"),
            )
            .count()
        )
        postings_rows = idx._store.read("postings").count()
        doclens_rows = idx._store.read("doclens").count()
        stats_rows = idx._store.read("stats").count()
        live_docs = (
            boot.join(dele, "doc_id", "left_anti").select("doc_id").count()
        )
        gate = (
            postings_rows == live_pairs
            and doclens_rows == live_docs
            and stats_rows == 1
            and n_live == live_docs
        )
        return served.withColumn("reclaimed_exact", F.lit(gate))
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_text_bm25_repair",
    oracle=_BM25_REPAIR_ORACLE,
    tags=("extension", "text", "retrieval", "incremental"),
    doc="STATS-DRIFT REPAIR end-to-end (round 14 — repair_stats, the "
    "healer VERDICT r13 #3 asked for, driven through the value "
    "harness): the full mutation scenario, then the module-documented "
    "SILENT corruption — an UN-EPOCHED replay of the bootstrap batch "
    "(row relations self-heal through max_by; the stats AND termstats "
    "delta SUMS double-count, drifting every idf/avgdl score) — then "
    "verify_stats detects it (drift_detected gate) and repair_stats "
    "commits ONE corrective delta re-basing (N, total_len) and every "
    "drifted term's df (repaired_clean gate). The serve is the third "
    "gate: its scores hash-match the brute replay over the live corpus "
    "ONLY if the healed sums equal the exact live values — an "
    "unrepaired index scores every query wrong "
    "(operators/postings_index.py:repair_stats).",
)
def x_text_bm25_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.postings_index import (
        PostingsIndex,
    )

    boot, upsert, dele = _bm25_scenario_frames(spark, sf_dir)
    root = ram_tempdir("bm25rep_")
    try:
        idx = PostingsIndex(spark, root, k1=_BM25_K1, b=_BM25_B)
        idx.append(boot, seq=0, epoch="boot")
        idx.append(upsert, seq=1, epoch="upsert")
        idx.delete(dele, seq=2, epoch="delete")
        idx.append(boot, seq=0)  # UN-EPOCHED replay: silent drift
        rep = idx.repair_stats(epoch="repair")
        # "repaired" == the PRE-repair audit found real drift (one
        # audit fewer than a verify-then-repair sequence)
        drifted = bool(rep.get("repaired"))
        healed = bool(rep["ok"])
        return (
            _bm25_serve(spark, idx)
            .withColumn("drift_detected", F.lit(drifted))
            .withColumn("repaired_clean", F.lit(healed))
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- deterministic sampling / sharding -------------------------------------------

_SAMPLE_SHARD_ORACLE = """
WITH b AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS bucket
  FROM documents
)
SELECT doc_id, bucket % 8 AS shard FROM b WHERE bucket % 100 < 10
"""


@register(
    "x_sample_shard",
    oracle=_SAMPLE_SHARD_ORACLE,
    tags=("extension", "sampling"),
    doc="Deterministic 10% sample + 8-way shard assignment keyed on "
    "md5(doc_id): reproducible on any engine/run (md5 is portable, "
    "unlike xxhash), nested-sample stable, and a pure narrow filter — "
    "no shuffle, no RNG state, evaluated at scan speed.",
)
def x_sample_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.sampling import (
        assign_shards,
        deterministic_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    return assign_shards(deterministic_sample(docs, "doc_id", 10, 100), "doc_id", 8).select(
        "doc_id", "shard"
    )


# --- stratified sampling: per-language rebalance -----------------------------------

_STRATIFIED_ORACLE = """
WITH b AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS bucket
  FROM documents
)
SELECT doc_id, lang FROM b
WHERE CASE lang
        WHEN 'en' THEN bucket % 100 < 25
        WHEN 'zh' THEN bucket % 100 < 50
        ELSE bucket % 100 < 100
      END
"""


@register(
    "x_sample_stratified",
    oracle=_STRATIFIED_ORACLE,
    tags=("extension", "sampling"),
    doc="Stratified deterministic sample over documents: downsample the "
    "dominant language (en 25%), zh to 50%, keep the tail whole — the "
    "corpus-rebalance primitive. Same portable md5 keying as "
    "x_sample_shard (nested subsets, engine-independent), still a pure "
    "narrow filter at scan speed.",
)
def x_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        "doc_id",
        "lang",
        {"en": (25, 100), "zh": (50, 100)},
        default_rate=(100, 100),
    ).select("doc_id", "lang")


# --- end-to-end curation pipeline --------------------------------------------------

_CURATION_ORACLE = f"""
WITH {_QUALITY_M_CTE},
scored AS (
  SELECT d.doc_id, d.lang, m.n_tokens_ws, {_QUALITY_EXPR} AS quality,
         md5({_NORM_SQL}) AS fp
  FROM documents d JOIN m USING (doc_id)
),
good AS (SELECT * FROM scored WHERE quality >= 70),
kept AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM good
  ) WHERE rn = 1
)
SELECT doc_id, lang, quality, n_tokens_ws
FROM kept
WHERE CASE lang
        WHEN 'en' THEN
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 50
        ELSE TRUE
      END
"""


@register(
    "x_curation_pipeline",
    oracle=_CURATION_ORACLE,
    tags=("extension", "text", "dedup", "sampling", "pipeline"),
    doc="END-TO-END corpus curation in one plan: quality-score filter "
    "(>=70) -> exact dedup keeping min doc_id per fingerprint -> "
    "stratified rebalance (en halved, tail kept). The full training-"
    "data flow composed from the engine's own operators — narrow "
    "scoring, ONE shuffle for the dedup window, then a narrow sample "
    "filter; every stage deterministic and oracle-checked.",
)
def x_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from iheardai_data_pipeline_spark.operators.sampling import stratified_sample
    from iheardai_data_pipeline_spark.operators.text import fingerprint_md5

    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    scored = (
        text.with_text_quality_metrics(docs, "text")
        .select(
            "doc_id",
            "lang",
            "quality",
            "n_tokens_ws",
            fingerprint_md5(t).alias("fp"),
        )
        .filter(F.col("quality") >= 70)
    )
    keeper = F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    kept = scored.withColumn("rn", keeper).filter(F.col("rn") == 1)
    return stratified_sample(
        kept, "doc_id", "lang", {"en": (50, 100)}, default_rate=(100, 100)
    ).select("doc_id", "lang", "quality", "n_tokens_ws")


# --- token-budget shard packing ---------------------------------------------------

_PACK_ORACLE = """
WITH toks AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
  FROM documents
)
SELECT doc_id, n_tokens,
  -- CAST: DuckDB's integer window SUM is HUGEINT -> pandas float64,
  -- while Spark emits int64 (same divergence as a1_session_kpis r2)
  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    AS start_offset,
  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 20000 AS BIGINT)
    AS shard_id
FROM toks
"""


@register(
    "x_pack_token_shards",
    oracle=_PACK_ORACLE,
    tags=("extension", "packing", "window"),
    doc="Token-budget shard packing (sequence-packing manifest): every "
    "doc assigned to the contiguous ~20k-token training shard in which "
    "it starts. The oracle is the naive global running total; the "
    "engine computes it as a TWO-LEVEL prefix sum (bucketed local "
    "cumsum + broadcast bucket offsets, operators/packing.py) so no "
    "single reducer ever sees the whole corpus — the no-partition "
    "window trap a 100 TB manifest build cannot afford.",
)
def x_pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.packing import token_budget_shards
    from iheardai_data_pipeline_spark.operators.text import token_count_ws

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws(F.col("text")).alias("n_tokens")
    )
    return token_budget_shards(
        docs, order_col="doc_id", token_col="n_tokens", budget=20_000
    ).select("doc_id", "n_tokens", "start_offset", "shard_id")


# Best-fit-decreasing oracle (round 9 rewrite): DuckDB replays the
# IDENTICAL integer greedy — items sorted (size DESC, id ASC), best fit
# = smallest adequate residual, ties to the lowest bin id — as a
# RECURSIVE CTE that places exactly one item per language per step,
# carrying the open-bins list forward as a plain column. The round-8
# formulation folded the whole group through list_reduce, which DuckDB
# 1.x crashes on outright for this accumulator shape (INTERNAL
# "Attempted to dereference unique_ptr that is NULL" — the gate could
# never execute). The recursive restatement keeps every tie-break and
# the exact integer arithmetic, so assignments are still bit-identical
# to operators/packing.py:bfd_pack.


def _bfd_oracle(cap: int) -> str:
    rec = "STRUCT(bid INTEGER, free BIGINT)"
    # best-fit bin for the current item o against the carried bins s.bins:
    # smallest adequate residual, ties to the lowest bin id; NULL when no
    # open bin fits (list index past the end -> NULL).
    best = (
        "list_sort(list_transform(list_filter(s.bins, "
        "b -> b.free >= o.sz), "
        "b -> struct_pack(free := b.free, bid := b.bid)))[1]"
    )
    return f"""
WITH RECURSIVE toks AS (
  SELECT lang, CAST(doc_id AS BIGINT) AS id,
    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS sz
  FROM documents WHERE text IS NOT NULL
),
ordered AS (
  SELECT lang, id, sz,
    row_number() OVER (PARTITION BY lang ORDER BY sz DESC, id ASC) AS rn
  FROM toks
),
steps(lang, rn, bins, id, sz, bid) AS (
  SELECT lang, CAST(0 AS BIGINT), CAST([] AS {rec}[]),
         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS INTEGER)
  FROM (SELECT DISTINCT lang FROM ordered)
  UNION ALL
  SELECT o.lang, o.rn,
    CASE WHEN {best} IS NULL THEN
      list_append(s.bins, CAST(struct_pack(
        bid := CAST(len(s.bins) AS INTEGER),
        free := CAST({cap} AS BIGINT) - o.sz) AS {rec}))
    ELSE
      list_transform(s.bins, b -> CASE WHEN b.bid = {best}.bid
        THEN CAST(struct_pack(bid := b.bid, free := b.free - o.sz) AS {rec})
        ELSE b END)
    END,
    o.id, o.sz,
    CASE WHEN {best} IS NULL THEN CAST(len(s.bins) AS INTEGER)
         ELSE {best}.bid END
  FROM steps s JOIN ordered o ON o.lang = s.lang AND o.rn = s.rn + 1
),
nb AS (
  SELECT lang, CAST(len(arg_max(bins, rn)) AS INT) AS n_bins
  FROM steps GROUP BY lang
),
lbs AS (
  SELECT lang, CAST((SUM(sz) + {cap - 1}) // {cap} AS BIGINT) AS lb_bins
  FROM toks GROUP BY lang
)
SELECT s.lang, s.id AS doc_id, s.sz AS n_tokens, s.bid AS bin_id,
       nb.n_bins, lbs.lb_bins,
       (nb.n_bins * 9 <= 11 * lbs.lb_bins + 6) AS bound_ok
FROM steps s
JOIN nb ON nb.lang = s.lang
JOIN lbs ON lbs.lang = s.lang
WHERE s.rn >= 1
"""


@register(
    "x_pack_bfd_shards",
    oracle=_bfd_oracle(400),
    tags=("extension", "packing"),
    doc="Best-fit-decreasing shard packing (round 8; round 9: capacity "
    "400 so the sf-test corpora genuinely form multiple bins per "
    "language — at 20k everything fit in one bin and best-fit placement "
    "was never exercised): per-language BFD of whitespace token counts "
    "— items sorted (size DESC, id ASC), each into the fullest bin "
    "that still fits, never overflowing capacity (the prefix-sum "
    "packer hits the ceil(total/budget) lower bound only by "
    "overflowing). Each group folds in ONE row-local aggregate "
    "expression; groups distribute — the honest distribution of an "
    "inherently sequential greedy. Efficiency gated on the correctness "
    "path: bound_ok pins BFD's n <= (11*OPT + 6)/9 guarantee against "
    "the exact integer lower bound. Oracle = bit-identical recursive-"
    "CTE replay of the greedy (operators/packing.py:bfd_pack).",
)
def x_pack_bfd_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.packing import bfd_pack
    from iheardai_data_pipeline_spark.operators.text import token_count_ws

    cap = 400
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select(
            "lang", "doc_id", token_count_ws(F.col("text")).alias("n_tokens")
        )
    )
    packed = bfd_pack(docs, "lang", "doc_id", "n_tokens", capacity=cap)
    # integer DIV, not double division: token sums stay exact at any SF
    lbs = docs.groupBy("lang").agg(
        F.expr(
            f"CAST((SUM(CAST(n_tokens AS BIGINT)) + {cap - 1}) "
            f"DIV {cap} AS BIGINT)"
        ).alias("lb_bins")
    )
    return packed.join(F.broadcast(lbs), "lang").select(
        "lang",
        "doc_id",
        "n_tokens",
        "bin_id",
        "n_bins",
        "lb_bins",
        (F.col("n_bins") * 9 <= F.col("lb_bins") * 11 + 6).alias("bound_ok"),
    )


# --- BPE tokenization (round 5) ---------------------------------------------------

# Pinned tokenizer artifact: 24 merges learned by operators/bpe.py:
# bpe_train from the sf0.01 documents table (deterministic — max pair
# count, ties broken on the pair). Pinned rather than retrained per run
# because a tokenizer is a SHIPPED artifact: retraining inside the query
# would make token counts scale-factor-dependent and the oracle
# inexpressible. The oracle below replays the IDENTICAL merge chain
# (literal replace() has the same leftmost non-overlapping semantics in
# both engines), generated from this same constant.
_BPE_MERGES = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"), ("o", "w"),
    ("ow", "</w>"), ("o", "r"), ("s", "t"), ("h", "</w>"), ("a", "t"),
    ("l", "u"), ("i", "n"), ("a", "</w>"), ("g", "</w>"), ("y", "</w>"),
    ("a", "r"), ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
    ("jo", "in</w>"), ("a", "s"), ("as", "h</w>"), ("h", "ash</w>"),
]


def _bpe_oracle() -> str:
    from iheardai_data_pipeline_spark.operators.bpe import (
        doc_token_string_sql,
        merge_chain_sql,
        tokens_sql,
    )

    return f"""
WITH d AS (
  SELECT doc_id, {_NORM_SQL} AS t FROM documents WHERE text IS NOT NULL
),
s AS (SELECT doc_id, t, {doc_token_string_sql('t')} AS s0 FROM d),
m AS (SELECT doc_id, t, {merge_chain_sql('s0', _BPE_MERGES)} AS sm FROM s)
SELECT doc_id,
  CAST(len({tokens_sql('sm')}) AS BIGINT) AS n_bpe_tokens,
  CAST(CASE WHEN length(t) = 0 THEN 0
            ELSE len(string_split(t, ' ')) END AS BIGINT) AS n_ws_tokens
FROM m
"""


@register(
    "x_text_bpe_tokens",
    oracle=_bpe_oracle(),
    tags=("extension", "text", "tokenize"),
    doc="REAL BPE token counts (round 5): the pinned 24-merge tokenizer "
    "(trained by operators/bpe.py:bpe_train, distributed pair-count "
    "loop) applied as a chain of literal replace() ops over a "
    "delimiter-bounded token string — no UDF, no shuffle, and the "
    "DuckDB oracle replays the identical chain for a bit-exact check. "
    "Output: per-doc BPE vs whitespace token counts (the "
    "production-faithful budget for packing/chunking).",
)
def x_text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.bpe import bpe_apply
    from iheardai_data_pipeline_spark.operators.text import token_count_ws

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return bpe_apply(docs, _BPE_MERGES).select(
        "doc_id",
        "n_bpe_tokens",
        token_count_ws(F.col("text")).cast("long").alias("n_ws_tokens"),
    )


def _bpe_pack_oracle() -> str:
    from iheardai_data_pipeline_spark.operators.bpe import (
        doc_token_string_sql,
        merge_chain_sql,
        tokens_sql,
    )

    return f"""
WITH d AS (
  SELECT doc_id, {_NORM_SQL} AS t FROM documents WHERE text IS NOT NULL
),
s AS (SELECT doc_id, {doc_token_string_sql('t')} AS s0 FROM d),
toks AS (
  SELECT doc_id,
    CAST(len({tokens_sql(merge_chain_sql('s0', _BPE_MERGES))}) AS BIGINT)
      AS n_tokens
  FROM s
)
SELECT doc_id, n_tokens,
  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
    AS start_offset,
  CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 20000 AS BIGINT)
    AS shard_id
FROM toks
"""


@register(
    "x_pack_bpe_shards",
    oracle=_bpe_pack_oracle(),
    tags=("extension", "packing", "tokenize"),
    doc="Token-budget shard packing on REAL BPE counts (round 5): the "
    "same two-level prefix sum as x_pack_token_shards, but the budget "
    "is the pinned 24-merge tokenizer's token count instead of the "
    "whitespace stand-in — the production-faithful sequence-packing "
    "manifest. BPE apply is narrow; the only shuffle is the bucketed "
    "prefix sum.",
)
def x_pack_bpe_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.bpe import bpe_apply
    from iheardai_data_pipeline_spark.operators.packing import token_budget_shards

    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", "text")
    )
    counted = bpe_apply(docs, _BPE_MERGES).select(
        "doc_id", F.col("n_bpe_tokens").alias("n_tokens")
    )
    return token_budget_shards(
        counted, order_col="doc_id", token_col="n_tokens", budget=20_000
    ).select("doc_id", "n_tokens", "start_offset", "shard_id")


# --- unigram-LM tokenizer (round 9) -----------------------------------------------


def _unigram_oracle() -> str:
    from iheardai_data_pipeline_spark.operators.unigram import (
        viterbi_ctes_sql,
    )
    from iheardai_data_pipeline_spark.plans.unigram_artifact import (
        UNIGRAM_PIECES,
    )

    norm = (
        f"SELECT doc_id, {_NORM_SQL} AS norm FROM documents "
        "WHERE text IS NOT NULL"
    )
    return (
        "WITH RECURSIVE "
        + viterbi_ctes_sql(UNIGRAM_PIECES, norm).lstrip()
        + "\nSELECT doc_id, n_unigram_tokens, unigram_text FROM u_out"
    )


@register(
    "x_text_unigram_tokens",
    oracle=_unigram_oracle(),
    tags=("extension", "text", "tokenize"),
    doc="Unigram-LM (SentencePiece-style) tokenization (round 9): the "
    "pinned 55-piece tokenizer (plans/unigram_artifact.py — Viterbi "
    "hard-EM trained by operators/unigram.py:unigram_train, scores as "
    "BIGINT micro-log-probabilities) segments every word into its "
    "best-scoring piece sequence. Viterbi runs over the DISTINCT-word "
    "relation only (one span explode + one broadcast join builds a "
    "per-word score map — vocab scores are DATA, not expression "
    "literals — then two aggregate folds do the DP), joins back, and "
    "reassembles each document in word order. Pure integer max-plus "
    "arithmetic with total tie-orders, so the DuckDB oracle replays "
    "the identical DP (recursive CTE, one position per step) "
    "bit-exactly — tokens, not just counts.",
)
def x_text_unigram_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.unigram import unigram_apply
    from iheardai_data_pipeline_spark.plans.unigram_artifact import (
        UNIGRAM_PIECES,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return unigram_apply(docs, UNIGRAM_PIECES).select(
        "doc_id", "n_unigram_tokens", "unigram_text"
    )


def _unigram_vs_bpe_oracle() -> str:
    from iheardai_data_pipeline_spark.operators.bpe import (
        doc_token_string_sql,
        merge_chain_sql,
        tokens_sql,
    )
    from iheardai_data_pipeline_spark.operators.unigram import (
        viterbi_ctes_sql,
    )
    from iheardai_data_pipeline_spark.plans.unigram_artifact import (
        UNIGRAM_PIECES,
    )

    norm = (
        f"SELECT doc_id, {_NORM_SQL} AS norm FROM documents "
        "WHERE text IS NOT NULL"
    )
    return f"""
WITH RECURSIVE {viterbi_ctes_sql(UNIGRAM_PIECES, norm).lstrip()},
b_s AS (SELECT doc_id, norm AS t,
               {doc_token_string_sql('norm')} AS s0 FROM u_docs),
b AS (
  SELECT doc_id,
    CAST(len({tokens_sql(merge_chain_sql('s0', _BPE_MERGES))}) AS BIGINT)
      AS n_bpe_tokens,
    CAST(CASE WHEN length(t) = 0 THEN 0
              ELSE len(string_split(t, ' ')) END AS BIGINT) AS n_ws_tokens
  FROM b_s
)
SELECT u.doc_id, b.n_ws_tokens, b.n_bpe_tokens,
       u.n_unigram_tokens,
       (u.n_unigram_tokens <= b.n_ws_tokens * 10) AS sane_blowup
FROM u_out u JOIN b USING (doc_id)
"""


@register(
    "x_text_unigram_vs_bpe",
    oracle=_unigram_vs_bpe_oracle(),
    tags=("extension", "text", "tokenize"),
    doc="Tokenizer comparison (round 9): per-document whitespace vs "
    "BPE vs unigram-LM token counts from the two pinned in-engine "
    "tokenizers — the budget-model choice a packing/chunking pipeline "
    "makes, gated end-to-end (both token chains replayed bit-exactly "
    "by the oracle in one query). sane_blowup pins the subword "
    "fragmentation bound.",
)
def x_text_unigram_vs_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.bpe import bpe_apply
    from iheardai_data_pipeline_spark.operators.text import token_count_ws
    from iheardai_data_pipeline_spark.operators.unigram import unigram_apply
    from iheardai_data_pipeline_spark.plans.unigram_artifact import (
        UNIGRAM_PIECES,
    )

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    bpe = bpe_apply(docs, _BPE_MERGES).select(
        "doc_id",
        token_count_ws(F.col("text")).cast("long").alias("n_ws_tokens"),
        "n_bpe_tokens",
    )
    uni = unigram_apply(docs.select("doc_id", "text"), UNIGRAM_PIECES)
    return uni.join(bpe, "doc_id").select(
        "doc_id",
        "n_ws_tokens",
        "n_bpe_tokens",
        "n_unigram_tokens",
        (F.col("n_unigram_tokens") <= F.col("n_ws_tokens") * 10).alias(
            "sane_blowup"
        ),
    )


_PPL_THRESH_MICRO = 3_450_000  # nats/token in micro-units (~90th pct at sf0.01)


def _unigram_ppl_oracle() -> str:
    from iheardai_data_pipeline_spark.operators.unigram import (
        viterbi_ctes_sql,
    )
    from iheardai_data_pipeline_spark.plans.unigram_artifact import (
        UNIGRAM_PIECES,
    )

    norm = (
        f"SELECT doc_id, {_NORM_SQL} AS norm FROM documents "
        "WHERE text IS NOT NULL"
    )
    return f"""
WITH RECURSIVE {viterbi_ctes_sql(UNIGRAM_PIECES, norm).lstrip()}
SELECT doc_id, n_unigram_tokens, neg_logprob_micro,
       (neg_logprob_micro <= {_PPL_THRESH_MICRO} * n_unigram_tokens)
         AS ppl_keep
FROM u_out
"""


@register(
    "x_text_unigram_ppl",
    oracle=_unigram_ppl_oracle(),
    tags=("extension", "text", "quality"),
    doc="TRUE language-model perplexity filter (round 9): each "
    "document's total negative log-probability under the pinned "
    "unigram LM — the Viterbi DP's own maximized objective, summed "
    "over word occurrences in exact BIGINT micro-nats — gated as "
    "mean-per-token <= 3.45 nats by CROSS-MULTIPLICATION (neg_logprob "
    "<= thresh * n_tokens), so the keep flag never touches a float "
    "(the z-test/PageRank integer-exactness discipline). This is the "
    "real perplexity analog of the frequency-heuristic "
    "x_text_corpus_lm: a trained LM scoring, distributed as one "
    "distinct-word Viterbi + join-back, oracle-replayed bit-exactly.",
)
def x_text_unigram_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.unigram import unigram_apply
    from iheardai_data_pipeline_spark.plans.unigram_artifact import (
        UNIGRAM_PIECES,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = unigram_apply(docs, UNIGRAM_PIECES)
    return out.select(
        "doc_id",
        "n_unigram_tokens",
        "neg_logprob_micro",
        (
            F.col("neg_logprob_micro")
            <= F.lit(_PPL_THRESH_MICRO) * F.col("n_unigram_tokens")
        ).alias("ppl_keep"),
    )


# --- incremental-ingest dedup -----------------------------------------------------

_INCR_DEDUP_ORACLE = f"""
WITH corpus AS (
  SELECT DISTINCT md5({_NORM_SQL}) AS fingerprint
  FROM documents WHERE doc_id % 3 <> 0
),
incoming AS (
  SELECT doc_id, lang, md5({_NORM_SQL}) AS fingerprint
  FROM documents WHERE doc_id % 3 = 0
),
fresh AS (
  SELECT i.* FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fingerprint = i.fingerprint)
)
SELECT doc_id, lang, fingerprint FROM fresh
QUALIFY ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
"""


@register(
    "x_dedup_incremental",
    oracle=_INCR_DEDUP_ORACLE,
    tags=("extension", "dedup", "incremental"),
    doc="Incremental-ingest dedup: an incoming batch (doc_id%3=0) checked "
    "against the existing corpus's fingerprint index (doc_id%3<>0) with "
    "ONE left-anti join + an intra-batch keeper window on the same key. "
    "The index is the only state between runs; the corpus text is never "
    "rescanned (operators/dedup.py:incremental_dedup).",
)
def x_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select(
        text.fingerprint_md5(F.col("text")).alias("fingerprint")
    ).distinct()
    incoming = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "lang", "text")
    return dedup.incremental_dedup(incoming, corpus).select(
        "doc_id", "lang", "fingerprint"
    )


@register(
    "x_dedup_incremental_bloom",
    oracle=_INCR_DEDUP_ORACLE,
    tags=("extension", "dedup", "incremental", "sketch"),
    doc="Bloom-prefiltered incremental dedup (round 7): the corpus "
    "fingerprint index also maintains its Bloom sketch "
    "(sketch.bloom_build — <=m relational bit rows, folded to one "
    "broadcast m/64-word bitmap), and every incoming row tests its "
    "fingerprint ROW-LOCALLY before the anti-join; only rows probing "
    "TRUE (true dups + the (1-e^(-kn/m))^k false-positive rate) enter "
    "the shuffled corpus probe, rows probing FALSE are definitely new "
    "and bypass it. The oracle is x_dedup_incremental's, UNCHANGED — "
    "the no-false-negative contract makes the survivor set identical, "
    "which is exactly what this gate pins "
    "(operators/dedup.py:incremental_dedup, bloom_prefilter_flags).",
)
def x_dedup_incremental_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.sketch import bloom_build

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select(
        text.fingerprint_md5(F.col("text")).alias("fingerprint")
    ).distinct()
    bloom = bloom_build(corpus, "fingerprint", m=4096, k=6)
    incoming = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id", "lang", "text")
    return dedup.incremental_dedup(
        incoming, corpus, bloom=bloom, bloom_m=4096, bloom_k=6
    ).select("doc_id", "lang", "fingerprint")


# Persistent-fingerprint-index oracle (round 8): the one-shot
# incremental answer (the proven _INCR_DEDUP_ORACLE, nulls excluded so
# cross-batch null policy can't diverge) + the Bloom-maintenance gate
# as a pinned TRUE column — the engine compares the incrementally-
# appended bit relation against a one-shot bloom_build over all stored
# fingerprints (union+distinct merge algebra, exact by construction;
# the comparison runs ON the correctness path so a maintenance bug
# fails the hash compare).
_INDEXED_EXACT_ORACLE = f"""
WITH corpus AS (
  SELECT DISTINCT md5({_NORM_SQL}) AS fingerprint
  FROM documents WHERE doc_id % 3 <> 0 AND text IS NOT NULL
),
incoming AS (
  SELECT doc_id, lang, md5({_NORM_SQL}) AS fingerprint
  FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
),
fresh AS (
  SELECT i.* FROM incoming i
  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fingerprint = i.fingerprint)
)
SELECT doc_id, lang, fingerprint, TRUE AS bloom_bitexact FROM fresh
QUALIFY ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) = 1
"""


@register(
    "x_dedup_indexed_exact",
    oracle=_INDEXED_EXACT_ORACLE,
    tags=("extension", "dedup", "incremental", "sketch"),
    doc="Persistent exact-dedup fingerprint index (round 8): corpus "
    "fingerprints AND their Bloom sketch live as two relations of one "
    "OCC commit log (FingerprintIndex — the production state behind "
    "x_dedup_incremental_bloom). Bootstrap on doc_id%3<>0, then the "
    "incoming docs (doc_id%3=0) ingest in TWO id-ordered batches: each "
    "batch pre-filters row-locally against the driver-cached packed "
    "words, anti-joins only its suspects against the (bucket-prunable) "
    "fingerprint relation, and commits its survivors' fingerprints + "
    "bits atomically. Oracle = the one-shot incremental answer, plus "
    "the bloom_bitexact gate: the incrementally-maintained bit "
    "relation must equal a one-shot bloom_build over all stored "
    "fingerprints (operators/fingerprint_index.py:FingerprintIndex).",
)
def x_dedup_indexed_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.fingerprint_index import (
        FingerprintIndex,
    )
    from iheardai_data_pipeline_spark.operators.sketch import bloom_build

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    corpus = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    incoming = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "lang", "text"
    )
    root = ram_tempdir("fpidx_")
    try:
        idx = FingerprintIndex(
            spark, root, expected_docs=docs.count()
        )
        idx.append(corpus)
        hi = docs.agg(F.max("doc_id")).collect()[0][0] or 0
        cuts = [0, hi // 2 + 1, hi + 1]
        out = None
        for lo, up in zip(cuts, cuts[1:]):
            batch = incoming.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < up)
            )
            kept = idx.ingest(batch).select("doc_id", "lang", "fingerprint")
            out = kept if out is None else out.unionByName(kept)
        # Bloom-maintenance gate: incrementally-appended bits ==
        # one-shot build over all stored fingerprints, exact
        stored_bits = (
            idx._store.read("bloom_bits").select("bit").dropDuplicates(["bit"])
        )
        one_shot = bloom_build(
            idx._store.read("fingerprints").select("fingerprint").distinct(),
            "fingerprint",
            m=idx.m,
            k=idx.k,
        )
        # ONE gate job: both exceptAll directions counted together
        diff = (
            stored_bits.exceptAll(one_shot)
            .unionAll(one_shot.exceptAll(stored_bits))
            .count()
        )
        return (
            out.withColumn("bloom_bitexact", F.lit(diff == 0))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register(
    "x_dedup_indexed_merge",
    oracle=_INDEXED_EXACT_ORACLE,
    tags=("extension", "dedup", "incremental", "sketch"),
    doc="FingerprintIndex SHARD MERGE (round 11): two exact-dedup "
    "shards built independently on disjoint corpus halves "
    "(doc_id%3==1 and %3==2), merge() folds shard B's fingerprint + "
    "Bloom-bit relations into A in one atomic O(shard) commit (bit "
    "union == OR — the relation's merge algebra), then the incoming "
    "batch (doc_id%3==0) ingests through the MERGED index. Survivors "
    "must equal the one-shot incremental answer against the whole "
    "corpus (the x_dedup_indexed_exact oracle, unchanged — merge must "
    "be invisible to the gate) — a fingerprint lost in the merge "
    "admits a duplicate and fails the hash — and the merged bit "
    "relation must equal a one-shot bloom_build over all stored "
    "fingerprints (the pinned bloom_bitexact gate) "
    "(operators/fingerprint_index.py:FingerprintIndex.merge).",
)
def x_dedup_indexed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.fingerprint_index import (
        FingerprintIndex,
    )
    from iheardai_data_pipeline_spark.operators.sketch import bloom_build

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("text").isNotNull()
    )
    n_docs = docs.count()
    half_a = docs.filter(F.col("doc_id") % 3 == 1).select("doc_id", "text")
    half_b = docs.filter(F.col("doc_id") % 3 == 2).select("doc_id", "text")
    incoming = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "lang", "text"
    )
    root_a = ram_tempdir("fpmrg_a_")
    root_b = ram_tempdir("fpmrg_b_")
    try:
        from iheardai_data_pipeline_spark.session import parallel_legs

        # independent shard builds on disjoint stores: overlap (§2.6)
        def build(root, half):
            s = FingerprintIndex(spark, root, expected_docs=n_docs)
            s.append(half)
            return s

        shard_a, shard_b = parallel_legs(
            lambda: build(root_a, half_a), lambda: build(root_b, half_b)
        )
        shard_a.merge(shard_b, epoch="merge-b")
        shard_a.merge(shard_b, epoch="merge-b")  # replay: must no-op
        kept = shard_a.ingest(incoming).select("doc_id", "lang", "fingerprint")
        # merged-Bloom gate: merged bit relation == one-shot build over
        # ALL stored fingerprints (exact by the union algebra);
        # ONE gate job — both exceptAll directions counted together
        stored_bits = (
            shard_a._store.read("bloom_bits")
            .select("bit")
            .dropDuplicates(["bit"])
        )
        one_shot = bloom_build(
            shard_a._store.read("fingerprints")
            .select("fingerprint")
            .distinct(),
            "fingerprint",
            m=shard_a.m,
            k=shard_a.k,
        )
        diff = (
            stored_bits.exceptAll(one_shot)
            .unionAll(one_shot.exceptAll(stored_bits))
            .count()
        )
        return kept.withColumn(
            "bloom_bitexact", F.lit(diff == 0)
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root_a, ignore_errors=True)
        shutil.rmtree(root_b, ignore_errors=True)


# --- int8 embedding quantization --------------------------------------------------

_QUANT_ORACLE = """
WITH s AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
  FROM embeddings
)
SELECT vec_id, i AS idx,
  CASE WHEN scale > 0 THEN CAST(floor(v[i] / scale + 0.5) AS INT) ELSE 0 END AS q,
  scale
FROM s, unnest(generate_series(1, len(v))) t(i)
"""


@register(
    "x_sim_quantize_int8",
    oracle=_QUANT_ORACLE,
    tags=("extension", "similarity", "quantization"),
    doc="Symmetric per-vector int8 quantization (scale = amax/127), "
    "exploded to scalar (id, idx, q, scale) rows for the hash gate. "
    "The 8x index-memory lever for ANN at 100 TB; row-local, zero "
    "shuffles (operators/similarity.py:quantize_int8).",
)
def x_sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.quantize_int8(load_table(spark, sf_dir, "embeddings"))


# --- benchmark decontamination ----------------------------------------------------

_DECONTAM_ORACLE = f"""
WITH norm AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(ws) - 7, 0)),
                               i -> array_to_string(ws[i:i+7], ' '))) AS shingle
  FROM norm
),
test_sh AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % 20 = 0
),
corpus_sh AS (
  SELECT doc_id, shingle FROM sh WHERE doc_id % 20 <> 0
)
SELECT c.doc_id, count(*) AS n_collisions
FROM corpus_sh c JOIN test_sh t USING (shingle)
GROUP BY c.doc_id
"""


@register(
    "x_decontaminate",
    oracle=_DECONTAM_ORACLE,
    tags=("extension", "dedup", "decontamination"),
    doc="Benchmark decontamination: corpus docs (doc_id%20<>0) sharing "
    "any word 8-gram with the held-out eval split (doc_id%20=0), with "
    "collision counts — the standard pre-training contamination test. "
    "Test-side shingle set is the small side (broadcast-able probe); "
    "corpus side shingles row-locally and aggregates in one shuffle "
    "(operators/dedup.py:decontaminate).",
)
def x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 20 != 0)
    testset = docs.filter(F.col("doc_id") % 20 == 0)
    return dedup.decontaminate(corpus, testset, n=8)


# --- duplicate-group keeper by quality ---------------------------------------------

# Same transitive closure as x_dedup_components, but the keeper policy is
# the one a curation run actually wants: the highest-QUALITY doc per
# duplicate group (doc_id ascending as the tiebreak), not the min id.
_KEEPER_ORACLE = f"""
WITH RECURSIVE {_SHINGLE_CTE},
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 100),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b FROM shared
  JOIN counts ca ON shared.doc_a = ca.doc_id
  JOIN counts cb ON shared.doc_b = cb.doc_id
  WHERE {_JACCARD_SQL} >= 0.7
),
edges AS (
  SELECT doc_a AS node, doc_b AS nbr FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
cc AS (
  SELECT node, node AS label FROM (SELECT DISTINCT node FROM edges) t
  UNION
  SELECT e.nbr, cc.label FROM cc JOIN edges e ON cc.node = e.node
),
comp AS (SELECT node, min(label) AS component FROM cc GROUP BY node),
{_QUALITY_M_CTE},
docs AS (
  SELECT d.doc_id,
         coalesce(comp.component, d.doc_id) AS component,
         {_QUALITY_EXPR} AS quality
  FROM documents d
  LEFT JOIN comp ON d.doc_id = comp.node
  JOIN m ON m.doc_id = d.doc_id
)
SELECT component, group_size, doc_id AS keeper_doc_id, keeper_quality
FROM (
  SELECT component, doc_id,
         COUNT(*) OVER (PARTITION BY component) AS group_size,
         MAX(quality) OVER (PARTITION BY component) AS keeper_quality,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY quality DESC, doc_id) AS rn
  FROM docs
) WHERE rn = 1
"""


@register(
    "x_dedup_keeper_by_quality",
    oracle=_KEEPER_ORACLE,
    tags=("extension", "dedup", "graph"),
    doc="Duplicate-group keeper selection by QUALITY: transitive closure "
    "of the near-dup pairs, then one keeper per group chosen by "
    "(quality DESC, doc_id ASC) — the policy a curation run actually "
    "applies, vs the min-id convention of x_dedup_components. Reuses "
    "the components' shuffle; keeper pick is a per-group window.",
)
def x_dedup_keeper_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from iheardai_data_pipeline_spark.operators.graph import duplicate_groups_from_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=5, threshold=0.7, max_doc_freq=100)
    comp = duplicate_groups_from_pairs(docs, pairs).select("doc_id", "component")
    quality = text.with_text_quality_metrics(docs, "text").select("doc_id", "quality")
    joined = comp.join(quality, "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.max(F.when(F.col("__rn") == 1, F.col("doc_id"))).alias("keeper_doc_id"),
            F.max("quality").alias("keeper_quality"),
        )
    )


# --- web-corpus curation: line dedup, URL canonicalization, domain blocklist -------

_LINE_DEDUP_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws
  FROM documents WHERE text IS NOT NULL
),
seg AS (
  SELECT doc_id, i AS line_idx,
         array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS line
  FROM toks, unnest(generate_series(0, CAST(ceil(len(ws)/10.0) AS INT) - 1)) AS g(i)
),
freq AS (SELECT line, count(*) AS line_freq FROM seg GROUP BY line),
flagged AS (
  SELECT s.doc_id, s.line_idx, s.line, f.line_freq < 2 AS kept
  FROM seg s JOIN freq f USING (line)
)
SELECT doc_id,
  count(*) AS n_lines,
  CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  coalesce(string_agg(CASE WHEN kept THEN line END, ' ' ORDER BY line_idx), '')
    AS kept_text
FROM flagged GROUP BY doc_id
"""


@register(
    "x_dedup_lines",
    oracle=_LINE_DEDUP_ORACLE,
    tags=("extension", "dedup", "curation"),
    doc="C4/RefinedWeb-style line-level dedup: drop every line whose "
    "corpus-wide frequency >= 2, reassemble docs from kept lines in "
    "order. Frequency via groupBy (map-side combine kills boilerplate "
    "hot lines), never a per-line window.",
)
def x_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.line_dedup(
        load_table(spark, sf_dir, "documents"), words_per_line=10, min_freq=2
    )


_SUBSTRING_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws
  FROM documents WHERE text IS NOT NULL
),
spans AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(ws[i:(i+9)], ' ')) AS span_hash
  FROM toks, unnest(generate_series(1, greatest(len(ws) - 9, 0))) AS g(i)
),
dup AS (
  SELECT span_hash FROM spans GROUP BY span_hash
  HAVING count(DISTINCT doc_id) >= 2
),
covered AS (
  SELECT s.doc_id, s.pos, wp
  FROM spans s JOIN dup USING (span_hash),
       unnest(generate_series(s.pos, s.pos + 9)) AS c(wp)
),
perdoc AS (
  SELECT doc_id,
         CAST(count(DISTINCT pos) AS BIGINT) AS n_dup_spans,
         CAST(count(DISTINCT wp) AS BIGINT) AS dup_cover_words
  FROM covered GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(ws) AS BIGINT) AS n_words,
       CAST(greatest(len(ws) - 9, 0) AS BIGINT) AS n_spans,
       coalesce(p.n_dup_spans, 0) AS n_dup_spans,
       coalesce(p.dup_cover_words, 0) AS dup_cover_words
FROM toks t LEFT JOIN perdoc p USING (doc_id)
"""


@register(
    "x_dedup_substring",
    oracle=_SUBSTRING_ORACLE,
    tags=("extension", "dedup", "curation"),
    doc="Substring-level exact dedup (suffix-array-style span detection "
    "a la Lee et al. 2022): every overlapping 10-word span hashed "
    "row-locally to md5, corpus-wide document frequency per span hash, "
    "spans in >=2 distinct docs flagged; per doc, duplicated start "
    "positions and the distinct word positions they cover (the excision "
    "budget). Raw span strings never cross an exchange; the "
    "covered-position explode touches only the duplicated fraction "
    "(operators/dedup.py:duplicate_spans).",
)
def x_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.duplicate_spans(
        load_table(spark, sf_dir, "documents"), span_words=10, min_docs=2
    )


_SUBSTRING_EXCISE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws
  FROM documents WHERE text IS NOT NULL
),
spans AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(ws[i:(i+9)], ' ')) AS span_hash
  FROM toks, unnest(generate_series(1, greatest(len(ws) - 9, 0))) AS g(i)
),
dup AS (
  SELECT span_hash FROM spans GROUP BY span_hash
  HAVING count(DISTINCT doc_id) >= 2
),
covered AS (
  SELECT DISTINCT s.doc_id, wp
  FROM spans s JOIN dup USING (span_hash),
       unnest(generate_series(s.pos, s.pos + 9)) AS c(wp)
),
posn AS (
  -- materialized before the LEFT JOIN: DuckDB rejects outer joins
  -- correlated against a lateral unnest
  SELECT doc_id, g.i AS i, ws[g.i + 1] AS w
  FROM toks, unnest(generate_series(0, len(ws) - 1)) AS g(i)
),
kept AS (
  SELECT p.doc_id,
         CAST(count(CASE WHEN cv.wp IS NULL THEN 1 END) AS BIGINT) AS n_kept_words,
         coalesce(string_agg(CASE WHEN cv.wp IS NULL THEN p.w END,
                             ' ' ORDER BY p.i), '') AS kept_text
  FROM posn p
  LEFT JOIN covered cv ON cv.doc_id = p.doc_id AND cv.wp = p.i
  GROUP BY p.doc_id
)
SELECT t.doc_id, CAST(len(ws) AS BIGINT) AS n_words,
       k.n_kept_words, k.kept_text
FROM toks t JOIN kept k USING (doc_id)
"""


@register(
    "x_dedup_substring_excise",
    oracle=_SUBSTRING_EXCISE_ORACLE,
    tags=("extension", "dedup", "curation"),
    doc="Substring-dedup excision: every word position covered by a "
    "cross-doc duplicated 10-word span is cut and the document "
    "reassembled from the surviving words in order — keep the unique "
    "remainder instead of dropping the doc. Covered positions ride as a "
    "row-local array; reassembly is an index-aware transform filter, no "
    "second text shuffle (operators/dedup.py:excise_duplicate_spans).",
)
def x_dedup_substring_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.excise_duplicate_spans(
        load_table(spark, sf_dir, "documents"), span_words=10, min_docs=2
    )


# Deliberately messy URL synthesis shared VERBATIM by the Spark query
# (via F.expr) and the DuckDB oracle — http/https, WWW/case, default
# ports, tracking params, unsorted params, fragments, trailing slashes.
_MESSY_URL_CASE = """CASE event_id % 8
  WHEN 0 THEN 'https://www.Example.com/products/?utm_source=google&b=2&a=1#top'
  WHEN 1 THEN 'http://example.com:80/products?a=1&b=2'
  WHEN 2 THEN 'https://shop.example.com/item/' || CAST(user_id AS STRING) || '?gclid=abc123'
  WHEN 3 THEN 'https://SHOP.example.com:443/item/' || CAST(user_id AS STRING)
  WHEN 4 THEN 'https://blog.example.com/post/' || CAST(user_id AS STRING) || '/'
  WHEN 5 THEN 'http://www.blog.example.com/post/' || CAST(user_id AS STRING)
  WHEN 6 THEN 'https://ads.tracker.io/click?fbclid=xyz&id=' || CAST(event_id AS STRING)
  ELSE 'https://spam.example.net/lp#frag'
END"""

_URL_CANON_SQL_BODY = """
parsed AS (
  SELECT event_id, user_id,
    regexp_replace(regexp_replace(
      regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#\\\\]+)', 1)),
                     '^.*@', ''),
      ':(443|80)$', ''), '^www\\.', '') AS host,
    regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/?#\\\\]+([^?#]*)', 1),
                   '/+$', '') AS path,
    regexp_extract(url, '^[^#]*?\\?([^#]*)', 1) AS query
  FROM raw
),
canon AS (
  SELECT event_id, user_id,
    'https://' || host || path ||
      CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS canonical_url
  FROM (
    SELECT *, array_to_string(list_sort(list_filter(string_split(query, '&'),
      p -> len(p) > 0 AND NOT regexp_matches(p,
        '(?i)^(utm_[a-z]+|gclid|fbclid|msclkid|mc_eid)='))), '&') AS qs
    FROM parsed)
  WHERE host <> ''
)
"""

_URL_CANON_ORACLE = f"""
WITH raw AS (SELECT event_id, user_id, {_MESSY_URL_CASE} AS url FROM events),
{_URL_CANON_SQL_BODY.strip()}
SELECT canonical_url, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users
FROM canon GROUP BY canonical_url
"""


@register(
    "x_url_canonicalize",
    oracle=_URL_CANON_ORACLE,
    tags=("extension", "curation", "web"),
    doc="URL canonicalization for corpus dedup: force https, lowercase "
    "host, strip www/default port/fragment/tracking params, sort "
    "surviving params, strip trailing slash — then rollup per canonical "
    "URL. Canonicalization is row-local regex (scan speed); the only "
    "shuffle keys on the collapsed canonical string.",
)
def x_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.sources.batch import ensure_parallelism, eval_once

    # fan the single-split scan out (the regex chain is the per-row-heavy
    # step) and compute the canonicalization ONCE behind an eval-once
    # barrier — CollapseProject would otherwise inline the ~10-regex
    # expression into both the null filter and the aggregate key (2x).
    events = ensure_parallelism(load_table(spark, sf_dir, "events"))
    canon = eval_once(
        events.select("event_id", "user_id"),
        canonical_url=fe.canonical_url(F.expr(_MESSY_URL_CASE)),
    ).where(F.col("canonical_url").isNotNull())
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


_BLOCKLIST_DOMAINS = ["spam.example.net", "ads.tracker.io"]

_BLOCKLIST_ORACLE = f"""
WITH raw AS (SELECT event_id, {_MESSY_URL_CASE} AS url FROM events),
dom AS (
  SELECT event_id,
    regexp_replace(regexp_replace(
      regexp_replace(lower(regexp_extract(url, '^[a-zA-Z]+://([^/?#\\\\]+)', 1)),
                     '^.*@', ''),
      ':(443|80)$', ''), '^www\\.', '') AS domain
  FROM raw
)
SELECT domain, count(*) AS n_events
FROM dom
WHERE domain NOT IN ('spam.example.net', 'ads.tracker.io')
GROUP BY domain
"""


@register(
    "x_domain_blocklist",
    oracle=_BLOCKLIST_ORACLE,
    tags=("extension", "curation", "web"),
    doc="Domain-blocklist filter: canonical host per event, broadcast "
    "LEFT ANTI join against the blocklist table (the scale shape for a "
    "curated-denylist of any size — never an IN-list literal), then a "
    "per-domain rollup of what survives.",
)
def x_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.sources.batch import ensure_parallelism

    events = ensure_parallelism(load_table(spark, sf_dir, "events"))
    blocklist = F.broadcast(
        spark.createDataFrame(
            [(d,) for d in _BLOCKLIST_DOMAINS], ["domain"]
        )
    )
    dom = events.select(
        "event_id", fe.url_domain(F.expr(_MESSY_URL_CASE)).alias("domain")
    )
    return (
        dom.join(blocklist, "domain", "left_anti")
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_CAP_PER_SOURCE_ORACLE = """
SELECT source, doc_id, rk FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
) WHERE rk <= 40
"""


@register(
    "x_cap_per_source",
    oracle=_CAP_PER_SOURCE_ORACLE,
    tags=("extension", "curation", "sampling"),
    doc="Per-domain document cap (the anti-boilerplate mixing guard: no "
    "source may contribute more than K docs): keep the top-40 by size "
    "per source via one ranking window — a single shuffle on the "
    "source key, rank predicate applied before anything downstream.",
)
def x_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    )
    return (
        docs.select("source", "doc_id", rk.alias("rk"))
        .where(F.col("rk") <= 40)
    )


_CHUNK_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws
  FROM documents WHERE text IS NOT NULL
),
nc AS (
  SELECT doc_id, ws,
         CASE WHEN len(ws) <= 50 THEN 1
              ELSE CAST(ceil((len(ws) - 50)/25.0) AS INT) + 1 END AS n_chunks
  FROM toks
),
ch AS (
  SELECT doc_id, i AS chunk_idx,
         array_to_string(ws[(i*25+1):(i*25+50)], ' ') AS chunk_text
  FROM nc, unnest(generate_series(0, n_chunks - 1)) AS g(i)
)
SELECT doc_id, chunk_idx,
       len(string_split(chunk_text, ' ')) AS n_tokens,
       md5(chunk_text) AS chunk_md5,
       chunk_text
FROM ch
"""


@register(
    "x_chunk_documents",
    oracle=_CHUNK_ORACLE,
    tags=("extension", "curation", "text"),
    doc="Context-window chunking: 50-token chunks, stride 25 (overlap "
    "50%), per-chunk md5 for chunk-level dedup. Entirely row-local "
    "(split + slice + posexplode) — no shuffle at any corpus size.",
)
def x_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_tokens=50, stride=25
    )


def _pagerank_oracle(iters: int = 3, scale: int = 1_000_000) -> str:
    """Unrolled-SQL replica of the fixed-iteration integer PageRank: one
    CTE per iteration, all arithmetic BIGINT floor division — provably
    equal to the Spark loop because every operation is the same exact
    integer op (no float summation anywhere)."""
    it_prev = "pr0"
    its = []
    for i in range(1, iters + 1):
        its.append(f"""
it{i} AS (
  SELECT nodes.node,
         CAST((({scale} * 15 // 100) // n) + coalesce(c.inflow, 0) AS BIGINT) AS pr
  FROM nodes CROSS JOIN params
  LEFT JOIN (
    SELECT dst AS node, CAST(sum((pr * 17) // (20 * outdeg)) AS BIGINT) AS inflow
    FROM e JOIN {it_prev} ON e.src = {it_prev}.node
    JOIN outdeg USING (src)
    GROUP BY dst
  ) c ON nodes.node = c.node
)""")
        it_prev = f"it{i}"
    return f"""
WITH e AS (
  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
         CAST(o_custkey + 1000000 AS BIGINT) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
params AS (SELECT count(*) AS n FROM nodes),
outdeg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
pr0 AS (SELECT node, CAST({scale} // n AS BIGINT) AS pr FROM nodes CROSS JOIN params),
{",".join(its)}
SELECT node, pr AS pr_micro FROM {it_prev}
ORDER BY pr_micro DESC, node LIMIT 50
"""


@register(
    "x_graph_pagerank",
    oracle=_pagerank_oracle(),
    tags=("extension", "graph", "iterative"),
    doc="Fixed-iteration PageRank (3 rounds, damping 17/20) over the "
    "supplier->customer fulfillment graph, computed entirely in BIGINT "
    "micro-units with floor division — the iterative-algorithm "
    "determinism pattern: no float summation, so the Spark loop and the "
    "unrolled-SQL oracle are bit-identical. Per round: one equi-join of "
    "the |nodes|-row rank relation onto the edges + one partial-agg "
    "groupBy; lineage truncated per round (operators/graph.py:pagerank_fixed).",
)
def x_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.graph import pagerank_fixed

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        F.col("l_suppkey").cast("long").alias("src"),
        (F.col("o_custkey") + 1_000_000).cast("long").alias("dst"),
    )
    pr = pagerank_fixed(edges, iters=3)
    return pr.orderBy(F.desc("pr_micro"), "node").limit(50)


def _pagerank_weighted_oracle(iters: int = 3, scale: int = 1_000_000) -> str:
    """Weighted variant: edge weight = fulfillment count per
    (supplier, customer) pair; contribution = pr*17*w // (20*wsum) —
    same pure-integer unrolled CTE proof as the unweighted oracle."""
    it_prev = "pr0"
    its = []
    for i in range(1, iters + 1):
        its.append(f"""
it{i} AS (
  SELECT nodes.node,
         CAST((({scale} * 15 // 100) // n) + coalesce(c.inflow, 0) AS BIGINT) AS pr
  FROM nodes CROSS JOIN params
  LEFT JOIN (
    SELECT dst AS node, CAST(sum((pr * 17 * w) // (20 * wsum)) AS BIGINT) AS inflow
    FROM e JOIN {it_prev} ON e.src = {it_prev}.node
    JOIN wsums USING (src)
    GROUP BY dst
  ) c ON nodes.node = c.node
)""")
        it_prev = f"it{i}"
    return f"""
WITH e AS (
  SELECT CAST(l_suppkey AS BIGINT) AS src,
         CAST(o_custkey + 1000000 AS BIGINT) AS dst,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
  HAVING count(*) > 0
),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
params AS (SELECT count(*) AS n FROM nodes),
wsums AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM e GROUP BY src),
pr0 AS (SELECT node, CAST({scale} // n AS BIGINT) AS pr FROM nodes CROSS JOIN params),
{",".join(its)}
SELECT node, pr AS pr_micro FROM {it_prev}
ORDER BY pr_micro DESC, node LIMIT 50
"""


@register(
    "x_graph_pagerank_weighted",
    oracle=_pagerank_weighted_oracle(),
    tags=("extension", "graph", "iterative"),
    doc="Weighted fixed-iteration PageRank: edge weight = per-pair "
    "fulfillment count, contribution pr*17*w div (20*wsum) — the same "
    "pure-integer determinism proof as the unweighted variant, now "
    "with data-driven edge strengths (operators/graph.py:pagerank_fixed "
    "weight_col).",
)
def x_graph_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.graph import pagerank_fixed

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_orderkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.col("l_suppkey").cast("long").alias("src"),
            (F.col("o_custkey") + 1_000_000).cast("long").alias("dst"),
        )
        .withColumn("w", F.lit(1).cast("long"))
    )
    pr = pagerank_fixed(edges, iters=3, weight_col="w")
    return pr.orderBy(F.desc("pr_micro"), "node").limit(50)


# --- language mix (extended 6-language stopword-vote id) ---------------------------

# Multilingual text synthesis shared VERBATIM by the Spark query (F.expr)
# and the DuckDB oracle — one stopword-dense sentence per language plus
# an empty case, keyed on doc_id so the mix is deterministic.
_MULTILANG_CASE = """CASE doc_id % 7
  WHEN 0 THEN 'the cat and the dog is in the house and it was you that he saw'
  WHEN 1 THEN 'el perro y la casa de que es en un se no era el que'
  WHEN 2 THEN 'le chien de et à un il être en avoir le de et à un'
  WHEN 3 THEN 'der hund die katze und in den von zu das mit sich der und'
  WHEN 4 THEN 'di che e il la per un in non sono di che e il la'
  WHEN 5 THEN 'de a o que e do da em um para de a o que e'
  ELSE ''
END"""


def _lang_hits_sql(vocab: tuple[str, ...]) -> str:
    arr = ", ".join(f"'{w}'" for w in vocab)
    return (
        "len(list_filter(string_split_regex(lower(trim(t)), '\\s+')[1:50], "
        f"w -> list_contains([{arr}], w)))"
    )


def _lang_mix_oracle() -> str:
    from iheardai_data_pipeline_spark.functions import text_agent as ta

    hit_cols = ",\n        ".join(
        f"{_lang_hits_sql(vocab)} AS h_{code}" for code, vocab in ta.LANGUAGE_VOCABS
    )
    best = "greatest(" + ", ".join(f"h_{c}" for c, _ in ta.LANGUAGE_VOCABS) + ")"
    whens = "\n         ".join(
        f"WHEN h_{c} = best THEN '{c}'" for c, _ in ta.LANGUAGE_VOCABS
    )
    return f"""
WITH synth AS (
  SELECT doc_id, source, {_MULTILANG_CASE} AS t FROM documents
),
scored AS (
  SELECT doc_id, source,
        {hit_cols},
        length(t) AS n
  FROM synth
),
lang AS (
  SELECT source,
    CASE WHEN n = 0 THEN 'unknown'
         WHEN {best} = 0 THEN 'unknown'
         {whens}
         ELSE 'unknown' END AS language
  FROM (SELECT *, {best} AS best FROM scored)
)
SELECT source, language, CAST(count(*) AS BIGINT) AS n_docs
FROM lang GROUP BY source, language
"""


@register(
    "x_lang_mix",
    oracle=_lang_mix_oracle(),
    tags=("extension", "text", "curation"),
    doc="Per-source language-mix rollup with the extended 6-language "
    "stopword-vote id (en/es/fr/de/it/pt; functions/text_agent.py:"
    "detect_language_ext). Language id is a row-local array expression "
    "(scan speed); the only shuffle is the (source, language) rollup — "
    "the corpus-composition report every multilingual training-data "
    "pipeline runs before sampling.",
)
def x_lang_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.functions import text_agent as ta
    from iheardai_data_pipeline_spark.sources.batch import ensure_parallelism, eval_once

    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    lang = eval_once(
        docs.select("doc_id", "source"),
        language=ta.detect_language_ext(F.expr(_MULTILANG_CASE)),
    )
    return lang.groupBy("source", "language").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --- corpus boilerplate-phrase mining ----------------------------------------------

_TOP_NGRAMS_ORACLE = f"""
WITH toks AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, greatest(len(ws) - 2, 0)),
                               i -> array_to_string(ws[i:i+2], ' '))) AS ngram
  FROM toks
),
counts AS (SELECT ngram, CAST(count(*) AS BIGINT) AS df FROM sh GROUP BY ngram)
SELECT ngram, df,
       CAST(row_number() OVER (ORDER BY df DESC, ngram ASC) AS BIGINT) AS rank
FROM counts ORDER BY df DESC, ngram ASC LIMIT 50
"""


@register(
    "x_text_top_ngrams",
    oracle=_TOP_NGRAMS_ORACLE,
    tags=("extension", "text", "curation"),
    doc="Corpus-wide top-50 word-3-grams by document frequency — the "
    "boilerplate-phrase mining report that seeds line/span blocklists. "
    "Per-doc distinct shingles are row-local, the DF count is one "
    "partial-agg groupBy, the top-k is a TakeOrdered (never a full "
    "sort); deterministic ngram tie-break (operators/corpus.py:top_ngrams).",
)
def x_text_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.corpus import top_ngrams

    return top_ngrams(load_table(spark, sf_dir, "documents"), n=3, k=50)


# --- model-based quality filtering plumbing ----------------------------------------

_HASH_QUALITY_SCORE = sql_ratio_half_up("score_milli_sum", "n_tokens * 1000", 4)

_HASH_QUALITY_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS word
  FROM documents WHERE text IS NOT NULL
),
w AS (
  SELECT doc_id,
         (('0x' || substr(md5(word), 1, 8))::BIGINT % 2001 - 1000) AS weight_milli
  FROM toks
),
scored AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(weight_milli) AS BIGINT) AS score_milli_sum
  FROM w GROUP BY doc_id
)
SELECT doc_id, n_tokens, score_milli_sum,
       {_HASH_QUALITY_SCORE} AS score,
       {_HASH_QUALITY_SCORE} >= 0.0 AS keep
FROM scored
"""


@register(
    "x_text_hash_quality",
    oracle=_HASH_QUALITY_ORACLE,
    tags=("extension", "text", "curation"),
    doc="Model-based quality-filter plumbing (CCNet/fastText pattern): "
    "per-token weights from a vocabulary table broadcast-joined onto "
    "the exploded token relation, exact BIGINT milli-unit sum per doc "
    "(shuffle-order-proof), HALF_UP score + keep threshold. Weights "
    "are a deterministic md5 stand-in — swap in a trained weights "
    "table and nothing else changes "
    "(operators/text.py:hashed_quality_scores).",
)
def x_text_hash_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.hashed_quality_scores(
        load_table(spark, sf_dir, "documents"), keep_threshold=0.0
    )


# --- Count-Min sketch heavy hitters ------------------------------------------------

# Bloom filter over the BUILDING-segment customer keys, probed with
# every customer that placed an order: the oracle replicates the md5
# bit arithmetic, so set bits, probe verdicts, and the fp/tp breakdown
# are all exact. m=4096/k=6 at ~300 members -> fp rate ~1e-9 at sf0.01,
# but the VERDICT columns (no false negatives; fp count >= 0) are exact
# whatever the rate.
_BLOOM_HASH = (
    "(('0x' || substr(md5(CAST(i.i AS VARCHAR) || ':' || "
    "CAST({key} AS VARCHAR)), 1, 8))::BIGINT % 4096)"
)

_BLOOM_ORACLE = f"""
WITH members AS (
  SELECT DISTINCT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
fbits AS (
  SELECT DISTINCT {_BLOOM_HASH.format(key="m.c_custkey")} AS bit
  FROM members m, unnest(generate_series(0, 5)) AS i(i)
),
probes AS (SELECT DISTINCT o_custkey AS key FROM orders),
pbits AS (
  SELECT p.key, {_BLOOM_HASH.format(key="p.key")} AS bit
  FROM probes p, unnest(generate_series(0, 5)) AS i(i)
),
verdict AS (
  SELECT pb.key,
         count(*) = sum(CASE WHEN fb.bit IS NOT NULL THEN 1 ELSE 0 END)
           AS maybe_present
  FROM pbits pb LEFT JOIN fbits fb USING (bit)
  GROUP BY pb.key
)
SELECT v.maybe_present,
       (m.c_custkey IS NOT NULL) AS actually_present,
       CAST(count(*) AS BIGINT) AS n_keys
FROM verdict v LEFT JOIN members m ON v.key = m.c_custkey
GROUP BY 1, 2
ORDER BY 1, 2
"""


@register(
    "x_sketch_bloom",
    oracle=_BLOOM_ORACLE,
    tags=("extension", "sketch"),
    doc="Relational Bloom filter (round 5): membership filter over the "
    "BUILDING-segment customers as <=m distinct set-bit rows "
    "(mergeable partial-agg state, broadcastable, md5-portable — every "
    "bit value-oracled, like the CMS cells), probed by every ordering "
    "customer; output = the (maybe, actually) present contingency "
    "counts, which pin Bloom's contract exactly: the "
    "(false, true) row can never exist (no false negatives).",
)
def x_sketch_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.sketch import (
        bloom_build,
        bloom_probe,
    )

    cust = load_table(spark, sf_dir, "customer")
    members = cust.where(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey")
    )
    filt = bloom_build(members, "c_custkey", m=4096, k=6)
    probes = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key")
    )
    verdict = bloom_probe(filt, probes, "key", m=4096, k=6)
    return (
        verdict.join(
            members.withColumn("__m", F.lit(True)),
            verdict["key"] == members["c_custkey"],
            "left",
        )
        .select(
            "maybe_present",
            F.coalesce("__m", F.lit(False)).alias("actually_present"),
        )
        .groupBy("maybe_present", "actually_present")
        .agg(F.count(F.lit(1)).alias("n_keys"))
        .orderBy("maybe_present", "actually_present")
    )


# Relational HLL over the event user ids: registers are md5-portable so
# every (bucket, max_rank) row is exact in both engines; the estimate is
# exact-integer harmonic arithmetic (2^(33-rank) BIGINT terms) with ONE
# double multiply+divide at the end, so even the double matches without
# tolerance. alpha for m=64 is 0.709 (Flajolet et al. 2007).
_HLL_AMM = 0.709 * 64 * 64

_HLL_ORACLE = f"""
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
),
x AS (
  SELECT round(({_HLL_AMM!r} * 8589934592.0)
           / CAST(s_obs + (64 - n_obs) * 8589934592 AS DOUBLE), 6) AS est
  FROM s
),
e AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct FROM keys)
SELECT r.bucket, r.max_rank, x.est AS est_distinct, e.exact_distinct,
       (x.est >= 0.5 * e.exact_distinct AND x.est <= 2.0 * e.exact_distinct)
         AS ratio_ok
FROM regs r, x, e
"""


@register(
    "x_sketch_hll",
    oracle=_HLL_ORACLE,
    tags=("extension", "sketch"),
    doc="Relational HyperLogLog (round 5): distinct-user estimate whose "
    "STATE is value-oracled — (bucket, max_rank) registers from "
    "md5-portable hashing with exact integer leading-zero ranks "
    "(binary-string length, no float log), mergeable by max. The "
    "estimate itself is exact-integer harmonic sums + one double "
    "division, so even the double hash-matches the oracle — unlike "
    "a4_dashboard_approx's opaque approx_count_distinct, which only a "
    "bounds contract can check. ratio_ok pins 2x accuracy vs exact.",
)
def x_sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    regs = hll_registers(ev, "user_id", p=6)
    # estimate as a WINDOW over the register rows: regs is computed ONCE
    # (the old agg + crossJoin-back re-evaluated the register subtree —
    # 7 exchanges for a 64-row relation, r5 audit nit); the registers
    # are <= 2^p rows, so the single-partition window is trivially safe
    est = F.round(
        hll_estimate(p=6, over=Window.partitionBy()), 6
    ).alias("est_distinct")
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return (
        regs.select("bucket", "max_rank", est)
        .crossJoin(F.broadcast(exact))
        .select(
            "bucket",
            F.col("max_rank").cast("int").alias("max_rank"),
            "est_distinct",
            "exact_distinct",
            (
                (F.col("est_distinct") >= 0.5 * F.col("exact_distinct"))
                & (F.col("est_distinct") <= 2.0 * F.col("exact_distinct"))
            ).alias("ratio_ok"),
        )
    )


_CMS_HASH = (
    "(('0x' || substr(md5(CAST(d.d AS VARCHAR) || ':' || "
    "CAST({key} AS VARCHAR)), 1, 8))::BIGINT % 64)"
)

_CMS_ORACLE = f"""
WITH keys AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
  FROM events GROUP BY user_id
),
cells AS (
  SELECT e.user_id, d.d AS depth,
         {_CMS_HASH.format(key="e.user_id")} AS cell
  FROM events e, unnest(generate_series(0, 3)) AS d(d)
),
sketch AS (
  SELECT depth, cell, CAST(count(*) AS BIGINT) AS cnt
  FROM cells GROUP BY depth, cell
),
probes AS (
  SELECT k.user_id, d.d AS depth,
         {_CMS_HASH.format(key="k.user_id")} AS cell
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
    "x_sketch_heavy_hitters",
    oracle=_CMS_ORACLE,
    tags=("extension", "aggregate", "sketch"),
    doc="Count-Min heavy hitters: per-user frequency estimated from a "
    "4x64-cell relational CMS (bounded d*w state, map-side mergeable "
    "cells — the streaming-frequency pattern at any input size), "
    "compared against the exact counts with the est>=exact overcount "
    "guarantee as an output column. md5-portable cells make every "
    "counter value-oracle-checkable, not just bounds-checked "
    "(operators/sketch.py). The deliberately tight width forces "
    "collisions so the query demonstrates real overestimates.",
)
def x_sketch_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.sketch import cms_build, cms_estimate

    events = load_table(spark, sf_dir, "events")
    sketch = cms_build(events, "user_id", depth=4, width=64)
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
        .orderBy(F.desc("est"), F.asc("user_id"))
        .limit(20)
    )


# --- Z-order layout key ------------------------------------------------------------

def _zorder_oracle(bits: int = 12) -> str:
    # unrolled Morton sum, mirroring operators/layout.py:interleave_bits
    terms = " + ".join(
        f"(((a >> {i}) & 1) << {2 * i}) + (((b >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    )
    top = (1 << bits) - 1
    return f"""
WITH mm AS (
  SELECT CAST(min(user_id) AS BIGINT) AS mn_u, CAST(max(user_id) AS BIGINT) AS mx_u,
         CAST(min(event_id) AS BIGINT) AS mn_e, CAST(max(event_id) AS BIGINT) AS mx_e
  FROM events
),
s AS (
  SELECT event_id,
         ((coalesce(CAST(user_id AS BIGINT), mn_u) - mn_u) * {top})
           // greatest(1, mx_u - mn_u) AS a,
         ((coalesce(CAST(event_id AS BIGINT), mn_e) - mn_e) * {top})
           // greatest(1, mx_e - mn_e) AS b
  FROM events, mm
)
SELECT event_id, CAST({terms} AS BIGINT) AS zkey FROM s
"""


@register(
    "x_layout_zorder_key",
    oracle=_zorder_oracle(),
    tags=("extension", "layout"),
    doc="Z-order (Morton) clustering key over (user_id, event_id): "
    "min/max-scaled to 12 bits per dimension, bit-interleaved with "
    "pure integer shifts — the Delta/Iceberg OPTIMIZE ZORDER layout "
    "primitive as a plain codegen expression. write_zordered range-"
    "partitions on this key so footer stats prune EVERY interleaved "
    "dimension (pruning property pinned from real parquet metadata in "
    "tests/test_layout.py; operators/layout.py).",
)
def x_layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.layout import zorder_key

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    base, zkey = zorder_key(events, ["user_id", "event_id"], bits=12)
    return base.select("event_id", zkey.alias("zkey"))


def _hilbert_oracle(bits: int = 12) -> str:
    """Hamilton's xy2d walk as CHAINED CTEs (one per level) — each stage
    references the previous stage's columns exactly once, so the SQL
    stays linear in ``bits`` instead of exponentially inlining the
    rotation state."""
    top = (1 << bits) - 1
    stages = []
    prev = "h_in"
    for k in range(bits - 1, -1, -1):
        s = 1 << k
        rx = f"((x >> {k}) & 1)"
        ry = f"((y >> {k}) & 1)"
        stages.append(
            f"""h{k} AS (
  SELECT event_id,
    CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1 THEN {s - 1} - y ELSE y END
         ELSE x END AS x,
    CASE WHEN {ry} = 0 THEN CASE WHEN {rx} = 1 THEN {s - 1} - x ELSE x END
         ELSE y END AS y,
    d + {s * s} * xor(3 * {rx}, {ry}) AS d
  FROM {prev}
)"""
        )
        prev = f"h{k}"
    chain = ",\n".join(stages)
    return f"""
WITH mm AS (
  SELECT CAST(min(user_id) AS BIGINT) AS mn_u, CAST(max(user_id) AS BIGINT) AS mx_u,
         CAST(min(event_id) AS BIGINT) AS mn_e, CAST(max(event_id) AS BIGINT) AS mx_e
  FROM events
),
h_in AS (
  SELECT event_id,
         ((coalesce(CAST(user_id AS BIGINT), mn_u) - mn_u) * {top})
           // greatest(1, mx_u - mn_u) AS x,
         ((coalesce(CAST(event_id AS BIGINT), mn_e) - mn_e) * {top})
           // greatest(1, mx_e - mn_e) AS y,
         CAST(0 AS BIGINT) AS d
  FROM events, mm
),
{chain}
SELECT event_id, CAST(d AS BIGINT) AS hkey FROM h0
"""


@register(
    "x_layout_hilbert_key",
    oracle=_hilbert_oracle(),
    tags=("extension", "layout"),
    doc="Hilbert-curve clustering key over (user_id, event_id) — round "
    "5's locality upgrade of the Morton key: every unit step along the "
    "curve is a unit step in space, so equal-size file ranges span "
    "~25-30% less per dimension and the same predicate prunes more "
    "files (comparison pinned in tests/test_layout.py). The walk is "
    "ONE aggregate fold over the bit levels (constant expression size) "
    "and the oracle replays it as chained CTEs "
    "(operators/layout.py:hilbert_interleave).",
)
def x_layout_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.layout import (
        _hilbert_append,
        _scaled_columns,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    base, scaled = _scaled_columns(events, ["user_id", "event_id"], 12)
    return _hilbert_append(base, scaled[0], scaled[1], 12, "hkey").select(
        "event_id", "hkey"
    )


# --- rolling-window anomaly detection ----------------------------------------------

# z-score anomaly flag WITHOUT floats: |x - mean| > 2*stddev over the
# trailing window, cross-multiplied into pure BIGINT arithmetic
# ((x*n - sum)^2 * (n-1) > 4 * n * (n*sumsq - sum^2)) so both engines
# compare identical integers — stddev_samp itself is NOT portable
# (Welford vs naive summation drifts in the last ulp). Headroom: terms
# are ~ (daily_count * frame)^2, safe in int64 below ~6e8 events/day/type.
_ANOMALY_ORACLE = """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
w AS (
  SELECT event_type, day, n,
    CAST(count(n) OVER fr AS BIGINT) AS w_n,
    CAST(coalesce(sum(n) OVER fr, 0) AS BIGINT) AS w_sum,
    CAST(coalesce(sum(n * n) OVER fr, 0) AS BIGINT) AS w_sumsq
  FROM daily
  WINDOW fr AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT event_type, day, n, w_n,
  (w_n >= 3 AND
   (n * w_n - w_sum) * (n * w_n - w_sum) * (w_n - 1)
     > 4 * w_n * (w_n * w_sumsq - w_sum * w_sum)) AS is_anomaly,
  (w_n >= 3 AND n * w_n > w_sum) AS is_spike
FROM w
"""


@register(
    "x_anomaly_daily",
    oracle=_ANOMALY_ORACLE,
    tags=("extension", "aggregate", "monitoring"),
    doc="Rolling-window anomaly flags: per event type, each day's count "
    "vs the trailing-7-day mean +/- 2 stddev — the volume-anomaly "
    "monitor the reference's error-rate guard (F5) gestures at, over a "
    "bounded ROWS frame. The z-test is cross-multiplied into pure "
    "BIGINT comparisons (stddev_samp floats are not engine-portable), "
    "so the flag is bit-exact in any engine. One shuffle (daily "
    "rollup); the frame shares its partitioning.",
)
def x_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    fr = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    )
    w = daily.select(
        "event_type",
        "day",
        "n",
        F.count("n").over(fr).alias("w_n"),
        F.coalesce(F.sum("n").over(fr), F.lit(0)).alias("w_sum"),
        F.coalesce(F.sum(F.col("n") * F.col("n")).over(fr), F.lit(0)).alias("w_sumsq"),
    )
    dev = F.col("n") * F.col("w_n") - F.col("w_sum")
    var4 = 4 * F.col("w_n") * (
        F.col("w_n") * F.col("w_sumsq") - F.col("w_sum") * F.col("w_sum")
    )
    return w.select(
        "event_type",
        "day",
        "n",
        "w_n",
        ((F.col("w_n") >= 3) & (dev * dev * (F.col("w_n") - 1) > var4)).alias(
            "is_anomaly"
        ),
        ((F.col("w_n") >= 3) & (F.col("n") * F.col("w_n") > F.col("w_sum"))).alias(
            "is_spike"
        ),
    )


# --- leakage-safe train/val/test split ---------------------------------------------

# Same recursive-closure CTEs as the components oracle; only the final
# projection differs (md5 bucket of the GROUP id -> split).
_SPLIT_TAIL = """
SELECT d.doc_id,
       coalesce(comp.component, d.doc_id) AS component,
       CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val'
            ELSE 'test' END AS split
FROM (
  SELECT d.doc_id,
         ('0x' || substr(md5(CAST(coalesce(comp.component, d.doc_id) AS VARCHAR)), 1, 8))::BIGINT % 100 AS bkt
  FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
) b
JOIN documents d USING (doc_id)
LEFT JOIN comp ON d.doc_id = comp.node
"""

_SPLIT_ORACLE = _COMPONENTS_ORACLE.rsplit("SELECT d.doc_id", 1)[0] + _SPLIT_TAIL.strip()


@register(
    "x_split_leakage_safe",
    oracle=_SPLIT_ORACLE,
    tags=("extension", "dedup", "curation"),
    doc="Leakage-safe train/val/test split (80/10/10): the split key is "
    "the md5 of the doc's duplicate-GROUP id (transitive closure of the "
    "near-dup pairs), so near-duplicates can NEVER straddle splits — "
    "the eval-contamination guard per-doc random splits silently "
    "violate. Deterministic md5 bucketing, engine-portable; reuses the "
    "components shuffle.",
)
def x_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.graph import duplicate_groups_from_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, n=5, threshold=0.7, max_doc_freq=100)
    comp = duplicate_groups_from_pairs(docs, pairs).select("doc_id", "component")
    bkt = (
        F.conv(F.substring(F.md5(F.col("component").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bkt < 80, "train").when(bkt < 90, "val").otherwise("test")
    )
    return comp.select("doc_id", "component", split.alias("split"))


# --- web-document curation: HTML extraction + Unicode normalization (round 6) -----

# Both engines build the SAME synthetic HTML page around each document's
# text (the testdata has no markup column), so the oracle checks the
# full extraction chain value-for-value: comment with a '>' inside,
# script/style subtrees, block tags, double-escaped entities, and
# boilerplate lines for the density filter.


def _web_html_spark(t):
    from iheardai_data_pipeline_spark.operators import webtext  # noqa: F401

    return F.concat(
        F.lit("<html><head><title>"),
        F.substring(t, 1, 30),
        F.lit(
            "</title><style>p{margin:0;}</style>"
            "<script>if (x > 1) { nav(); }</script></head><body><h1>"
        ),
        F.substring(t, 1, 40),
        F.lit("</h1><!-- crumb > trail --><p>"),
        t,
        F.lit(
            " &amp; tail &lt;raw&gt;&nbsp;end</p>"
            "<ul><li>alpha beta gamma delta</li><li>#!</li></ul>"
            "<div>   </div><p>Footer line with words 123</p></body></html>"
        ),
    )


_WEB_HTML_SQL = (
    "'<html><head><title>' || substr(text, 1, 30) || "
    "'</title><style>p{margin:0;}</style>"
    "<script>if (x > 1) { nav(); }</script></head><body><h1>' || "
    "substr(text, 1, 40) || "
    "'</h1><!-- crumb > trail --><p>' || text || "
    "' &amp; tail &lt;raw&gt;&nbsp;end</p>"
    "<ul><li>alpha beta gamma delta</li><li>#!</li></ul>"
    "<div>   </div><p>Footer line with words 123</p></body></html>'"
)


def _html_extract_oracle() -> str:
    from iheardai_data_pipeline_spark.operators import webtext

    clean = webtext.sql_html_to_text(_WEB_HTML_SQL)
    return f"""
WITH c AS (
  SELECT doc_id, {clean} AS clean_text
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, clean_text,
       CAST(len(string_split(clean_text, chr(10))) AS INT) AS n_lines,
       CAST(length(clean_text) AS BIGINT) AS n_chars
FROM c
"""


@register(
    "x_text_html_extract",
    oracle=_html_extract_oracle(),
    tags=("extension", "text", "web"),
    doc="HTML/boilerplate extraction (C4/RefinedWeb stage, round 6): "
    "comments out, script/style SUBTREES out, block tags to newlines, "
    "remaining tags stripped, order-pinned entity decode (&amp; last — "
    "the double-unescape trap), per-line space collapse. One row-local "
    "expression chain, value-oracled bit-for-bit against the DuckDB "
    "twin generated from the same pattern tables "
    "(operators/webtext.py:html_to_text).",
)
def x_text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators import webtext
    from iheardai_data_pipeline_spark.sources.batch import (
        ensure_parallelism,
        eval_once,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    clean = webtext.html_to_text(_web_html_spark(F.col("text")))
    # regex-chain-heavy per-row work: fan the single-split scan out first
    return eval_once(ensure_parallelism(docs), __clean=clean).select(
        "doc_id",
        F.col("__clean").alias("clean_text"),
        F.size(F.split("__clean", "\n")).cast("int").alias("n_lines"),
        F.length("__clean").cast("long").alias("n_chars"),
    )


def _unicode_norm_oracle() -> str:
    from iheardai_data_pipeline_spark.operators import webtext

    dirty = (
        "text || chr(13) || chr(10) || 'Café “fancy” – naïve … ZW[' || "
        "chr(8203) || ']end' || chr(7) || chr(31) || ' ÄÖÜ ß æ œ'"
    )
    clean = webtext.sql_unicode_clean(dirty)
    return f"""
SELECT doc_id, {clean} AS clean_text,
       CAST(length({clean}) AS BIGINT) AS n_chars
FROM documents WHERE text IS NOT NULL
"""


@register(
    "x_text_unicode_normalize",
    oracle=_unicode_norm_oracle(),
    tags=("extension", "text", "web"),
    doc="Deterministic Unicode normalization (round 6): CRLF/CR to LF, "
    "control chars stripped, zero-widths removed, pinned curly-quote/"
    "dash/space/accent folds and multi-char folds (ß->ss, …->...) — "
    "transliteration, NOT full NFC (no unicodedata at SQL level; the "
    "folds are the high-frequency web cases, operators/webtext.py). "
    "The engine injects the same dirty suffix in both engines so every "
    "fold is exercised and value-checked.",
)
def x_text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators import webtext
    from iheardai_data_pipeline_spark.sources.batch import (
        ensure_parallelism,
        eval_once,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    dirty = F.concat(
        F.col("text"),
        F.lit("\r\nCafé “fancy” – naïve … ZW[​]end\x07\x1f ÄÖÜ ß æ œ"),
    )
    clean = webtext.unicode_clean(dirty)
    return eval_once(ensure_parallelism(docs), __clean=clean).select(
        "doc_id",
        F.col("__clean").alias("clean_text"),
        F.length("__clean").cast("long").alias("n_chars"),
    )


def _curation_web_oracle() -> str:
    from iheardai_data_pipeline_spark.operators import webtext

    clean = webtext.sql_unicode_clean(
        webtext.sql_html_to_text(_WEB_HTML_SQL)
    )
    kept = webtext.sql_line_density_filter(clean, 40, 5)
    return f"""
WITH c AS (
  SELECT doc_id, {kept} AS body
  FROM documents WHERE text IS NOT NULL
),
m AS (
  SELECT doc_id, body,
    CASE WHEN length(trim(body)) = 0 THEN 0
         ELSE len(string_split_regex(trim(body), '\\s+')) END AS n_tokens
  FROM c
)
SELECT doc_id,
       CAST(len(string_split(body, chr(10))) AS INT) AS n_lines,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       n_tokens >= 12 AS kept
FROM m
"""


@register(
    "x_curation_web",
    oracle=_curation_web_oracle(),
    tags=("extension", "text", "web", "pipeline"),
    doc="Web-document curation front half composed end-to-end (round "
    "6): HTML extraction -> Unicode normalization -> text-density line "
    "filter -> whitespace token gate, all one narrow row-local chain "
    "over the scan (zero shuffles; the C4-lineage stages that feed the "
    "dedup/quality pipeline). Value-oracled through the same generated "
    "DuckDB twins.",
)
def x_curation_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators import webtext
    from iheardai_data_pipeline_spark.sources.batch import (
        ensure_parallelism,
        eval_once,
    )

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    body = webtext.line_density_filter(
        webtext.unicode_clean(webtext.html_to_text(_web_html_spark(F.col("text")))),
        40,
        5,
    )
    out = eval_once(ensure_parallelism(docs), __body=body)
    n_tokens = F.when(F.length(F.trim(F.col("__body"))) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("__body")), r"\s+"))
    )
    out = eval_once(out, __nt=n_tokens)
    return out.select(
        "doc_id",
        F.size(F.split("__body", "\n")).cast("int").alias("n_lines"),
        F.col("__nt").cast("long").alias("n_tokens"),
        (F.col("__nt") >= 12).alias("kept"),
    )


# --- persistent semantic-dedup index (round 6) --------------------------------------

# One-shot oracle for the incremental semantic gate: centroids are the
# first 16 CORPUS vectors by id (the pinned index artifact), every
# vector assigns by the proven bit-exact argmax fold, and an incoming
# vector drops when a same-cluster corpus vector OR lower-id incoming
# vector has cosine >= 0.4 — regardless of that vector's own fate
# (arrival-order convention, identical to the band-index gate). The
# engine answers this with a PERSISTED index across split batches; the
# oracle proves split-batch == one-shot.
_SEM_INGEST_ORACLE = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id % 5 = 0
),
inc AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id % 5 <> 0
),
allv AS (
  SELECT * FROM corpus UNION ALL SELECT * FROM inc
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding::DOUBLE[] AS cvec,
         1.0 / sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                                (a, b) -> a + b)) AS invn
  FROM (SELECT vec_id, embedding FROM corpus ORDER BY vec_id LIMIT 16)
),
scores AS (
  SELECT e.vec_id, c.cid,
         list_reduce(list_transform(range(1, 65),
             i -> e.embedding[i]::DOUBLE * c.cvec[i]), (a, b) -> a + b) * c.invn AS s
  FROM allv e, cent c
),
assign AS (
  SELECT vec_id, CAST(cid AS INT) AS centroid_id FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scores
  ) WHERE rn = 1
),
vn AS (
  SELECT a.vec_id, a.centroid_id, v.embedding::DOUBLE[] AS v,
         sqrt(list_reduce(list_transform(v.embedding::DOUBLE[], x -> x * x),
                          (x, y) -> x + y)) AS nrm,
         (v.vec_id % 5 <> 0) AS is_inc
  FROM assign a JOIN allv v USING (vec_id)
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM vn b JOIN vn u
    ON b.is_inc
   AND u.centroid_id = b.centroid_id
   AND (NOT u.is_inc OR u.vec_id < b.vec_id)
   AND u.vec_id <> b.vec_id
   AND list_reduce(list_transform(range(1, 65), i -> u.v[i] * b.v[i]),
                   (x, y) -> x + y) / (u.nrm * b.nrm) >= 0.4
)
SELECT i.vec_id, a.centroid_id
FROM inc i JOIN assign a USING (vec_id)
WHERE i.vec_id NOT IN (SELECT vec_id FROM dropped)
"""


@register(
    "x_dedup_semantic_ingest",
    oracle=_SEM_INGEST_ORACLE,
    tags=("extension", "dedup", "similarity", "sketch"),
    doc="PERSISTENT semantic-dedup index (round 6, stretch item): the "
    "corpus (vec_id%5==0) bootstraps a SemanticDedupIndex — centroids "
    "pinned once as a shipped artifact, vectors stored cluster-keyed — "
    "then incoming arrives as 2 id-ordered batches, each assigning "
    "narrowly, probing ONLY its touched clusters (bucket-pruned reads, "
    "broadcast batch-side join), dropping exact-cosine>=0.4 matches vs "
    "index + lower-id same-cluster peers, and appending itself via the "
    "O(batch) add-files commit. The oracle proves the split-batch "
    "answer EQUALS the one-shot incremental gate "
    "(operators/semantic_index.py).",
)
def x_dedup_semantic_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.semantic_index import (
        SemanticDedupIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    corpus = emb.filter(F.col("vec_id") % 5 == 0)
    incoming = emb.filter(F.col("vec_id") % 5 != 0).select("vec_id", "embedding")
    root = ram_tempdir("semidx_")
    try:
        idx = SemanticDedupIndex.bootstrap(
            spark, root, corpus, n_centroids=16, threshold=0.4
        )
        hi = emb.agg(F.max("vec_id")).collect()[0][0] or 0
        cuts = [0, hi // 2 + 1, hi + 1]
        out = None
        for lo, up in zip(cuts, cuts[1:]):
            batch = incoming.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < up)
            )
            kept = idx.ingest(batch).select("vec_id")
            out = kept if out is None else out.unionByName(kept)
        cent = idx._assigned(out.join(emb, "vec_id").select("vec_id", "embedding"))
        res = out.join(
            cent.select("vec_id", "centroid_id"), "vec_id"
        ).localCheckpoint(eager=True)
        return res
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Fresh-build oracle for the semantic index's tombstone/upsert path:
# same centroid/assignment/cosine arithmetic as _SEM_INGEST_ORACLE,
# with the gate's visible set changing between batches — batch1
# (vec_id%5 in (1,2)) sees the full corpus (vec_id%5==0) + lower-id
# batch1 peers; vec_id%10==0 is then DELETED; batch2 (vec_id%5 in
# (3,4)) sees the surviving corpus + ALL batch1 vectors + lower-id
# batch2 peers. Within-cluster candidates only, as the index is
# specified. Centroids come from the FULL corpus (pinned before any
# delete — the index never re-centers).
_SEM_UPDATE_ORACLE = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id % 5 = 0
),
inc AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id % 5 <> 0
),
allv AS (
  SELECT * FROM corpus UNION ALL SELECT * FROM inc
),
cent AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         embedding::DOUBLE[] AS cvec,
         1.0 / sqrt(list_reduce(list_transform(embedding::DOUBLE[], x -> x * x),
                                (a, b) -> a + b)) AS invn
  FROM (SELECT vec_id, embedding FROM corpus ORDER BY vec_id LIMIT 16)
),
scores AS (
  SELECT e.vec_id, c.cid,
         list_reduce(list_transform(range(1, 65),
             i -> e.embedding[i]::DOUBLE * c.cvec[i]), (a, b) -> a + b) * c.invn AS s
  FROM allv e, cent c
),
assign AS (
  SELECT vec_id, CAST(cid AS INT) AS centroid_id FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scores
  ) WHERE rn = 1
),
vn AS (
  SELECT a.vec_id, a.centroid_id, v.embedding::DOUBLE[] AS v,
         sqrt(list_reduce(list_transform(v.embedding::DOUBLE[], x -> x * x),
                          (x, y) -> x + y)) AS nrm,
         CASE WHEN v.vec_id % 5 = 0 THEN 0
              WHEN v.vec_id % 5 IN (1, 2) THEN 1 ELSE 2 END AS g,
         (v.vec_id % 10 = 0) AS del
  FROM assign a JOIN allv v USING (vec_id)
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM vn b JOIN vn u
    ON u.centroid_id = b.centroid_id
   AND u.vec_id <> b.vec_id
   AND ((b.g = 1 AND (u.g = 0 OR (u.g = 1 AND u.vec_id < b.vec_id)))
     OR (b.g = 2 AND ((u.g = 0 AND NOT u.del) OR u.g = 1
                      OR (u.g = 2 AND u.vec_id < b.vec_id))))
   AND list_reduce(list_transform(range(1, 65), i -> u.v[i] * b.v[i]),
                   (x, y) -> x + y) / (u.nrm * b.nrm) >= 0.4
  WHERE b.g <> 0
)
SELECT i.vec_id FROM inc i
WHERE i.vec_id NOT IN (SELECT vec_id FROM dropped)
"""


@register(
    "x_dedup_semantic_update",
    oracle=_SEM_UPDATE_ORACLE,
    tags=("extension", "dedup", "similarity", "sketch"),
    doc="Tombstone/UPSERT path of the persistent semantic index (round "
    "7): bootstrap corpus (vec_id%5==0, seq 1), gated batch1 ingest "
    "(seq 2), DELETE of vec_id%10==0 (seq 3 — the retraction arrives "
    "with only the id; the old cluster comes from a bucket-pruned "
    "lookup of the id-keyed relation so the tombstone lands in the "
    "SAME cluster bucket it must starve), gated batch2 ingest (seq 4). "
    "Oracle = fresh-build answers on each step's logical state "
    "(operators/semantic_index.py:SemanticDedupIndex.delete).",
)
def x_dedup_semantic_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.semantic_index import (
        SemanticDedupIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    corpus = emb.filter(F.col("vec_id") % 5 == 0)
    b1 = emb.filter((F.col("vec_id") % 5).isin(1, 2)).select(
        "vec_id", "embedding"
    )
    b2 = emb.filter((F.col("vec_id") % 5).isin(3, 4)).select(
        "vec_id", "embedding"
    )
    deleted = emb.filter(F.col("vec_id") % 10 == 0).select("vec_id")
    root = ram_tempdir("semupd_")
    try:
        idx = SemanticDedupIndex.bootstrap(
            spark, root, corpus, n_centroids=16, threshold=0.4
        )
        k1 = idx.ingest(b1, seq=2).select("vec_id")
        idx.delete(deleted, seq=3)
        k2 = idx.ingest(b2, seq=4).select("vec_id")
        return k1.unionByName(k2).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# Full value oracle for the DATA-SIZED cluster count (round 7 — the
# VERDICT r6 item: un-pin the 16-cluster rig constant from the timed
# path). Same centroid/assignment/cosine arithmetic as
# _SEM_INGEST_ORACLE, but the centroid count is COMPUTED the way
# bootstrap(n_centroids=None) computes it: max(16, min(65536,
# isqrt(corpus_count))). IEEE sqrt is correctly rounded, so
# floor(sqrt(n)) == isqrt(n) for every n < 2^52 — the SQL twin is
# exact, not approximately so. The 3/4-corpus split keeps the rule
# ABOVE the 16-clamp at both driver SFs (19 clusters at sf0.01, 38 at
# sf0.1), so the timed path genuinely exercises data-sized clusters;
# n_clusters rides in the output so the hash gate pins the sizing rule
# itself, not just the survivor set.
_SEM_SQRT_ORACLE = """
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id % 4 <> 3
),
inc AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND vec_id % 4 = 3
),
allv AS (
  SELECT * FROM corpus UNION ALL SELECT * FROM inc
),
nc AS (
  SELECT GREATEST(16, LEAST(65536,
           CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT))) AS k
  FROM corpus
),
cent AS (
  SELECT CAST(rn - 1 AS INT) AS cid, cvec,
         1.0 / sqrt(list_reduce(list_transform(cvec, x -> x * x),
                                (a, b) -> a + b)) AS invn
  FROM (
    SELECT row_number() OVER (ORDER BY vec_id) AS rn,
           embedding::DOUBLE[] AS cvec
    FROM corpus
  ), nc
  WHERE rn <= nc.k
),
scores AS (
  SELECT e.vec_id, c.cid,
         list_reduce(list_transform(range(1, 65),
             i -> e.embedding[i]::DOUBLE * c.cvec[i]), (a, b) -> a + b) * c.invn AS s
  FROM allv e, cent c
),
assign AS (
  SELECT vec_id, CAST(cid AS INT) AS centroid_id FROM (
    SELECT vec_id, cid,
           row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid ASC) AS rn
    FROM scores
  ) WHERE rn = 1
),
vn AS (
  SELECT a.vec_id, a.centroid_id, v.embedding::DOUBLE[] AS v,
         sqrt(list_reduce(list_transform(v.embedding::DOUBLE[], x -> x * x),
                          (x, y) -> x + y)) AS nrm,
         (v.vec_id % 4 = 3) AS is_inc
  FROM assign a JOIN allv v USING (vec_id)
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM vn b JOIN vn u
    ON b.is_inc
   AND u.centroid_id = b.centroid_id
   AND (NOT u.is_inc OR u.vec_id < b.vec_id)
   AND u.vec_id <> b.vec_id
   AND list_reduce(list_transform(range(1, 65), i -> u.v[i] * b.v[i]),
                   (x, y) -> x + y) / (u.nrm * b.nrm) >= 0.4
)
SELECT i.vec_id, a.centroid_id, CAST(nc.k AS BIGINT) AS n_clusters
FROM inc i JOIN assign a USING (vec_id), nc
WHERE i.vec_id NOT IN (SELECT vec_id FROM dropped)
"""


@register(
    "x_dedup_semantic_sqrt",
    oracle=_SEM_SQRT_ORACLE,
    tags=("extension", "dedup", "similarity", "sketch"),
    doc="Semantic-dedup index under the sqrt(N) cluster-sizing rule "
    "(round 7): bootstrap(n_centroids=None) sizes the cluster count "
    "from the corpus (similarity.resolve_n_centroids — IVF's balanced-"
    "list rule, clamped to [16, 65536]), so probe work per batch "
    "vector stays ~sqrt(corpus) instead of corpus/16. The 3/4-corpus "
    "split keeps the rule above the clamp at both driver SFs (19 / 38 "
    "clusters), the oracle COMPUTES the same count (floor(sqrt) == "
    "isqrt below 2^52), and n_clusters rides in the hashed output so "
    "the sizing rule itself is value-gated "
    "(operators/semantic_index.py:SemanticDedupIndex.bootstrap).",
)
def x_dedup_semantic_sqrt(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from iheardai_data_pipeline_spark.operators.semantic_index import (
        SemanticDedupIndex,
    )

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    corpus = emb.filter(F.col("vec_id") % 4 != 3)
    incoming = emb.filter(F.col("vec_id") % 4 == 3).select(
        "vec_id", "embedding"
    )
    root = ram_tempdir("semsqrt_")
    try:
        idx = SemanticDedupIndex.bootstrap(
            spark, root, corpus, n_centroids=None, threshold=0.4
        )
        kept = idx.ingest(incoming).select("vec_id")
        cent = idx._assigned(
            kept.join(emb, "vec_id").select("vec_id", "embedding")
        )
        return (
            kept.join(cent.select("vec_id", "centroid_id"), "vec_id")
            .withColumn(
                "n_clusters", F.lit(len(idx.centroids)).cast("long")
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --- DDSketch-style quantile sketch (round 6) ---------------------------------------

# Full value oracle: the bucketing is exact integer arithmetic (cents
# through DECIMAL(18,2); e = len(bin(v)) - 1; two mantissa bits read
# off the binary string), the rank rule is ceil(q*n) over the exact
# cumulative counts, and the only float op is the final /100 — so every
# output cell hash-matches, like the CMS/HLL/Bloom relatives.
_DDQ_CENTS = "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"

_DDQ_SKETCH_CTE = f"""
vals AS (
  SELECT {_DDQ_CENTS} AS v FROM events WHERE value IS NOT NULL
),
bkt AS (
  SELECT
    CASE WHEN v <= 0 THEN -1 ELSE CAST(length(bin(v)) - 1 AS INT) END AS e,
    CASE WHEN v <= 0 THEN 0
         WHEN length(bin(v)) >= 3
           THEN 2 * CAST(substr(bin(v), 2, 1) AS INT)
               + CAST(substr(bin(v), 3, 1) AS INT)
         WHEN length(bin(v)) = 2 THEN CAST(substr(bin(v), 2, 1) AS INT)
         ELSE 0 END AS m
  FROM vals
),
sk AS (
  SELECT e, m, CAST(count(*) AS BIGINT) AS cnt FROM bkt GROUP BY e, m
),
lb AS (
  SELECT e, m, cnt,
    CAST(CASE WHEN e < 0 THEN 0
              WHEN e = 0 THEN 1
              WHEN e = 1 THEN 2 + m
              ELSE CAST((4 + m)::DOUBLE * power(2.0::DOUBLE, e - 2) AS BIGINT)
         END AS BIGINT) AS lb,
    CAST(SUM(cnt) OVER (ORDER BY e, m
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
    CAST(SUM(cnt) OVER () AS BIGINT) AS n
  FROM sk
)
"""

_DDQ_ORACLE = f"""
WITH {_DDQ_SKETCH_CTE},
qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
hit AS (
  SELECT q, n, e, m, lb,
         row_number() OVER (PARTITION BY q ORDER BY e, m) AS rn
  FROM qs JOIN lb ON cum >= CAST(ceil(q * n) AS BIGINT)
)
SELECT q, n, lb AS est_cents, lb / 100.0 AS est
FROM hit WHERE rn = 1
ORDER BY q
"""


@register(
    "x_sketch_quantile",
    oracle=_DDQ_ORACLE,
    tags=("extension", "sketch"),
    doc="DDSketch-style quantile sketch (round 6, Masson et al. 2019 "
    "lineage): log2 buckets + 2 exact mantissa bits as ~256 relational "
    "rows (bounded, SUM-mergeable like the CMS cells), built from "
    "integer cents with a binary-STRING exponent (no libm log). "
    "p50/p90/p99 read off the exact cumulative rank at the bucket "
    "lower bound — every output value hash-matches the oracle "
    "(operators/sketch.py:ddq_build/ddq_quantiles). Completes the "
    "relational sketch family: count (CMS), distinct (HLL), "
    "membership (Bloom), quantile (this).",
)
def x_sketch_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.sketch import (
        ddq_build,
        ddq_quantiles,
    )

    ev = load_table(spark, sf_dir, "events")
    return ddq_quantiles(ddq_build(ev, "value"), qs=(0.5, 0.9, 0.99))


# --- grouped HLL: distinct-per-dimension rollup (round 6) ---------------------------

# Same exact-integer register/harmonic arithmetic as x_sketch_hll and
# t14, partitioned by event_type — every estimate double hash-matches.
_HLL_GROUPED_ORACLE = """
WITH keys AS (
  SELECT event_type, user_id,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h1,
    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 9, 8))::BIGINT AS v
  FROM events WHERE user_id IS NOT NULL
),
regs AS (
  SELECT event_type, h1 % 64 AS bucket,
         CAST(max(CASE WHEN v > 0 THEN 33 - length(bin(v)) ELSE 33 END)
              AS INTEGER) AS max_rank
  FROM keys GROUP BY 1, 2
),
s AS (
  SELECT event_type,
         CAST(sum(CAST(1 AS BIGINT) << (33 - max_rank)) AS BIGINT) AS s_obs,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM regs GROUP BY 1
),
exact AS (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events WHERE user_id IS NOT NULL GROUP BY 1
)
SELECT s.event_type,
       round((2904.064 * 8589934592.0)
         / CAST(s.s_obs + (64 - s.n_obs) * 8589934592 AS DOUBLE), 6)
         AS est_distinct,
       e.exact_distinct,
       (round((2904.064 * 8589934592.0)
          / CAST(s.s_obs + (64 - s.n_obs) * 8589934592 AS DOUBLE), 6)
          BETWEEN 0.5 * e.exact_distinct AND 2.0 * e.exact_distinct)
         AS ratio_ok
FROM s JOIN exact e USING (event_type)
ORDER BY s.event_type
"""


@register(
    "x_sketch_hll_grouped",
    oracle=_HLL_GROUPED_ORACLE,
    tags=("extension", "sketch"),
    doc="Distinct-per-dimension rollup via per-group HLL registers "
    "(round 6): <=2^p register rows PER event_type, max-mergeable, so "
    "the dimensional distinct-count rollup partial-aggregates at any "
    "scale — the pattern that replaces a per-dimension exact "
    "count-distinct shuffle at 100 TB. Every estimate double "
    "hash-matches the oracle (exact-integer harmonic sums); ratio_ok "
    "pins 2x accuracy vs exact "
    "(operators/sketch.py:hll_registers_grouped).",
)
def x_sketch_hll_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.sketch import (
        hll_estimate,
        hll_registers_grouped,
    )

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    regs = hll_registers_grouped(ev, "user_id", ["event_type"], p=6)
    est = regs.groupBy("event_type").agg(
        F.round(hll_estimate(p=6), 6).alias("est_distinct")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            "est_distinct",
            "exact_distinct",
            (
                (F.col("est_distinct") >= 0.5 * F.col("exact_distinct"))
                & (F.col("est_distinct") <= 2.0 * F.col("exact_distinct"))
            ).alias("ratio_ok"),
        )
        .orderBy("event_type")
    )


# --- triangle counting over the near-dup graph (round 6) ----------------------------

# Exact value oracle: the near-dup pair graph (label-blocked cosine >=
# 0.2 — the proven x_sim_embedding_dups construction at a triangle-
# bearing threshold) closed by the naive 3-way join; per-node counts
# from the three roles. 91 triangles at sf0.01 / 4965 at sf0.1.
_TRIANGLES_ORACLE = """
WITH e AS (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.2
),
t AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
),
n AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri
  FROM (SELECT a AS node FROM t UNION ALL
        SELECT b FROM t UNION ALL
        SELECT c FROM t)
  GROUP BY node
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS total_triangles FROM t)
SELECT node, n_tri, total_triangles
FROM n, tot
ORDER BY n_tri DESC, node
LIMIT 20
"""


@register(
    "x_graph_triangles",
    oracle=_TRIANGLES_ORACLE,
    tags=("extension", "graph", "similarity"),
    doc="Exact triangle counting over the embedding near-dup graph "
    "(round 6): degree-ordered wedge generation (Suri & "
    "Vassilvitskii's last-reducer fix — every pivot's out-degree "
    "capped at O(sqrt(m)), each triangle emitted exactly once) over "
    "the label-blocked cosine>=0.2 pair graph. Per-node triangle "
    "membership is the cluster-cohesion signal a curation pipeline "
    "reads (a document in many triangles sits in a tight semantic "
    "clump); oracle = naive 3-way join, value-exact "
    "(operators/graph.py:triangle_count).",
)
def x_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.graph import triangle_count

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    pairs = similarity.embedding_dup_pairs(emb, threshold=0.2).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    per_node = triangle_count(pairs)
    total = per_node.agg(
        (F.sum("n_tri") / 3).cast("long").alias("total_triangles")
    )
    return (
        per_node.crossJoin(F.broadcast(total))
        .orderBy(F.desc("n_tri"), "node")
        .limit(20)
    )


# --- exact similarity join via prefix filtering (round 6) ---------------------------

# Oracle: the NO-CAP exact all-pairs Jaccard answer — strictly stronger
# than x_dedup_ngram_jaccard's (whose df cap ignores pairs sharing only
# hot shingles). Prefix filtering is complete BY THEOREM, so the
# engine's filtered join must reproduce this exactly.
_PREFIX_FILTER_ORACLE = f"""
WITH {_SHINGLE_CTE},
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       {_JACCARD_SQL} AS jaccard
FROM shared
JOIN counts ca ON shared.doc_a = ca.doc_id
JOIN counts cb ON shared.doc_b = cb.doc_id
WHERE {_JACCARD_SQL} >= 0.7
"""


@register(
    "x_dedup_prefix_filter",
    oracle=_PREFIX_FILTER_ORACLE,
    tags=("extension", "dedup"),
    doc="EXACT word-5-gram Jaccard>=0.7 join via PPJoin-style prefix "
    "filtering (round 6, Xiao et al. 2008): tokens globally ordered "
    "rarest-first, each doc's |X|-ceil(t|X|)+1 prefix tokens generate "
    "candidates (complete by theorem — no LSH miss probability, no df "
    "cap dropping hot-shingle-only pairs), length-filtered with exact "
    "integer arithmetic, then exact-verified. Oracle = the uncapped "
    "all-pairs answer (operators/dedup.py:prefix_filter_pairs).",
)
def x_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.prefix_filter_pairs(
        load_table(spark, sf_dir, "documents"), n=5, threshold=0.7
    )


# Oracle: exact all ORDERED pairs with |A∩B|/|A| >= 0.8 (5s >= 4n_a in
# exact integers) — the containment prefix filter is complete by
# theorem, so the engine must reproduce this exactly.
_CONTAINMENT_ORACLE = f"""
WITH {_SHINGLE_CTE},
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS s
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, {sql_ratio_half_up("s", "ca.n", 4)} AS containment
FROM shared
JOIN counts ca ON shared.doc_a = ca.doc_id
WHERE 5 * s >= 4 * ca.n
"""


@register(
    "x_dedup_containment",
    oracle=_CONTAINMENT_ORACLE,
    tags=("extension", "dedup"),
    doc="EXACT directional shingle-containment join (|A∩B|/|A| >= 0.8): "
    "the quote/excerpt/subset detector — a short doc quoted inside a "
    "long one scores containment ~1 while its Jaccard is tiny, and set "
    "semantics survive reordering where the positional substring "
    "detector does not. Containment-form prefix filtering (A-prefix vs "
    "FULL posting list — complete by theorem, no LSH miss, no df cap), "
    "exact integer ceil/threshold arithmetic; oracle = the uncapped "
    "all-ordered-pairs answer (operators/dedup.py:containment_pairs).",
)
def x_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.containment_pairs(
        load_table(spark, sf_dir, "documents"), n=5, threshold=0.8
    )


# --- k-core decomposition over the near-dup graph (round 6) -------------------------


def _kcore_oracle(k: int = 2, rounds: int = 16) -> str:
    """Unrolled peel, the pagerank-oracle pattern: each round keeps
    edges whose BOTH endpoints still have degree >= k. Peeling is
    monotone, so rounds past the fixpoint are no-ops — the unrolled
    chain equals the converged core as long as convergence happens
    within ``rounds`` (verified: round 11 at both SFs; the engine
    RAISES if its driver loop exceeds the same bound, so a data change
    that peels deeper fails loudly on both sides rather than
    diverging). CTEs are MATERIALIZED — each round references its
    predecessor three times, and inlining would blow up exponentially.
    """
    sql = [
        """WITH e0 AS MATERIALIZED (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.25
)"""
    ]
    prev = "e0"
    for r in range(1, rounds + 1):
        sql.append(
            f""", n{r} AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, count(*) AS c
    FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
    GROUP BY node) WHERE c >= {k}
), e{r} AS MATERIALIZED (
  SELECT u, v FROM {prev}
  WHERE u IN (SELECT node FROM n{r}) AND v IN (SELECT node FROM n{r})
)"""
        )
        prev = f"e{r}"
    sql.append(
        f"""
SELECT node, CAST(count(*) AS BIGINT) AS degree
FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
GROUP BY node"""
    )
    return "".join(sql)


@register(
    "x_graph_kcore",
    oracle=_kcore_oracle(),
    tags=("extension", "graph", "similarity"),
    doc="k-CORE decomposition (k=2) of the cosine>=0.25 near-dup graph "
    "(round 6, Seidman 1983): iterative peel — drop sub-k nodes, "
    "recompute, repeat to fixpoint — with one degree partial-agg + two "
    "semi-joins per round and eager checkpoints (the pagerank loop "
    "discipline); non-convergence within the bound RAISES. The 2-core "
    "drops every tree/pendant: surviving docs sit in CYCLES of mutual "
    "near-duplication — a stronger clump signal than degree. Oracle = "
    "the unrolled peel (monotone, so extra rounds are no-ops), exact "
    "(operators/graph.py:kcore).",
)
def x_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.graph import kcore

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    pairs = similarity.embedding_dup_pairs(emb, threshold=0.25).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return kcore(pairs, k=2, max_rounds=16)


def _coreness_oracle(k_max: int = 8, rounds: int = 12) -> str:
    """Unrolled coreness decomposition: cores are NESTED, so level k's
    peel starts from level (k-1)'s converged edge set — the same
    incremental shape the engine uses. Each level unrolls ``rounds``
    peels (monotone: rounds past the fixpoint are no-ops) and the final
    SELECT appends a node=-1 SENTINEL row if any level's last two
    rounds still differ — the engine never emits node=-1, so an
    unconverged oracle hash-mismatches loudly instead of silently
    returning a non-core (the kcore-contract ADVICE fix). coreness =
    max level whose core still contains the node; every endpoint of the
    loop-free graph is in the 1-core."""
    sql = [
        """WITH l1 AS MATERIALIZED (
  SELECT a.vec_id AS u, b.vec_id AS v
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.25
)"""
    ]
    prev = "l1"
    finals = {1: "l1"}
    guards = []
    for k in range(2, k_max + 2):
        for r in range(1, rounds + 1):
            cur = f"k{k}r{r}"
            sql.append(
                f""", {cur}n AS MATERIALIZED (
  SELECT node FROM (
    SELECT node, count(*) AS c
    FROM (SELECT u AS node FROM {prev} UNION ALL SELECT v FROM {prev})
    GROUP BY node) WHERE c >= {k}
), {cur} AS MATERIALIZED (
  SELECT u, v FROM {prev}
  WHERE u IN (SELECT node FROM {cur}n) AND v IN (SELECT node FROM {cur}n)
)"""
            )
            prev = cur
        finals[k] = prev
        guards.append(
            f"(SELECT count(*) FROM k{k}r{rounds - 1}) <> "
            f"(SELECT count(*) FROM k{k}r{rounds})"
        )
    mem = " UNION ALL ".join(
        f"SELECT u AS node, {k} AS k FROM {c} "
        f"UNION ALL SELECT v, {k} FROM {c}"
        for k, c in finals.items()
    )
    sql.append(
        f""", mem AS ({mem})
SELECT node, CAST(max(k) AS INT) AS coreness FROM mem GROUP BY node
UNION ALL
SELECT CAST(-1 AS BIGINT), -1 WHERE {" OR ".join(guards)}"""
    )
    return "".join(sql)


@register(
    "x_graph_coreness",
    oracle=_coreness_oracle(),
    tags=("extension", "graph", "similarity"),
    doc="Full CORENESS decomposition of the cosine>=0.25 near-dup graph "
    "(round 7): core NUMBER per node — the graded clump-depth signal a "
    "curation pipeline thresholds after seeing the distribution, where "
    "kcore(k) answers only one threshold. Cores are nested, so one "
    "pass peels k=2,3,... each level starting from the previous core's "
    "pinned edge relation (total work = sum over shrinking relations, "
    "not max_k full peels); one count action per peel round (the r6 "
    "double-count fix). Oracle = unrolled nested peel with a "
    "convergence SENTINEL row per level (operators/graph.py:coreness).",
)
def x_graph_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from iheardai_data_pipeline_spark.operators.graph import coreness

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull()
    )
    pairs = similarity.embedding_dup_pairs(emb, threshold=0.25).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    return coreness(pairs, max_k=8, max_rounds=12)

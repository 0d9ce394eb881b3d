"""End-to-end training-data curation demo: the engine's LLM-pipeline
extension set composed into one realistic flow over the documents and
embeddings tables.

  1. quality gate      — single-pass text metrics, keep quality >= 70
  2. exact dedup       — md5 fingerprint, min-doc_id keeper
  3. near-dup groups   — n-gram Jaccard pairs -> connected components,
                         keep one doc per duplicate group
  4. decontamination   — drop docs sharing any word 8-gram with the
                         held-out split (doc_id % 20 == 0)
  5. shard manifest    — token-budget sequence packing (two-level
                         prefix sum, ~5k-token shards at demo scale)
  6. embedding side    — int8 quantization + IVF index build with one
                         Lloyd refinement over the corresponding vectors

Every stage is the same operator the catalog exposes; the demo asserts
the invariants a production run would monitor (counts only shrink,
fingerprints unique, shards within budget + one doc, index covers the
corpus).

Run: python examples/corpus_curation_demo.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.operators import dedup, similarity
from iheardai_data_pipeline_spark.operators.graph import duplicate_groups_from_pairs
from iheardai_data_pipeline_spark.operators.packing import token_budget_shards
from iheardai_data_pipeline_spark.operators.text import with_text_quality_metrics
from iheardai_data_pipeline_spark.session import get_spark
from iheardai_data_pipeline_spark.sources.batch import load_table

SF_DIR = "/root/testdata/sf0.001"


def main() -> None:
    spark = get_spark(app_name="corpus-curation-demo")
    docs = load_table(spark, SF_DIR, "documents")
    n0 = docs.count()

    # 0. round-6 web front half: raw pages (here: synthetic markup
    #    around the text) -> visible text -> normalized unicode ->
    #    prose-density line filter. All row-local; runs BEFORE any
    #    quality scoring so the gates see clean text.
    from iheardai_data_pipeline_spark.operators import webtext

    page = F.concat(
        F.lit("<html><body><script>n()</script><p>"),
        F.col("text"),
        F.lit(" &amp; more…</p><div>##</div></body></html>"),
    )
    web_clean = docs.select(
        "doc_id",
        "lang",
        "source",
        webtext.line_density_filter(
            webtext.unicode_clean(webtext.html_to_text(page))
        ).alias("text"),
    )
    assert web_clean.filter(F.col("text").contains("<")).count() == 0
    assert web_clean.filter(F.col("text").contains("&amp;")).count() == 0

    # 1. quality gate
    scored = with_text_quality_metrics(docs, "text")
    kept = scored.filter(F.col("quality") >= 70).select("doc_id", "lang", "text", "n_tokens_ws")
    n1 = kept.count()
    assert 0 < n1 <= n0

    # 2. exact dedup
    groups = dedup.exact_duplicate_groups(kept)
    exact_kept = (
        kept.join(groups.filter(F.col("is_keeper")).select("doc_id"), "doc_id")
    )
    n2 = exact_kept.count()
    fp_unique = (
        groups.filter(F.col("is_keeper")).select("fingerprint").distinct().count()
    )
    assert fp_unique == n2 <= n1

    # 3. near-dup groups -> one keeper per component
    pairs = dedup.ngram_jaccard_pairs(exact_kept, n=5, threshold=0.7, max_doc_freq=100)
    comp = duplicate_groups_from_pairs(exact_kept, pairs)
    near_kept = exact_kept.join(
        comp.filter(F.col("is_keeper")).select("doc_id"), "doc_id"
    )
    n3 = near_kept.count()
    assert 0 < n3 <= n2

    # 4. decontamination against the held-out split
    testset = docs.filter(F.col("doc_id") % 20 == 0)
    corpus = near_kept.filter(F.col("doc_id") % 20 != 0)
    dirty = dedup.decontaminate(corpus, testset, n=8)
    clean = corpus.join(dirty.select("doc_id"), "doc_id", "left_anti")
    n4 = clean.count()
    assert 0 < n4 <= n3

    # 5. shard manifest (token budget 5k at demo scale)
    manifest = token_budget_shards(
        clean.select("doc_id", "n_tokens_ws"), "doc_id", "n_tokens_ws", budget=5_000
    )
    shard_tok = manifest.groupBy("shard_id").agg(
        F.sum("n_tokens_ws").alias("tok"), F.max("n_tokens_ws").alias("biggest")
    )
    # greedy packing: a shard overflows by at most one document
    bad = shard_tok.filter(F.col("tok") > 5_000 + F.col("biggest")).count()
    n_shards = shard_tok.count()
    assert bad == 0 and n_shards >= 1

    # 6. embedding side: int8 quantization + refined IVF index
    emb = load_table(spark, SF_DIR, "embeddings")
    q = similarity.quantize_int8(emb)
    assert q.agg(F.max(F.abs(F.col("q")))).collect()[0][0] <= 127
    centroids, assigned = similarity.ivf_assign(emb, n_centroids=8, refine_iters=1)
    assert assigned.filter(F.col("centroid_id") < 0).count() == 0
    assert centroids.count() == 8

    # 7. round-3 corpus stages
    from iheardai_data_pipeline_spark.operators import corpus as corpus_ops

    rep = corpus_ops.repetition_metrics(docs)
    n_rep_kept = rep.filter(F.col("keep")).count()
    lm = corpus_ops.corpus_lm_scores(docs)
    assert lm.count() == n0
    funnel = corpus_ops.curation_funnel(docs).collect()
    assert sum(r.n_input for r in funnel) == n0
    for r in funnel:
        assert r.n_input >= r.n_quality >= r.n_unique >= r.n_sampled
    n_sampled = sum(r.n_sampled for r in funnel)

    # 8. round-4 stages: span excision, semantic dedup, leakage-safe
    #    split, and the z-ordered layout for the final corpus
    import tempfile

    from iheardai_data_pipeline_spark.operators.layout import write_zordered

    excised = dedup.excise_duplicate_spans(clean, span_words=10)
    assert excised.filter(F.col("n_kept_words") > F.col("n_words")).count() == 0

    sem = similarity.semantic_dedup(emb, n_centroids=8, threshold=0.4)
    n_sem_kept = sem.filter(F.col("keep")).count()
    assert 0 < n_sem_kept <= emb.count()

    bkt = (
        F.conv(F.substring(F.md5(F.col("component").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = F.when(bkt < 80, "train").when(bkt < 90, "val").otherwise("test")
    assigned = comp.select("doc_id", split.alias("split"))
    # leakage guard: both ends of every near-dup pair share a split
    sa = assigned.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    sb = assigned.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    assert pairs.join(sa, "doc_a").join(sb, "doc_b").filter("sa <> sb").count() == 0

    with tempfile.TemporaryDirectory() as td:
        write_zordered(
            clean.select("doc_id", "n_tokens_ws"),
            td + "/corpus",
            ["doc_id", "n_tokens_ws"],
            bits=10,
            n_files=4,
        )
        assert spark.read.parquet(td + "/corpus").count() == n4

    # 9. round-5 stages: persistent-index ingest of a late batch, real
    #    BPE shard budgets, PQ codes for the vector side, and a Bloom
    #    pre-filter for the decontamination probe
    from iheardai_data_pipeline_spark.operators import pq as pq_ops
    from iheardai_data_pipeline_spark.operators.bpe import bpe_apply, bpe_train
    from iheardai_data_pipeline_spark.operators.neardup_index import MinHashBandIndex
    from iheardai_data_pipeline_spark.operators.sketch import bloom_build, bloom_probe

    # late-arriving batch gated against the CURATED corpus without
    # re-banding it: corpus bands persist, the batch probes + appends
    idx = MinHashBandIndex(spark, tempfile.mkdtemp(prefix="demo_idx_"))
    idx.append(clean.select("doc_id", "text"))
    late = docs.filter(F.col("doc_id") % 20 == 3).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    admitted = idx.ingest(late)
    assert admitted.count() <= late.count()

    # tokenizer trained on the clean corpus; shard manifest on REAL
    # token counts instead of the whitespace stand-in
    merges = bpe_train(clean, n_merges=12)
    counted = bpe_apply(clean, merges).select("doc_id", "n_bpe_tokens")
    bpe_manifest = token_budget_shards(
        counted, "doc_id", "n_bpe_tokens", budget=5_000
    )
    assert bpe_manifest.count() == n4

    # vector side: PQ codes (8 x 4-bit) for the ANN memory path
    books = pq_ops.pq_train(emb, m=8, k=16, iters=1)
    codes = pq_ops.pq_encode(emb, books)
    assert codes.count() == emb.count()

    # Bloom pre-filter: cheap membership screen of candidate doc ids
    # against the held-out set's keys before the (expensive) 8-gram
    # decontamination join — no member escapes (no false negatives)
    bf = bloom_build(testset.select("doc_id"), "doc_id", m=2048, k=5)
    screened = bloom_probe(bf, docs.select("doc_id"), "doc_id", m=2048, k=5)
    missed = (
        screened.join(testset.select("doc_id"), "doc_id", "left_semi")
        .filter(~F.col("maybe_present"))
        .count()
    )
    assert missed == 0

    print(
        f"corpus curation OK: {n0} docs -> quality {n1} -> exact-dedup {n2} "
        f"-> near-dedup {n3} -> decontaminated {n4} -> {n_shards} shards; "
        f"embeddings quantized + {centroids.count()}-list IVF index built; "
        f"repetition gate kept {n_rep_kept}, funnel sampled {n_sampled}; "
        f"late batch {late.count()} -> {admitted.count()} "
        f"via band index; {len(merges)}-merge BPE manifest over "
        f"{bpe_manifest.count()} docs; PQ codes {codes.count()}"
    )


if __name__ == "__main__":
    main()

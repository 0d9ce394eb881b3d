"""Persistent exact-dedup fingerprint index: the production state
behind :func:`~iheardai_data_pipeline_spark.operators.dedup.incremental_dedup`.

``incremental_dedup`` takes the corpus fingerprint FRAME and a Bloom
built per call; a production ingest loop maintains BOTH as durable
state. This module persists them as two relations of ONE
:class:`~iheardai_data_pipeline_spark.streaming.stores.MultiRelationTransactionalStore`
commit log (the dedup-index family pattern — neardup_index.py,
semantic_index.py, ann_index.py):

- ``fingerprints`` (fingerprint-keyed): (fingerprint, doc_id) — the
  anti-join side, bucket-pruned at probe time so a batch's membership
  check reads only the buckets its SUSPECT fingerprints hash to. The
  introducing doc_id rides along as the replay guard (see
  :meth:`ingest`).
- ``bloom_bits`` (bit-keyed): the filter's distinct set-bit rows —
  ``sketch.bloom_build``'s RELATIONAL form, whose merge algebra is
  union+distinct, so incremental maintenance is plain O(batch)
  appends and the OR of everything ever appended is BIT-EQUAL to a
  one-shot build over all stored fingerprints (the t16 streaming
  twin's algebra). At open (and after each append) the ≤ m/64-word
  packed bitmap is cached driver-side — the shipped-sketch serving
  artifact, sized by ``m`` alone — so every ingest's row-local
  pre-filter costs zero Spark jobs for the filter side.

Ingest semantics are EXACTLY ``incremental_dedup``'s (same md5
fingerprint, same intra-batch min-id keeper, same Bloom-prefiltered
anti-join): feeding id-ordered batches reproduces the one-shot answer
— the x_dedup_indexed_exact oracle pins this, and the Bloom path's
no-false-negative contract keeps the survivor set identical.

NULL-fingerprint rows (null/short text normalizing to null) carry no
content to deduplicate on: they are returned PER BATCH (one per batch
via the keeper window) and never indexed — a null key can neither
join nor set Bloom bits. Callers wanting cross-batch null policy
handle it upstream.

No delete path: a Bloom filter cannot unset bits (standard limitation
— deletion needs a counting filter), and exact-dedup retraction is a
rebuild-the-index operation. The LWW/tombstone machinery lives in the
sibling indexes whose probe sides are full relations.

Reference parity: training-data extension set (SURVEY §2 extensions);
the persistent variant of x_dedup_incremental(_bloom), same pattern
as operators/neardup_index.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.operators.dedup import bloom_prefilter_flags
from iheardai_data_pipeline_spark.operators.sketch import (
    bloom_build,
    bloom_pack_words,
)
from iheardai_data_pipeline_spark.operators.text import fingerprint_md5
from iheardai_data_pipeline_spark.sources.batch import ensure_parallelism
from iheardai_data_pipeline_spark.streaming.stores import (
    MultiRelationTransactionalStore,
    pin_index_meta,
)

FORMAT_VERSION = 1


class FingerprintIndex:
    """Persistent exact-dedup gate over a growing corpus.

    ``append(docs)`` indexes fingerprints unconditionally (corpus
    bootstrap); ``ingest(batch)`` gates a batch against everything
    indexed so far (and its own lower-id peers), indexes the
    survivors' fingerprints, and returns the surviving rows.

    The Bloom layout constants (``m``, ``k``) are part of the on-disk
    state (bits from two different layouts cannot be OR-merged), so
    the creator pins them in ``_fp_meta.json`` and later opens must
    match.

    ``n_buckets``: pass ``expected_docs=`` to size the fingerprint
    relation's bucket count with the shared
    :func:`~iheardai_data_pipeline_spark.operators.neardup_index.buckets_for_corpus`
    rule (one fingerprint row per doc → ``bands=1``). Without either,
    the store is sized to its data (one bucket at first, refitted by
    each ``compact``), which keeps rig-scale corpora in the scan-all
    regime.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        m: int = 4096,
        k: int = 6,
        id_col: str = "doc_id",
        text_col: str = "text",
        fp_col: str = "fingerprint",
        n_buckets: int | None = None,
        expected_docs: int | None = None,
    ) -> None:
        from iheardai_data_pipeline_spark.operators.neardup_index import (
            buckets_for_corpus,
        )

        if n_buckets is None and expected_docs is not None:
            n_buckets = buckets_for_corpus(expected_docs, bands=1)
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self.fp_col = fp_col
        pin_index_meta(
            path,
            "_fp_meta.json",
            {"format": FORMAT_VERSION, "m": m, "k": k},
            "fingerprint index",
            "one Bloom layout per index",
        )
        self.m, self.k = m, k
        self._store = MultiRelationTransactionalStore(
            spark,
            os.path.join(path, "state"),
            relations={"fingerprints": [fp_col], "bloom_bits": ["bit"]},
            n_buckets=n_buckets,
        )
        self._words: list[int] | None = None
        self._words_version: int = -1

    # -- internals ------------------------------------------------------------

    def _hashed(self, docs: DataFrame) -> DataFrame:
        return ensure_parallelism(docs).withColumn(
            self.fp_col, fingerprint_md5(F.col(self.text_col))
        )

    def _keeper(self, hashed: DataFrame) -> DataFrame:
        """Intra-batch min-id keeper — incremental_dedup's window."""
        w = Window.partitionBy(self.fp_col).orderBy(self.id_col)
        return (
            hashed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def words(self) -> list[int]:
        """The packed m/64-word Bloom bitmap (driver serving artifact),
        OR-folded from the persisted bit relation and VERSION-STAMPED
        against the store's OCC commit log: a call re-folds whenever
        the committed version has advanced past the cached one, so
        EVERY words() call returns a bitmap at least as fresh as the
        log was when the call started (the round-8 CROSS-CALL
        multi-writer staleness hole — ADVICE r8). The guarantee is
        per-call snapshot freshness, no more: a foreign commit landing
        BETWEEN one ingest's words() snapshot and its own append is
        still invisible to that ingest's prefilter, which can then
        classify the foreign writer's just-stored fingerprint as
        "definitely absent" and admit a duplicate (ADVICE r9). True
        multi-writer dedup exactness needs commit-time conflict
        detection — the epoch/OCC machinery guards REPLAYS, not
        concurrent distinct writers; single-writer-per-index (the
        streaming twins' shape) is the supported deployment. This
        instance's own appends keep the cache current without a
        re-fold (see :meth:`_index_fps`); the version probe itself is
        one local directory listing, zero Spark jobs.

        Staleness is only ever on the safe side: the version is read
        BEFORE the fold, so a commit racing the fold at worst leaves
        the cache carrying MORE bits than its stamp claims (a Bloom
        false positive routes the row through the anti-join — correct,
        just unpruned) and the next call re-folds."""
        v = self._store.current_version()
        if self._words is None or self._words_version != v:
            n_words = (self.m + 63) // 64
            arr = [0] * n_words
            bits = self._store.read("bloom_bits")
            if bits is not None:
                # dropDuplicates BEFORE packing: replayed un-epoched
                # appends duplicate bit rows physically, and the packed
                # SUM-as-OR is only exact over distinct bits
                packed = bloom_pack_words(
                    bits.dropDuplicates(["bit"]), self.m
                )
                for r in packed.collect():  # bounded: <= m/64 rows
                    arr[int(r["word_idx"])] = int(r["word"])
            self._words = arr
            self._words_version = v
        return self._words

    def _or_into_words(self, bit_rows: list[int]) -> None:
        if self._words is None:
            return
        for b in bit_rows:
            # OR in the unsigned domain, store SIGNED two's complement
            # (bit 63 = min-long) — bloom_pack_words' representation,
            # which the bigint DataFrame column requires
            w = (self._words[b // 64] & ((1 << 64) - 1)) | (1 << (b % 64))
            self._words[b // 64] = w - (1 << 64) if w >= 1 << 63 else w

    def _index_fps(self, kept: DataFrame, epoch) -> None:
        """ONE atomic O(batch) commit of the survivors' fingerprints +
        their Bloom bits; the driver word cache is OR-updated from the
        same (bounded, <= m) bit set — but ONLY when this append was
        the sole commit since the cache's stamp (version advanced by
        exactly 1). If other writers' commits interleaved, their bits
        are not in ``bit_vals``, so the cache is invalidated instead
        and the next :meth:`words` re-folds from the store."""
        fps = (
            kept.select(self.fp_col, self.id_col)
            .where(F.col(self.fp_col).isNotNull())
            .localCheckpoint(eager=True)
        )
        bits = bloom_build(fps, self.fp_col, m=self.m, k=self.k)
        bit_vals = [int(r["bit"]) for r in bits.collect()]  # <= m rows
        committed = self._store.append_keyed(
            {
                "fingerprints": fps,
                "bloom_bits": self.spark.createDataFrame(
                    [(b,) for b in bit_vals], "bit long"
                ),
            },
            epoch=epoch,
        )
        if self._words is None:
            return
        if committed is not None and committed == self._words_version + 1:
            # OUR commit, and it immediately follows the cached stamp:
            # the OR of bit_vals is exactly the new version's bitmap
            self._or_into_words(bit_vals)
            self._words_version = committed
        elif (
            committed is None
            and self._store.current_version() == self._words_version
        ):
            # nothing was committed (empty batch / epoch-guarded
            # replay) and the log hasn't moved — the cache is exact
            pass
        else:
            # foreign commits interleaved — their bits aren't in
            # bit_vals, so drop the cache; the next words() re-folds.
            # Never OR onto a stamp whose store state we haven't seen:
            # a missing foreign bit would flag a stored fingerprint
            # "definitely absent" and admit a duplicate.
            self._words = None
            self._words_version = -1

    # -- public API -------------------------------------------------------------

    def append(self, docs: DataFrame, epoch=None) -> None:
        """Index documents' fingerprints unconditionally (corpus
        bootstrap / trusted sources) — one batch-distinct fingerprint
        row per distinct content, min doc_id as the introducer.
        ``epoch`` makes replays idempotent."""
        kept = self._keeper(self._hashed(docs))
        self._index_fps(kept, epoch)

    def ingest(self, batch: DataFrame, epoch=None) -> DataFrame:
        """Gate ``batch`` with incremental_dedup's exact plan shape —
        keeper window first, row-local Bloom pre-filter against the
        cached words, suspects-only anti-join against the (bucket-
        pruned) fingerprint relation — then index the survivors'
        fingerprints in one atomic commit and return the surviving
        rows with every original column (+ the fingerprint).

        REPLAY GUARD: a crash-replayed batch finds its own
        fingerprints already stored; the anti-join excludes stored
        rows whose introducing doc_id is in the current batch
        (broadcast — batch-sized), so a replay returns the first
        run's exact survivors. ``epoch`` makes the append itself
        idempotent.

        Cost anatomy: fingerprint+flag are row-local; the batch
        shuffles ONCE on fp (the keeper window, whose exchange the
        suspects' anti-join reuses); the store side reads only the
        suspects' buckets (pruned layouts). Nothing scales with
        corpus size."""
        flagged = self._keeper(
            bloom_prefilter_flags(
                self._hashed(batch),
                self.words(),
                self.fp_col,
                m=self.m,
                k=self.k,
            )
        )
        definite_new = flagged.filter(~F.col("__maybe_present")).drop(
            "__maybe_present"
        )
        suspects = flagged.filter(F.col("__maybe_present")).drop(
            "__maybe_present"
        )
        if self._store.prunes_probes:
            # the pruning collect executes the key-frame plan — pin the
            # (batch-sized) suspects once so the collect, the anti-join
            # and the union don't re-run the hash/window chain
            suspects = suspects.localCheckpoint(eager=True)
        stored = self._store.read_probe(
            "fingerprints", suspects.select(self.fp_col)
        )
        if stored is None:
            survivors = definite_new.unionByName(suspects)
        else:
            guard = stored.join(
                F.broadcast(batch.select(self.id_col)),
                self.id_col,
                "left_anti",
            )
            survivors = definite_new.unionByName(
                suspects.join(
                    guard.select(self.fp_col), self.fp_col, "left_anti"
                )
            )
        survivors = survivors.localCheckpoint(eager=True)
        self._index_fps(survivors, epoch)
        return survivors

    def merge(self, other: "FingerprintIndex", epoch=None) -> None:
        """Fold another SHARD's state into this index — the per-shard
        build + merge topology for a 100 TB exact-dedup corpus. Both
        shards must share the Bloom layout (``m``, ``k``): bits from
        different layouts cannot be OR-merged, so a mismatch raises.

        Semantics: the merged fingerprint relation is the UNION of the
        shards' relations, and the Bloom OR is the bit-union — so the
        merged gate rejects exactly the contents either shard has seen
        (membership joins are multiset-insensitive; a content stored by
        both shards is represented once per shard until ``compact``,
        harmlessly). Shards built on DISJOINT doc_id ranges preserve
        the replay guard exactly; overlapping shards only strengthen
        the gate (more stored introducers, never fewer).

        Cost: ONE atomic O(shard) commit; the driver word cache is
        invalidated (the next :meth:`words` re-folds — the merged
        bitmap is the OR of everything stored, by the bit relation's
        union algebra). ``epoch`` makes a replayed merge idempotent."""
        if (other.m, other.k) != (self.m, self.k):
            raise ValueError(
                f"refusing to merge Bloom layouts m={other.m},k={other.k} "
                f"into m={self.m},k={self.k} — bits are not OR-comparable"
            )
        fps = other._store.read("fingerprints")
        bits = other._store.read("bloom_bits")
        if fps is None or bits is None:
            return  # empty shard
        ofp, oic = other.fp_col, other.id_col
        self._store.append_keyed(
            {
                "fingerprints": fps.select(
                    F.col(ofp).alias(self.fp_col),
                    F.col(oic).alias(self.id_col),
                ),
                "bloom_bits": bits.select("bit").dropDuplicates(["bit"]),
            },
            epoch=epoch,
        )
        # foreign bits aren't in the cache — drop it; next words()
        # re-folds from the store (the _index_fps foreign-commit rule)
        self._words = None
        self._words_version = -1

    def compact(self) -> None:
        """Fold append-dir lists + drop rows duplicated by un-epoched
        replays (results never depend on them — the fingerprint
        relation is content-keyed and the Bloom OR is idempotent)."""
        fp, ic = self.fp_col, self.id_col

        def fold(rel: str, current: DataFrame, upd) -> DataFrame:
            if rel == "bloom_bits":
                return current.dropDuplicates(["bit"])
            return current.dropDuplicates([fp, ic])

        self._store.apply_keyed_all_buckets(fold)

    def vacuum(self, keep: int = 2, grace_seconds: float = 3600.0) -> None:
        self._store.vacuum(keep, grace_seconds)

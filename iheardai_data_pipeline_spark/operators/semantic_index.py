"""Persistent semantic-dedup index: SemDeDup-style incremental ingest
without re-clustering the corpus.

:func:`~iheardai_data_pipeline_spark.operators.similarity.semantic_dedup`
re-seeds centroids and re-generates within-cluster pairs over the WHOLE
corpus every call. At 100 TB the cluster structure is a shipped index
artifact: this module pins the centroids ONCE (deterministic
first-n-by-id seeds over the bootstrap corpus — the same seeds
ivf_assign uses, so the assignment arithmetic stays oracle-portable)
and persists every vector in a bucketed relation KEYED BY CLUSTER, so
an incoming batch:

1. assigns itself to the pinned centroids (narrow argmax — no shuffle),
2. reads ONLY the stored vectors of the clusters it touches
   (the store's ``read_probe`` on centroid_id: bucket-pruned on large
   layouts, a scan the cluster join filters on rig-small ones),
3. drops members with an exact cosine >= ``threshold`` against a stored
   vector (replay-guarded) or a LOWER-id batch peer in the same
   cluster, and
4. appends ALL batch vectors through the O(batch) add-files commit
   (kept and rejected — near-dup is not transitive; rejected vectors
   must stay probe-able or chains split across batches would resolve
   differently than one batch).

Feeding id-ordered batches therefore reproduces the one-shot
incremental gate (every incoming vector checked against corpus + all
lower-id incoming, same-cluster, same fold arithmetic) exactly — the
contract the x_dedup_semantic_ingest oracle pins.

Like SemDeDup itself, candidate generation is WITHIN-cluster: a
near-dup pair straddling a centroid boundary is out of scope by design
(the trade that makes the search corpus-linear). Zero-norm vectors are
the caller's problem, as in semantic_dedup (cosine is undefined on
them; the testdata has none).

Reference parity: training-data extension set (SURVEY §2 extensions);
the persistent variant of x_dedup_semantic, same pattern as
operators/neardup_index.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iheardai_data_pipeline_spark.operators.mutations import latest_live
from iheardai_data_pipeline_spark.operators.similarity import (
    _assign_to_centroids,
    _collect_centroids,
    _dot,
    _norm,
)
from iheardai_data_pipeline_spark.sources.batch import ensure_parallelism
from iheardai_data_pipeline_spark.streaming.stores import (
    MultiRelationTransactionalStore,
    WriteOnceFlag,
    pin_index_meta,
)

# On-disk layout version, persisted in the meta JSON (same contract as
# neardup_index.FORMAT_VERSION). History:
#   (absent) — r6 layout: one 3-column "vectors" relation, no versions
#   2        — r7 layout: versioned vectors (+seq, +live) + "ids" relation
# Older layouts refuse to open: a mixed-schema relation either fails on
# the missing columns or reads old rows with live=NULL, which the LWW
# collapse silently drops — the pre-upgrade corpus would vanish.
FORMAT_VERSION = 2


class SemanticDedupIndex:
    """Persistent cluster-pruned cosine near-dup gate over a growing
    embedding corpus.

    Create with :meth:`bootstrap` (computes + pins centroids from the
    corpus, indexes it); reopen by constructing with the same path
    (centroids load from ``_centroids.json``). ``ingest(batch)`` gates
    and appends, returning survivors.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        threshold: float = 0.4,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_buckets: int | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.threshold = threshold
        self.id_col = id_col
        self.vec_col = vec_col
        meta = pin_index_meta(
            path,
            "_centroids.json",
            {"format": FORMAT_VERSION, "threshold": threshold},
            "semantic index",
            "one threshold per index",
            publish=False,
        )
        self.centroids: list[list[float]] = meta["centroids"]
        # two relations, one commit log: "vectors" (cluster-keyed — the
        # probe side) and "ids" (id-keyed — the delete-path lookup: a
        # retraction arrives with only the id, and the tombstone must
        # land in the SAME cluster bucket as the row it kills or a
        # pruned probe of that cluster would never see it)
        self._store = MultiRelationTransactionalStore(
            spark,
            os.path.join(path, "state"),
            relations={"vectors": ["centroid_id"], "ids": [id_col]},
            n_buckets=n_buckets,
        )
        # tombstone fast-path flag — see MinHashBandIndex (append-only
        # ingest pays zero for the upsert capability until a delete)
        self._has_tombstones = WriteOnceFlag(
            os.path.join(path, "_has_tombstones")
        )

    @classmethod
    def bootstrap(
        cls,
        spark: SparkSession,
        path: str,
        corpus: DataFrame,
        n_centroids: int | None = 16,
        threshold: float = 0.4,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_buckets: int | None = None,
    ) -> "SemanticDedupIndex":
        """Build the index: pin deterministic seed centroids (first
        ``n_centroids`` corpus vectors by id — ivf_assign's contract, so
        the assignment fold is oracle-portable) and index the corpus.
        The centroid artifact is a bounded collect, exactly like an IVF
        index build; it NEVER changes afterwards (re-centering would
        silently re-assign old vectors — rebuild instead).

        Race/retry semantics are :meth:`PersistentAnnIndex.bootstrap`'s:
        the first creator's meta wins, a caller whose corpus yields the
        same centroids (and threshold) proceeds and its epoch-guarded
        corpus append no-ops, and one with different artifacts raises.

        ``n_centroids=None`` applies the IVF sqrt(N) sizing rule
        (similarity.resolve_n_centroids) — THE scale knob: probe cost
        per batch vector is its cluster's stored population, so cluster
        count must grow with the corpus or the within-cluster verify
        degrades toward corpus-linear (measured: 10x corpus at a FIXED
        16 clusters -> 1.9x ingest wall on an all-duplicate batch;
        docs/SCALE.md). The rig entries keep 16 for oracle parity."""
        from iheardai_data_pipeline_spark.operators.similarity import (
            resolve_n_centroids,
        )

        live = corpus.where(F.col(vec_col).isNotNull())
        n_centroids = resolve_n_centroids(live, n_centroids)
        cent = _collect_centroids(
            live,
            n_centroids,
            id_col,
            vec_col,
            "first",
        )
        pin_index_meta(
            path,
            "_centroids.json",
            {
                "format": FORMAT_VERSION,
                "threshold": threshold,
                "centroids": [v for _, v in cent],
            },
            "semantic index",
            "different artifacts: refusing to append a corpus assigned to "
            "centroids the index was not built with",
        )
        idx = cls(
            spark, path, threshold, id_col, vec_col, n_buckets=n_buckets
        )
        idx.append(corpus, epoch="__bootstrap__")
        return idx

    # -- internals --------------------------------------------------------------

    def _cent_tuples(self) -> list[tuple[int, list[float]]]:
        return list(enumerate(self.centroids))

    def _assigned(self, batch: DataFrame) -> DataFrame:
        """(id, vec, centroid_id) under the PINNED centroids — one
        narrow argmax projection (similarity._assign_to_centroids)."""
        vecs = ensure_parallelism(
            batch.where(F.col(self.vec_col).isNotNull())
        ).select(self.id_col, self.vec_col)
        return _assign_to_centroids(
            vecs, self._cent_tuples(), self.id_col, self.vec_col
        ).select(self.id_col, self.vec_col, "centroid_id")

    def _cos(self, a, b):
        return _dot(a, b) / (_norm(a) * _norm(b))

    def _updates(self, assigned: DataFrame, seq: int) -> dict:
        """Both relations' rows for one batch, stamped with the LWW
        version (seq, live=true)."""
        ic, vc = self.id_col, self.vec_col
        s = F.lit(seq).cast("long").alias("seq")
        live = F.lit(True).alias("live")
        return {
            "vectors": assigned.select(ic, vc, "centroid_id", s, live),
            "ids": assigned.select(ic, "centroid_id", s, live),
        }

    # -- public API ---------------------------------------------------------------

    def append(self, batch: DataFrame, epoch=None, seq: int = 0) -> None:
        """Index vectors unconditionally (corpus bootstrap / trusted
        sources). One atomic O(batch) add-files commit.

        UPSERT CONTRACT: re-appending an id that is already LIVE (no
        intervening :meth:`delete`) is UNSUPPORTED — seq alone does not
        give upsert semantics. Without a tombstone no LWW collapse runs
        (the append-only fast path), so both versions gate probes; and
        if the new vector lands in a DIFFERENT cluster, a pruned read
        of the old cluster's bucket sees only the stale version and
        resurrects it (the "tombstone lands in the same bucket"
        exactness argument holds only for delete-mediated upserts).
        To replace a live vector: ``delete(ids, seq=s)`` then
        ``append(batch, seq=s+1)``."""
        self._store.append_keyed(
            self._updates(self._assigned(batch), seq), epoch=epoch
        )

    def delete(self, ids: DataFrame, seq: int, epoch=None) -> None:
        """Retract vectors by id under the M1/M2 last-write-wins
        contract (the band-index delete's embedding sibling). The
        retraction arrives with only the id, so the OLD cluster comes
        from a bucket-pruned lookup of the "ids" relation; the
        tombstone then lands in that cluster's bucket, where it starves
        the probe join exactly. One atomic O(batch) commit; physical
        reclamation happens in :meth:`compact` (same stale-replay
        caveat as the band index). Deleting an unknown id is a no-op.

        Scale note: cost = the ids-relation buckets the delete batch
        hashes to, plus one batch-sized commit — never the corpus."""
        ic = self.id_col
        self._has_tombstones.set()
        key_frame = ids.select(ic)
        lookup = self._store.read_probe("ids", key_frame)
        if lookup is None:
            return
        old = latest_live(lookup, [ic], ["centroid_id"]).join(
            F.broadcast(key_frame), ic, "left_semi"
        )
        s = F.lit(seq).cast("long").alias("seq")
        dead = F.lit(False).alias("live")
        # null vector typed to match the stored rows (schema-only read
        # — one parquet footer, no data scan)
        vtype = self._store.read("vectors").schema[self.vec_col].dataType
        vec_null = F.lit(None).cast(vtype).alias(self.vec_col)
        self._store.append_keyed(
            {
                "vectors": old.select(ic, vec_null, "centroid_id", s, dead),
                "ids": old.select(ic, "centroid_id", s, dead),
            },
            epoch=epoch,
        )

    def merge(self, other: "SemanticDedupIndex", epoch=None) -> None:
        """Fold another SHARD's entire versioned state into this index
        (the per-shard-build + merge topology; see
        PersistentAnnIndex.merge for the full correctness model). Both
        shards must be pinned to the SAME centroids and threshold —
        assignments and gate decisions from different artifacts are not
        comparable. Rows are carried VERBATIM (seq/live included) so
        LWW resolves across shards exactly as in one index; tombstone
        state propagates. ONE atomic O(shard) commit; ``epoch`` makes a
        replayed merge idempotent."""
        if (
            other.centroids != self.centroids
            or abs(other.threshold - self.threshold) > 1e-12
        ):
            raise ValueError(
                "refusing to merge semantic-dedup shards pinned to "
                "different centroids/threshold — gate decisions are "
                "only comparable under one artifact pair"
            )
        vecs = other._store.read("vectors")
        ids_rel = other._store.read("ids")
        if vecs is None or ids_rel is None:
            return  # empty shard
        oc, sc = other.id_col, self.id_col
        ov, sv = other.vec_col, self.vec_col
        if other._has_tombstones:
            self._has_tombstones.set()
        self._store.append_keyed(
            {
                "vectors": vecs.select(
                    F.col(oc).alias(sc),
                    F.col(ov).alias(sv),
                    "centroid_id",
                    "seq",
                    "live",
                ),
                "ids": ids_rel.select(
                    F.col(oc).alias(sc), "centroid_id", "seq", "live"
                ),
            },
            epoch=epoch,
        )

    def ingest(self, batch: DataFrame, epoch=None, seq: int = 0) -> DataFrame:
        """Gate ``batch`` against the index + lower-id same-cluster
        batch peers, append ALL batch vectors, return surviving rows
        with every original column.

        Cost anatomy: one narrow assignment, one bucket-pruned read of
        the touched clusters, one broadcast (batch-side) equi-join per
        probe — nothing scales with corpus size except the touched
        clusters' stored rows, which is what the cluster blocking is
        for. ``epoch`` makes the append idempotent; the gate itself is
        replay-exact either way (the probe anti-joins the batch's own
        ids).

        Same UPSERT CONTRACT as :meth:`append`: ingesting an id that is
        already live without an intervening :meth:`delete` is
        unsupported — route replacements through delete + ingest."""
        ic = self.id_col
        vc = self.vec_col
        assigned = self._assigned(batch).localCheckpoint(eager=True)
        a_side = assigned.select(
            F.col(ic).alias("id_a"),
            F.col(vc).alias("vec_a"),
            "centroid_id",
        )
        # intra-batch: later id drops when a lower-id peer matches,
        # regardless of that peer's own fate (one-shot convention)
        intra = (
            a_side.join(
                assigned.select(
                    F.col(ic).alias("id_b"),
                    F.col(vc).alias("vec_b"),
                    "centroid_id",
                ),
                "centroid_id",
            )
            .filter(F.col("id_a") > F.col("id_b"))
            .filter(self._cos(F.col("vec_a"), F.col("vec_b")) >= self.threshold)
            .select("id_a")
        )
        dropped = intra
        # the cluster equi-join below filters a scan-all read
        stored = self._store.read_probe(
            "vectors", assigned.select("centroid_id"), broadcast_keys=True
        )
        if stored is not None and self._has_tombstones:
            # LWW collapse only once a delete() has ever happened —
            # retracted/superseded versions stop matching here. Exact
            # under pruned reads: a tombstone is written into the SAME
            # cluster bucket as the version it kills
            stored = latest_live(stored, [ic], [vc, "centroid_id"])
        if stored is not None:
            probe = (
                # REPLAY GUARD (see neardup_index.ingest): a replayed
                # batch's own appended vectors must not self-match
                stored.join(
                    F.broadcast(assigned.select(ic)), ic, "left_anti"
                )
                .select(
                    F.col(ic).alias("id_b"),
                    F.col(vc).alias("vec_b"),
                    "centroid_id",
                )
                .join(F.broadcast(a_side), "centroid_id")
                .filter(
                    self._cos(F.col("vec_a"), F.col("vec_b")) >= self.threshold
                )
                .select("id_a")
            )
            dropped = dropped.unionByName(probe)
        survivors = batch.join(
            dropped.distinct().withColumnRenamed("id_a", ic), ic, "left_anti"
        ).localCheckpoint(eager=True)
        self._store.append_keyed(self._updates(assigned, seq), epoch=epoch)
        return survivors

    def compact(self) -> None:
        """Fold append-dir lists + drop replayed duplicate rows; with
        tombstones present, also the VACUUM of the upsert model — each
        relation collapses to the live latest version per id (the
        tombstone and every version it kills drop together; compaction
        sees whole relations, so the collapse is global). Same
        stale-replay caveat as the band index's compact."""
        ic = self.id_col
        vc = self.vec_col

        def fold(rel: str, current: DataFrame, upd) -> DataFrame:
            if not self._has_tombstones:
                return current.dropDuplicates([ic])
            payload = [vc, "centroid_id"] if rel == "vectors" else ["centroid_id"]
            return latest_live(current, [ic], payload, keep_version=True)

        self._store.apply_keyed_all_buckets(fold)

    def vacuum(self, keep: int = 2, grace_seconds: float = 3600.0) -> None:
        self._store.vacuum(keep, grace_seconds)

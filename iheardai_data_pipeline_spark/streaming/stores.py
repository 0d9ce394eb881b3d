"""Keyed upsert stores for foreachBatch sinks (§3.2, K2/K4/M1-M4).

The reference's upserts are transactional (``ON CONFLICT ... DO UPDATE``
inside a connection transaction, enhanced_kpi_consumer.py:395-434). This
module restates them as ONE optimistic-concurrency commit log on a plain
filesystem, :class:`MultiRelationTransactionalStore`: every commit stages
its rows under a unique snapshot directory, then atomically claims the
next version number with an exclusive hard link (the link fails with
EEXIST if the version is taken — the same claim primitive Delta's log
protocol relies on for its ``_delta_log/N.json`` files). A losing writer
re-reads the new base, re-applies its fold, and retries; readers only
ever see fully-committed versions, so reads are snapshot-isolated and a
crash mid-write leaves at most an unreferenced staging dir (reclaimed by
``vacuum``).

Keyed upserts go through :class:`BucketedTransactionalStore`, a
one-relation view of that log. It is MERGE-ON-READ: a last-write-wins
merge stages only the batch and appends its dir to each touched
bucket's dir list, folding the list's tail in the same write when the
tail is no bigger than what is being added (a binary counter, as in a
size-tiered LSM tree), so a merge costs O(batch) and a list holds
O(log n) dirs after n merges; a read resolves a bucket whose list
holds more than one dir to the latest dir holding each key. The key
space is hash-bucketed: a merge touches only the buckets its keys hash
to, a key-local :meth:`~BucketedTransactionalStore.apply_keyed`
rewrites only those buckets (the commit manifest inherits untouched
buckets by pointer — the same idea as Delta's file-level MERGE), and
:meth:`~BucketedTransactionalStore.apply` runs a fold that need not be
key-local over the whole resolved relation.

A store opened without ``n_buckets`` is sized to its data: each
relation starts at one bucket, and a commit that rewrites the whole
relation picks its next power-of-two bucket count from the bytes it
staged (see :class:`MultiRelationTransactionalStore`). An explicit
``n_buckets`` pins the count.

The persistent indexes (``operators/*_index.py``) keep their relations
in a :class:`MultiRelationTransactionalStore` and take the rest of
their storage scaffold from here too: :func:`pin_index_meta` (the
index's pinned parameters and format), :class:`WriteOnceFlag` (the
tombstone flag) and :meth:`MultiRelationTransactionalStore.read_probe`
(the prune-vs-scan rule for probe reads). Every file this module
publishes goes through :func:`_publish_once`.
"""

from __future__ import annotations

import json
import os
import reprlib
import shutil
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession

from iheardai_data_pipeline_spark.operators.mutations import (
    latest_by_priority,
    merge_upsert_chain,
    tag_priority,
)


# -- OCC commit-log primitives ------------------------------------------------------
# MultiRelationTransactionalStore's version listing, epoch bookkeeping
# and exclusive claim.

# On-disk layout version, pinned in _meta.json by a store's creator.
# Every open refuses any other version (and a store without one) instead
# of guessing how to read it; bump it whenever the layout changes.
# History: 1 — one bucket count per store, pinned in _meta.json;
# 2 — each commit records each relation's bucket count; 3 — _meta.json
# pins "merge_on_read", and a merge-on-read store's bucket dir list
# resolves latest-dir-wins per key (layout-2 code would concatenate it).
LAYOUT_VERSION = 3

# The most buckets a data-sized store gives one relation: the cap
# operators/neardup_index.py:buckets_for_corpus sizes indexes to.
MAX_BUCKETS = 65536

# Consecutive lost commit races a writer retries before giving up. Every
# retry re-reads the winner's commit, so only a writer starved by
# unserialized contenders on one store ever reaches the limit.
OCC_MAX_RETRIES = 10

# Probe reads (read_probe) prune to the touched buckets only on
# relations with MORE buckets than this. The pruning collect is a whole
# Spark job over the probe keys; at rig-small bucket counts lazily
# listing every bucket dir is cheaper than running it, while large
# layouts (buckets_for_corpus sizing, or a data-sized relation past
# 64 splits) must prune — that is what keeps a probe O(batch).
PRUNE_PROBES_ABOVE_BUCKETS = 64


def _publish_once(path: str, data: str) -> bool:
    """Publish ``data`` at ``path`` exactly once: write a temp file
    beside it, fsync, hard-link it into place (the link fails with
    EEXIST when the name is taken) and drop the temp. A reader that can
    see the file sees it complete. True iff this call created it."""
    tmp = os.path.join(os.path.dirname(path), f".tmp-{uuid.uuid4().hex}")
    with open(tmp, "w") as fh:
        fh.write(data)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, path)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def pin_index_meta(
    path: str,
    filename: str,
    want: dict,
    what: str,
    reason: str = "",
    publish: bool = True,
) -> dict:
    """The meta pin of a persistent index at ``path``: publish ``want``
    as ``filename`` if it is missing (first creator wins; with
    ``publish=False`` a missing file is refused instead), then check
    the persisted copy — a ``format`` other than ``want["format"]`` is
    refused, and so is any other key of ``want`` that differs (``reason``
    says why the index cannot mix them). Returns the persisted meta."""
    meta_path = os.path.join(path, filename)
    if not os.path.exists(meta_path):
        if not publish:
            raise ValueError(f"no {what} at {path} — build one with bootstrap()")
        os.makedirs(path, exist_ok=True)
        _publish_once(meta_path, json.dumps(want))
    with open(meta_path) as fh:
        persisted = json.load(fh)
    if persisted.get("format") != want["format"]:
        raise ValueError(
            f"{what} at {path} has on-disk format "
            f"{persisted.get('format', 'none (pre-versioned)')}; this build "
            f"reads format {want['format']}. Opening would mix row layouts "
            "and drop or misread the older rows — the index must be REBUILT "
            "from its source into a fresh path"
        )
    clash = [k for k in want if persisted.get(k) != want[k]]
    if clash:
        raise ValueError(
            f"{what} at {path} was created with "
            + ", ".join(
                f"{k}={reprlib.repr(persisted.get(k))} "
                f"(got {reprlib.repr(want[k])})"
                for k in clash
            )
            + (f" — {reason}" if reason else "")
        )
    return persisted


class WriteOnceFlag:
    """A flag that, once set, stays set: an empty file published with
    :func:`_publish_once`. Truthy iff the file exists."""

    def __init__(self, path: str) -> None:
        self.path = path

    def __bool__(self) -> bool:
        return os.path.exists(self.path)

    def set(self) -> None:
        _publish_once(self.path, "")


def _bytes_under(path: str) -> int:
    """Bytes of the data files under ``path`` (checksums, markers and
    other hidden files left out); 0 when it does not exist."""
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df`` (``sizeInBytes`` of its
    optimized plan): the input files' bytes for a file scan or a
    file-stream micro-batch. A plan without statistics (a
    ``createDataFrame`` of local rows) reports
    ``spark.sql.defaultSizeInBytes``, which says nothing; that reads as
    0, so :func:`_fold_start` keeps its log bound instead of folding the
    whole list. No Spark job runs."""
    jdf = df._jdf
    estimate = int(jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    unknown = jdf.sparkSession().sessionState().conf().defaultSizeInBytes()
    return 0 if estimate >= unknown else estimate


def _fold_start(sizes: list[int], adding: float) -> int:
    """Where a merge's fold of a bucket's dir list starts, given the
    list's dir sizes (oldest first) and the bytes the merge adds: the
    first index ``i`` with ``sizes[i] <= adding + sum(sizes[i+1:])``,
    or ``len(sizes)`` (fold nothing). With accurate sizes this is the
    binary counter (fold the tail while it is no bigger than what is
    being added), and every dir the fold leaves is bigger than all the
    later dirs together, so a list stays at about log2 n + 2 dirs after
    n equal merges. Scanning past the first tail that is too big keeps
    that bound when ``adding`` is a poor estimate: with ``adding`` 0,
    two equal dirs still fold."""
    start, later = len(sizes), adding
    for i in range(len(sizes) - 1, -1, -1):
        if sizes[i] <= later:
            start = i
        later += sizes[i]
    return start


def _occ_current_version(commits_dir: str) -> int:
    versions = [int(f) for f in os.listdir(commits_dir) if f.isdigit()]
    return max(versions, default=0)


def _nullable_schema(schema):
    """The schema with every field FULLY recursively nullable (struct
    members, array elements, map values included) — parquet round-trips
    Spark frames with all fields optional, so a cached read schema must
    be at least as permissive as footer inference would have produced;
    a write-primed cache that kept a staged frame's non-null NESTED
    flag could otherwise silently misread another commit's nulls
    (ADVICE r14)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    def relax(dt):
        if isinstance(dt, StructType):
            return StructType(
                [
                    StructField(f.name, relax(f.dataType), True, f.metadata)
                    for f in dt
                ]
            )
        if isinstance(dt, ArrayType):
            return ArrayType(relax(dt.elementType), True)
        if isinstance(dt, MapType):
            return MapType(relax(dt.keyType), relax(dt.valueType), True)
        return dt

    return relax(schema)


def _staged_write_tasks(spark, n_groups: int) -> int:
    """Task count for a staged bucketed write: one task per (rel,
    bucket) group UP TO the cluster's parallelism, beyond which groups
    share tasks. The hash repartition on the partition columns keeps
    each group wholly inside one task, and the dynamic-partition
    writer emits one file per group either way (it task-locally sorts
    on the partition columns and rolls a new file per value), so the
    file layout — and therefore every reader — is unchanged; only the
    per-task fixed cost (writer init, output-commit round trip) stops
    being paid n_groups times when n_groups far exceeds the cores
    (measured: the 80-task postings staged write burned ~0.4s/task of
    non-CPU executor time at batch sizes where the whole write is
    <3 MB — guide §2.2/§6 scale-adaptive partitioning). On a real
    cluster defaultParallelism >= n_groups and the count is identical
    to the old one-task-per-group shape."""
    return max(1, min(n_groups, spark.sparkContext.defaultParallelism))


# Retired-epoch records are IMMUTABLE once published (write→fsync→
# exclusive-link, never modified), so their contents can be cached for
# the process lifetime: epochs-dir identity -> (filenames already read,
# epochs). Without this every epoch-guarded commit re-reads every
# retired record — O(total epochs ever vacuumed) JSON opens per commit,
# unbounded for a long-lived stream. A fresh process just starts with a
# cold cache. The key is (path, device, inode, GENERATION) — not the
# path alone (the round-8 path-keyed staleness hole — ADVICE r8
# stores.py:77), and not just (path, dev, inode) either: ext4/xfs
# readily recycle a just-freed inode, so delete-then-recreate at the
# same path can mint an _epochs dir with an identical (path, dev,
# inode) triple (ADVICE r9 stores.py:89). The generation is a uuid
# marker file written ONCE at _epochs-dir creation (write→fsync→
# exclusive-link, first creator wins — the same publish protocol as
# the records), so a recreated store can never inherit a dead store's
# retired epochs whatever the filesystem does with inode numbers.
_RETIRED_EPOCH_CACHE: dict = {}


def _epochs_generation(epochs_dir: str) -> str | None:
    """The _epochs dir's write-once generation uuid; mints one (first
    exclusive link wins, so every process agrees) for pre-generation
    dirs. None when the dir is unreadable/unwritable — the caller then
    skips the cache entirely, which is always correct, just slower."""
    marker = os.path.join(epochs_dir, ".generation")
    try:
        with open(marker) as fh:
            return fh.read()
    except OSError:
        pass
    try:
        _publish_once(marker, uuid.uuid4().hex)
        with open(marker) as fh:
            return fh.read()
    except OSError:
        return None


def _epochs_cache_key(epochs_dir: str) -> tuple | None:
    try:
        st = os.stat(epochs_dir)
    except OSError:
        return None
    gen = _epochs_generation(epochs_dir)
    if gen is None:
        return None
    return (epochs_dir, st.st_dev, st.st_ino, gen)


def _read_epoch_record(path: str) -> list:
    """The epochs of one retired-epoch record ``{"epochs": [...]}``
    (the only shape :func:`_occ_retire_epochs` writes)."""
    try:
        with open(path) as fh:
            return list(json.load(fh).get("epochs", []))
    except (OSError, json.JSONDecodeError):
        return []


def _occ_committed_epochs(commits_dir: str) -> set:
    """Epochs recorded by already-committed versions (see the ``epoch``
    param of :meth:`MultiRelationTransactionalStore.apply_keyed`) PLUS
    epochs retired into ``_epochs/`` by vacuum —
    so the idempotence window is the store's whole history, not just
    the marker-retention window (a replay of an epoch older than
    ``vacuum(keep=...)`` must still no-op, or t15/t17/t19's sum-folds
    would double-count). Cost per call: one tiny JSON read per RETAINED
    version (bounded by ``vacuum(keep=...)``) + a listdir of the
    retired sidecar; retired records are immutable so each is read at
    most once per process (``_RETIRED_EPOCH_CACHE``), and vacuum folds
    each pruning pass's epochs into ONE record, so the sidecar grows
    with vacuum invocations, not epochs."""
    out: set = set()
    for f in os.listdir(commits_dir):
        if not f.isdigit():
            continue
        try:
            with open(os.path.join(commits_dir, f)) as fh:
                e = json.load(fh).get("epoch")
        except (OSError, json.JSONDecodeError):
            continue
        if e is not None:
            out.add(e)
    epochs_dir = os.path.join(commits_dir, "_epochs")
    cache_key = _epochs_cache_key(epochs_dir)
    if cache_key is not None:
        seen, cached = _RETIRED_EPOCH_CACHE.setdefault(
            cache_key, (set(), set())
        )
        for f in os.listdir(epochs_dir):
            if f.startswith(".") or f in seen:
                continue
            epochs = _read_epoch_record(os.path.join(epochs_dir, f))
            # a record is immutable AND complete once linked into place,
            # so it is safe to remember the filename even on a read that
            # yielded nothing (corrupt/foreign files stay skipped)
            seen.add(f)
            cached.update(epochs)
        out |= cached
    else:
        # No cache key means either the dir doesn't exist (nothing to
        # read) or the generation marker is unavailable — a pre-existing
        # store on a read-only mount, a filesystem without hard links,
        # EPERM. Losing the CACHE there is fine; losing the SIDECAR is
        # not: a replayed epoch older than vacuum retention would stop
        # being recognized as committed and double-commit. So read the
        # retired records uncached — correctness never depends on write
        # access to the store (ADVICE r10 stores.py:167).
        try:
            names = os.listdir(epochs_dir)
        except OSError:
            names = []
        for f in names:
            if f.startswith("."):
                continue
            out.update(_read_epoch_record(os.path.join(epochs_dir, f)))
    return out


def _occ_retire_epochs(commits_dir: str, versions: list) -> None:
    """Fold the epoch records of about-to-be-pruned commit markers into
    the durable ``_epochs/`` sidecar BEFORE vacuum unlinks them, so
    retention never shrinks the idempotence window. ALL of one pruning
    pass's epochs land in ONE content-addressed record ``{"epochs":
    [...]}`` — the sidecar's file count grows with vacuum invocations,
    not with epochs, keeping ``_occ_committed_epochs``'s listdir
    bounded for a long-lived stream. Published with the same
    write→fsync→exclusive-link protocol as the markers (a reader never
    sees a half-written record; two vacuums racing over the same
    version set fold identical lists and resolve by EEXIST; records
    are immutable once linked, which is what licenses the read-side
    cache). A deployment whose epochs are monotone per-writer batch
    ids would compact further to a max-per-writer record (Delta's txn
    appId model); the sidecar keeps arbitrary epoch values correct."""
    import hashlib

    epochs_dir = os.path.join(commits_dir, "_epochs")
    epochs = []
    for v in sorted(versions):
        try:
            with open(os.path.join(commits_dir, str(v))) as fh:
                e = json.load(fh).get("epoch")
        except (OSError, json.JSONDecodeError):
            continue
        if e is not None:
            epochs.append(e)
    if not epochs:
        return
    os.makedirs(epochs_dir, exist_ok=True)
    # stamp the dir's generation at creation (no-op when already
    # stamped) — see _epochs_cache_key
    _epochs_generation(epochs_dir)
    payload = json.dumps({"epochs": epochs}, sort_keys=True, default=str)
    digest = hashlib.md5(payload.encode()).hexdigest()
    _publish_once(os.path.join(epochs_dir, digest), payload)


def _layout_error(path: str, found) -> ValueError:
    return ValueError(
        f"store at {path} has layout version {found}; this code reads "
        f"layout version {LAYOUT_VERSION} only. Stores of another layout "
        "are not migrated: rebuild the store from its source."
    )


class StoreVersionConflict(RuntimeError):
    """A writer that pinned ``require_version`` found the store moved
    past it before its attempt could commit. The caller owns the
    recomputation: its staged fold closed over frames derived from the
    pinned version, so retrying with the SAME closure would fold fresh
    rows against a stale snapshot (the compact-race hazard) — rebuild
    the snapshot-derived state at the new version, then try again."""


class MultiRelationTransactionalStore:
    """N named bucketed relations under ONE OCC commit log: a commit
    covers every relation ATOMICALLY, staged by a SINGLE Spark write.

    Why it exists: an index that maintains two relations per ingest
    (e.g. the MinHash band index's band keys + shingle profiles) pays
    two full commit cycles per batch on two separate stores — two
    touched-bucket collects, two write jobs, two snapshot listings, two
    claim links — and a crash between them leaves the relations
    inconsistent. Here each relation keeps its own key columns and
    bucket hashing, but one commit stages ALL relations' touched
    buckets under one snapshot dir (``__rel=<tag>/__bucket=<b>``
    partition dirs, written by ONE job over the relations' unioned
    frames) and one exclusive hard link publishes a manifest covering
    every relation. Halves the per-batch fixed cost and makes the
    cross-relation state transactional.

    The key space of each relation hash-partitions into buckets, a key
    going to bucket ``pmod(xxhash64(key), count)``, so a key-local fold
    (:meth:`apply_keyed`) reads and rewrites ONLY the buckets holding
    updated keys, and the manifest inherits every untouched bucket by
    pointer: a 1-key update into a 10 TB store rewrites ~1/count of it.
    A bucket's manifest entry is a LIST of snapshot dirs (Delta's
    add-file model), read one of two ways, pinned per store in
    ``_meta.json``:

    - concatenated (the default; the persistent indexes):
      :meth:`append_keyed` — their ingest hot path — stages ONLY the
      update rows and appends a pointer, so an append commit costs
      O(batch) however big the store is; readers resolve versions
      themselves, and :meth:`compact` folds each list back to one dir
      on the maintenance cadence, bounding small-file growth;
    - ``merge_on_read=True`` (:class:`BucketedTransactionalStore`, the
      keyed-upsert view below; one relation): each dir holds at most
      one row per key, and a bucket whose list holds more than one dir
      reads as the latest dir holding each key
      (:func:`~iheardai_data_pipeline_spark.operators.mutations.merge_upsert_chain`);
      a one-dir bucket stays a plain scan. :meth:`merge` appends the
      batch's last-write-wins rows and folds the list's tail in the
      same staged write (:func:`_fold_start`), so a merge costs O(batch)
      and a list stays O(log n) long. Every read — :meth:`read`,
      :meth:`read_keys` and the ``current`` handed to folds — resolves.

    Bucket counts. Each relation's count is a power of two between 1
    and :data:`MAX_BUCKETS`, recorded in every commit. A store opened
    with ``n_buckets=None`` starts each relation at ONE bucket; a commit
    that rewrites every bucket of a relation anyway (a full-touch
    :meth:`apply_keyed`, :meth:`apply_keyed_all_buckets`,
    :meth:`compact`) gives it the smallest count
    whose staged bytes per bucket stay at or under Spark's
    ``spark.sql.files.maxPartitionBytes`` (one bucket then reads as at
    most one scan split). Every other commit keeps the count of the base
    it commits on. An explicit ``n_buckets`` is the same rule with the
    count pinned to ``n_buckets`` (which need not be a power of two).

    Layout under ``path``::

        _meta.json                  {"layout": LAYOUT_VERSION,
                                     "n_buckets": N or null (data-sized),
                                     "merge_on_read": bool,
                                     "relations": {name: key_cols}}
                                    — pinned by the first creator; a later
                                    open passes None or the same values
        _snapshots/<uuid>/__rel=<tag>/__bucket=<b>/  staged buckets
        _commits/<N>                {"manifest": {rel: {"<b>": ["<uuid>", ...]}},
                                     "buckets": {rel: count},
                                     "epoch": optional idempotence marker}
        _commits/_epochs/           epochs of vacuumed markers (see vacuum)

    A relation's ``<tag>`` is its index among the sorted relation names
    (the order ``_meta.json`` pins): staging an int partition value is
    measurably cheaper than staging the name string. ``<b>`` is the
    bucket number, ``0 <= b < count`` for the count the commit records;
    reads go by the manifest's paths, so a resize needs no reader change.
    A bucket's list is in commit order, oldest first.

    Every open checks the layout version: a ``_meta.json`` with another
    version or none, and a ``_commits/`` holding markers with no
    ``_meta.json`` beside it (the full-snapshot store's former layout),
    are refused with ``ValueError``. Stores of an older layout are not
    migrated; rebuild them from their source.

    Every commit may carry an ``epoch``, which makes it IDEMPOTENT per
    epoch (Delta's txn appId/version idea): the epoch is recorded in the
    commit marker, and a commit whose epoch some committed version
    already carries is a no-op — so a non-idempotent fold (a sum-merge)
    replayed by an at-least-once foreachBatch can pass its batch id and
    never double-counts. The check re-runs inside the retry loop, so a
    lost race against a same-epoch twin resolves to exactly one commit.

    Constraints:
    - every :meth:`apply_keyed` / :meth:`append_keyed` call passes
      updates for EVERY relation (empty frames are fine) — staged files
      then always carry the same union schema, so cross-commit reads
      never mix schemas;
    - relations sharing a column name must share its type (the staging
      union is by name, missing columns null-filled);
    - per-relation reads select their own columns (the union schema's
      other columns are all-null and pruned by parquet column pruning).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        relations: dict[str, list[str]],
        n_buckets: int | None = None,
        merge_on_read: bool | None = None,
    ):
        if not relations:
            raise ValueError("need at least one relation")
        if merge_on_read and len(relations) != 1:
            raise ValueError("a merge-on-read store holds exactly one relation")
        self.spark = spark
        self.path = path
        self.relations = dict(relations)
        self._rel_names = sorted(self.relations)
        # Cached parquet file schema of the staged files: every commit
        # stages the same union schema (a documented constraint of this
        # store), so schema inference — a per-`spark.read.parquet` driver
        # cost of ~100-200ms (footer read + file listing) — runs at most
        # ONCE per store instance; writes prime it for free from the
        # staged frame (guide §5: keep the driver out of the data path).
        self._file_schema = None
        meta_path = os.path.join(path, "_meta.json")
        commits = os.path.join(path, "_commits")
        # markers are listed BEFORE the meta is looked for: this layout
        # publishes _meta.json before its first commit, so markers with
        # no meta beside them were written by the retired layout
        if (
            os.path.isdir(commits)
            and any(f.isdigit() for f in os.listdir(commits))
            and not os.path.exists(meta_path)
        ):
            raise _layout_error(path, "none (commit markers without _meta.json)")
        os.makedirs(os.path.join(path, "_snapshots"), exist_ok=True)
        os.makedirs(commits, exist_ok=True)
        # the bucketing rule, the list reading and the relations are part
        # of the on-disk layout: a writer opening an existing store with
        # another bucketing would hash keys into the WRONG buckets and
        # silently duplicate them, a reader concatenating merge-on-read
        # lists would return superseded rows. The first creator pins all
        # three in _meta.json; later opens inherit n_buckets and
        # merge_on_read (None) or must match, and must name the same
        # relations with the same keys.
        want = {
            "layout": LAYOUT_VERSION,
            "n_buckets": n_buckets,
            "merge_on_read": bool(merge_on_read),
            "relations": {r: list(self.relations[r]) for r in self._rel_names},
        }
        if not os.path.exists(meta_path):
            _publish_once(meta_path, json.dumps(want))  # first creator wins
        with open(meta_path) as fh:
            persisted = json.load(fh)
        if persisted.get("layout") != LAYOUT_VERSION:
            raise _layout_error(path, persisted.get("layout", "none"))
        if persisted.get("relations") != want["relations"]:
            raise ValueError(
                f"store at {path} has relations {persisted.get('relations')}; "
                f"got {want['relations']}"
            )
        for key, value in (("n_buckets", n_buckets), ("merge_on_read", merge_on_read)):
            if value is not None and persisted[key] != value:
                raise ValueError(
                    f"store at {path} was created with "
                    f"{key}={persisted[key]}; got {value} — pass None to inherit"
                )
        self.merge_on_read = persisted["merge_on_read"]
        # the pinned count, or None: sized to the data
        self.n_buckets = persisted["n_buckets"]
        # the count a relation starts at, and the finest one it can
        # reach: every reachable count divides it, so a bucket number
        # hashed at the finest count maps to any other by ``b % count``
        self._start = 1 if self.n_buckets is None else self.n_buckets
        self._finest = MAX_BUCKETS if self.n_buckets is None else self.n_buckets

    # -- commit-log primitives (shared OCC protocol) ---------------------------

    def _commits_dir(self) -> str:
        return os.path.join(self.path, "_commits")

    def current_version(self) -> int:
        return _occ_current_version(self._commits_dir())

    def epoch_committed(self, epoch) -> bool:
        """True iff this idempotent-commit marker was already committed
        (or retired into the _epochs sidecar by vacuum). Callers with
        EXPENSIVE precondition probes (PostingsIndex.merge's overlap
        check) test this first so a replayed commit skips the probe —
        append_keyed/apply_keyed would no-op it anyway, but only after
        the caller had paid for staging."""
        return epoch is not None and epoch in _occ_committed_epochs(
            self._commits_dir()
        )

    def relation_populated(self, rel: str) -> bool:
        """True iff the CURRENT committed manifest lists any snapshot
        for ``rel`` — a pure manifest check, no Spark job. Write-path
        callers gate their replaced-version probes on it so a bootstrap
        append into an empty store skips the probe subplan (and its
        checkpoint barrier) outright; see PostingsIndex.append."""
        manifest = self._manifest(self.current_version())
        return bool(manifest and manifest.get(rel))

    def _base(self, version: int) -> tuple[dict, dict[str, int]]:
        """(manifest, bucket counts) committed at ``version``. The
        manifest is {rel: {bucket: [snapshot, ...]}} — a bucket's rows
        are the concatenation of its snapshot-dir list (appends add
        pointers; rewrites/compaction collapse the list to one); the
        counts are {rel: count}. An uncommitted (or vacuumed) version
        has an empty manifest, every relation at its starting count."""
        try:
            # no exists() check first: vacuum may unlink the marker
            # between the check and the open
            with open(os.path.join(self._commits_dir(), str(version))) as fh:
                record = json.load(fh)
        except FileNotFoundError:
            return {}, dict.fromkeys(self._rel_names, self._start)
        return record["manifest"], record["buckets"]

    def _manifest(self, version: int) -> dict[str, dict[str, list[str]]] | None:
        """The manifest of committed ``version`` (see :meth:`_base`), or
        None when it is not committed."""
        return self._base(version)[0] or None

    def bucket_count(self, rel: str, version: int | None = None) -> int:
        """``rel``'s bucket count at committed ``version`` (default the
        latest); before the first commit, its starting count."""
        if version is None:
            version = self.current_version()
        return self._base(version)[1][rel]

    def _try_commit(
        self,
        version: int,
        manifest: dict[str, dict[str, list[str]]],
        buckets: dict[str, int],
        epoch=None,
    ) -> bool:
        """Claim ``version`` with this manifest and these bucket counts;
        False when another writer already owns it."""
        payload: dict = {"manifest": manifest, "buckets": buckets}
        if epoch is not None:
            payload["epoch"] = epoch
        return _publish_once(
            os.path.join(self._commits_dir(), str(version)), json.dumps(payload)
        )

    def _snapshot_dir(self, snapshot: str) -> str:
        return os.path.join(self.path, "_snapshots", snapshot)

    # the partition columns/dirs use dunder names so a data column named
    # "bucket" is never clobbered, and the underscore prefix hides the
    # dirs from accidental recursive partition discovery
    def _rel_dir(self, rel: str) -> str:
        return f"__rel={self._rel_names.index(rel)}"

    def _bucket_path(self, snapshot: str, rel: str, bucket: str) -> str:
        return os.path.join(
            self._snapshot_dir(snapshot), self._rel_dir(rel), f"__bucket={bucket}"
        )

    def _read_rel(
        self, manifest: dict, rel: str, buckets=None, one_task: bool = False
    ) -> DataFrame | None:
        """``rel``'s rows in ``manifest`` (only those of ``buckets``,
        when given), or None when no bucket dir is listed. The one place
        a bucket's dir list becomes rows: concatenated, or on a
        merge-on-read store resolved to the latest dir per key wherever
        the list holds more than one dir. ``one_task``: coalesce every
        scan to one partition (see :meth:`_keyed_commit`), so the rows
        come out as one partition with no shuffle."""
        lists = {
            b: names
            for b, names in manifest.get(rel, {}).items()
            if buckets is None or b in buckets
        }
        stacked = {
            b: names
            for b, names in lists.items()
            if self.merge_on_read and len(names) > 1
        }
        paths = [
            self._bucket_path(s, rel, b)
            for b, names in lists.items()
            if b not in stacked
            for s in names
        ]
        parts = [self._read_parquet(*paths, one_task=one_task)] if paths else []
        if stacked:
            parts.append(
                merge_upsert_chain(
                    self._list_scans(rel, stacked, one_task), self.relations[rel]
                )
            )
        return reduce(DataFrame.unionByName, parts) if parts else None

    def _list_scans(
        self, rel: str, lists: dict[str, list[str]], one_task: bool = False
    ) -> list[DataFrame]:
        """One scan per list position, oldest first: scan ``p`` reads
        the ``p``-th dir of every list in ``lists`` longer than ``p``.
        A key lives in one bucket, so only positions within one list
        are ever compared. ``one_task`` is :meth:`_read_rel`'s."""
        depth = max(map(len, lists.values()), default=0)
        return [
            self._read_parquet(
                *(
                    self._bucket_path(names[p], rel, b)
                    for b, names in lists.items()
                    if len(names) > p
                ),
                one_task=one_task,
            )
            for p in range(depth)
        ]

    def _read_parquet(self, *paths: str, one_task: bool = False) -> DataFrame:
        """Parquet read with the cached union file schema (all staged
        files carry it — the class's documented schema constraint), so
        footer inference runs at most once per store instance;
        ``one_task`` coalesces it to one partition."""
        if self._file_schema is None:
            df = self.spark.read.parquet(*paths)
            self._file_schema = _nullable_schema(df.schema)
        else:
            df = self.spark.read.schema(self._file_schema).parquet(*paths)
        return df.coalesce(1) if one_task else df

    def _bucket_expr(self, rel: str, count: int):
        from pyspark.sql import functions as F

        return F.pmod(F.xxhash64(*self.relations[rel]), F.lit(count)).cast("int")

    def _check_relations(self, op: str, frames: dict[str, DataFrame]) -> None:
        if set(frames) != set(self.relations):
            raise ValueError(
                f"{op} needs updates for every relation "
                f"{self._rel_names}; got {sorted(frames)}"
            )

    def _stage(
        self, frames: dict[str, DataFrame], buckets: dict[str, int]
    ) -> tuple[str, dict[str, set[str]]]:
        """Stage every relation's rows, each hashed into its count in
        ``buckets``, under ONE new snapshot dir with ONE Spark write
        job; returns the dir name and, per relation of the store, the
        buckets the write actually produced.

        Rows that carry ``__prio`` (:func:`tag_priority`; a
        merge-on-read :meth:`merge`) are resolved to each key's latest
        row (:func:`latest_by_priority`). That window runs after the
        write's own bucket repartition (or one-task coalesce) and
        partitions by the bucket too, so it adds a sort within each
        write task but no shuffle.

        Each (rel, bucket) group is co-located before partitionBy, so a
        commit writes ONE file per group instead of (tasks x groups)
        shards — the group-sized shuffle is tiny next to listing and
        opening hundreds of micro-files on every later read. The task
        count is parallelism-capped (_staged_write_tasks): same files,
        fewer write tasks; at one task the rows are coalesced into it
        instead of shuffled. The file schema cache is primed from the
        staged frame BEFORE the commit claim: partitionBy moves
        __rel/__bucket into directory names, so the files hold exactly
        the remaining columns, and since every commit stages the same
        union schema (the class's documented constraint) a schema from a
        write that later fails or loses its claim still describes every
        committed file (ADVICE r14).

        The write leaves no ``_SUCCESS`` file: a staged dir counts only
        once a commit claim points at it, and nothing reads the marker.
        Without the native Hadoop library the local filesystem spawns a
        ``chmod`` process for each marker file it creates."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        parts = [
            frames[rel]
            .withColumn("__rel", F.lit(self._rel_names.index(rel)))
            .withColumn("__bucket", self._bucket_expr(rel, buckets[rel]))
            for rel in self._rel_names
            if rel in frames
        ]
        all_df = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )
        self._file_schema = _nullable_schema(
            StructType(
                [
                    f
                    for f in all_df.schema
                    if f.name not in ("__rel", "__bucket", "__prio")
                ]
            )
        )
        name = uuid.uuid4().hex
        n_tasks = _staged_write_tasks(self.spark, sum(buckets[rel] for rel in frames))
        # one task holds every group anyway: gather the rows without a shuffle
        staged = (
            all_df.coalesce(1)
            if n_tasks == 1
            else all_df.repartition(n_tasks, "__rel", "__bucket")
        )
        if "__prio" in all_df.columns:
            (rel,) = self._rel_names
            staged = latest_by_priority(
                staged, ["__rel", "__bucket", *self.relations[rel]]
            )
        (
            staged.write.partitionBy("__rel", "__bucket")
            .mode("overwrite")
            .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
            .parquet(self._snapshot_dir(name))
        )
        written = {}
        for rel in self._rel_names:
            d = os.path.join(self._snapshot_dir(name), self._rel_dir(rel))
            written[rel] = (
                {
                    e.split("=", 1)[1]
                    for e in os.listdir(d)
                    if e.startswith("__bucket=")
                }
                if os.path.isdir(d)
                else set()
            )
        return name, written

    def _drop_snapshot(self, snapshot: str) -> None:
        shutil.rmtree(self._snapshot_dir(snapshot), ignore_errors=True)

    def _fitted_count(self, snapshot: str, rel: str) -> int:
        """The bucket count for ``rel`` rewritten whole into
        ``snapshot``: the pinned count, or the smallest power of two
        whose staged bytes per bucket stay at or under Spark's
        ``spark.sql.files.maxPartitionBytes``, capped at MAX_BUCKETS."""
        if self.n_buckets is not None:
            return self.n_buckets
        staged = _bytes_under(
            os.path.join(self._snapshot_dir(snapshot), self._rel_dir(rel))
        )
        conf = self.spark._jsparkSession.sessionState().conf()
        target = conf.filesMaxPartitionBytes()
        count = 1
        while count < MAX_BUCKETS and staged > count * target:
            count *= 2
        return count

    def _commit_fold(
        self,
        version: int,
        base: dict,
        buckets: dict[str, int],
        merged: dict[str, DataFrame],
        touched: dict[str, dict[str, int] | None],
        epoch=None,
    ) -> bool:
        """Stage a fold's output and try to claim ``version`` on
        ``base``; True iff committed (a lost claim drops the staged dir).

        ``touched`` maps each relation to ``{bucket: keep}``: the fold
        replaced all but the first ``keep`` dirs of each such bucket's
        list (``keep`` 0 for a rewrite of the whole bucket), and
        ``merged`` holds the relation's new rows for those buckets,
        hashed at its base count in ``buckets``. A relation whose
        ``touched`` is None is rewritten whole (one left out of
        ``merged`` is committed empty) and takes its fitted count
        (:meth:`_fitted_count`). When that moves any count, the staged
        rows are re-staged once, from the staged files, at the new
        counts. The manifest keeps the base's other buckets by pointer
        and points only at buckets the write produced: a key-local fold
        may legitimately empty a touched bucket (deletion fold), and a
        pointer to a nonexistent dir would make every later read throw."""
        name, written = self._stage(merged, buckets)
        fitted = {
            rel: self._fitted_count(name, rel) if touched[rel] is None else n
            for rel, n in buckets.items()
        }
        if fitted != buckets:
            staged = {
                rel: self._read_rel({rel: {b: [name] for b in written[rel]}}, rel)
                for rel in self._rel_names
                if written[rel]
            }
            if staged:
                resized, written = self._stage(staged, fitted)
                self._drop_snapshot(name)
                name = resized
        manifest = {}
        for rel in self._rel_names:
            if touched[rel] is None:
                manifest[rel] = {b: [name] for b in written[rel]}
                continue
            lists = base.get(rel, {})
            manifest[rel] = {b: v for b, v in lists.items() if b not in touched[rel]}
            for b, keep in touched[rel].items():
                names = lists.get(b, [])[:keep] + ([name] if b in written[rel] else [])
                if names:
                    manifest[rel][b] = names
        if self._try_commit(version, manifest, fitted, epoch=epoch):
            return True
        self._drop_snapshot(name)
        return False

    # -- store interface --------------------------------------------------------

    def read(self, rel: str, version: int | None = None) -> DataFrame | None:
        """Latest committed rows of one relation, or — with ``version``
        — the rows AS OF that still-retained committed version.
        Multi-read consumers (the postings pruned serve's stats +
        postings + forward sequence) pin ``current_version()`` once and
        pass it to every read so a concurrent commit mid-sequence
        cannot split the serve across two states (snapshot isolation
        is per-read by default, not per-serve).

        None for an uncommitted version AND for a relation the manifest
        lists no bucket of (zero rows write zero bucket dirs, so there
        is no parquet schema to surface — callers treat both as 'no
        rows')."""
        manifest = self._manifest(
            self.current_version() if version is None else version
        )
        return self._read_rel(manifest or {}, rel)

    def read_keys(
        self,
        rel: str,
        keys: DataFrame,
        broadcast_keys: bool = False,
        version: int | None = None,
    ) -> DataFrame | None:
        """Bucket-pruned keyed lookup on one relation: scan ONLY the
        buckets the requested keys hash to, then LEFT SEMI the key set.

        A point lookup in an N-bucket relation therefore reads ~1/N of
        its files — the serving-path read the bucketed layout exists for
        (the write side already rewrites only touched buckets; this is
        the symmetric read optimization). The bucket set is a bounded
        collect (<= count rows); a one-bucket relation skips it and goes
        straight to the semi-join. Returns None when the store is empty
        or no requested bucket has data (no rows either way). The
        collect is a full Spark job over the key frame, so probe-heavy
        callers go through :meth:`read_probe`, which skips it on
        rig-small layouts.

        ``broadcast_keys=True`` hints the semi-join to broadcast the
        key frame — pass it ONLY when the key set is bounded by
        construction (e.g. the ANN probe path: <= n_centroids cluster
        ids). Without the hint the planner may pick a sort-merge semi
        join, which shuffles the STORE side on the key — and when the
        key is a cluster id, a hot cluster concentrates that exchange
        (the round-11 skew measurement's one adverse plan shape; with
        the broadcast the store side keeps its scan partitioning and a
        hot bucket's files still split by maxPartitionBytes). Leave it
        False for batch-sized key frames (delete lookups, suspect
        probes) where forcing a broadcast could OOM the driver.

        ``version``: read AS OF that committed version (see
        :meth:`read`) instead of the call-time latest."""
        manifest, buckets = self._base(
            self.current_version() if version is None else version
        )
        if not manifest.get(rel):
            return None
        kd = keys.select(*self.relations[rel]).distinct()
        touched = None  # one bucket: every key hashes to it
        if buckets[rel] > 1:
            touched = {
                str(r["__bucket"])
                for r in kd.select(
                    self._bucket_expr(rel, buckets[rel]).alias("__bucket")
                )
                .distinct()
                .collect()
            }
        rows = self._read_rel(manifest, rel, touched)
        if rows is None:
            return None
        if broadcast_keys:
            from pyspark.sql import functions as F

            kd = F.broadcast(kd)
        return rows.join(kd, self.relations[rel], "left_semi")

    @property
    def prunes_probes(self) -> bool:
        """Whether :meth:`read_probe` prunes some relation at the latest
        version (one with more than ``PRUNE_PROBES_ABOVE_BUCKETS``
        buckets). Callers test it only for work that pays off on one
        side alone, e.g. pinning a key frame the pruning collect would
        otherwise re-run."""
        _, buckets = self._base(self.current_version())
        return max(buckets.values()) > PRUNE_PROBES_ABOVE_BUCKETS

    def read_probe(
        self,
        rel: str,
        keys: DataFrame,
        broadcast_keys: bool = False,
        version: int | None = None,
        exact: bool = False,
    ) -> DataFrame | None:
        """The rows of ``rel`` a probe by ``keys`` must see, under the
        store's prune-vs-scan rule for ``rel``'s bucket count at the
        version read: above ``PRUNE_PROBES_ABOVE_BUCKETS`` it returns
        :meth:`read_keys` (only the keys' buckets, LEFT SEMI the keys);
        otherwise the whole relation, lazily and with no collect, which
        leaves the filtering to the caller's own key join — or, with
        ``exact=True``, to a LEFT SEMI join with ``keys`` here, so the
        rows are exactly the keys' either way. ``broadcast_keys`` and
        ``version`` are :meth:`read_keys`'."""
        if version is None:
            version = self.current_version()
        if self.bucket_count(rel, version) > PRUNE_PROBES_ABOVE_BUCKETS:
            return self.read_keys(
                rel, keys, broadcast_keys=broadcast_keys, version=version
            )
        rows = self.read(rel, version)
        if rows is None or not exact:
            return rows
        if broadcast_keys:
            from pyspark.sql import functions as F

            keys = F.broadcast(keys)
        return rows.join(keys, self.relations[rel], "left_semi")

    def _touched_finest(self, updates: dict[str, DataFrame]) -> dict[str, set[int]]:
        """Per relation, the buckets its update keys hash to at the
        finest count: ONE bounded collect across all relations. Any
        count the relation can have divides the finest, so ``b % count``
        maps them to it on the driver, and one collect serves every
        retry of a call, however the base's counts move."""
        from pyspark.sql import functions as F

        tagged = [
            df.select(
                F.lit(self._rel_names.index(rel)).alias("__rel"),
                self._bucket_expr(rel, self._finest).alias("__bucket"),
            ).distinct()
            for rel, df in updates.items()
        ]
        touched: dict[str, set[int]] = {rel: set() for rel in self.relations}
        for r in reduce(lambda a, b: a.unionByName(b), tagged).collect():
            touched[self._rel_names[r["__rel"]]].add(r["__bucket"])
        return touched

    def apply_keyed(self, updates: dict[str, DataFrame], fn, epoch=None) -> None:
        """Atomic multi-relation OCC partial-rewrite read-modify-write.

        ``updates`` maps EVERY relation name to its update frame;
        ``fn(rel, current_touched_or_None, upd) -> merged_touched`` must
        be key-local per relation — a key's output rows derive only from
        that key's current + update rows (upserts, per-key aggregate
        folds). That property is what makes restricting ``current`` to
        the touched buckets exact; the fold's output replaces each
        touched bucket's whole dir list. At most one touched-bucket
        collect (none while every relation has one bucket, which every
        commit touches — so every such call commits a version), ONE
        staged write job over all relations, one commit claim. When that
        write is one task (one relation at one bucket), ``fn`` gets
        ``current`` and ``upd`` as one partition each, so a key-local
        aggregate or window over their union runs in the write's own
        task: the whole commit is one Spark job with no shuffle (see
        :meth:`_keyed_commit`). A
        relation whose every populated bucket is touched is rewritten
        whole and may change its bucket count (see the class
        docstring). A lost commit race re-reads the new base manifest
        and re-applies ``fn``, so concurrent commits (including to the
        same bucket) are never lost. ``epoch`` = idempotent-commit
        marker (see the class docstring).
        """
        self._keyed_commit(
            "apply_keyed",
            updates,
            lambda rel, tails, upd, one_task: fn(
                rel, self._read_rel({rel: tails}, rel, one_task=one_task), upd
            ),
            lambda rel, lists, hit: dict.fromkeys(hit, 0),
            epoch,
        )

    def merge(
        self, updates: dict[str, DataFrame], order_cols: list[str], epoch=None
    ) -> None:
        """Merge-on-read last-write-wins upsert (merge-on-read stores
        only): per relation, each key's latest row in the update frame
        by ``order_cols`` replaces the key's current row, whatever the
        current row's order — :func:`merge_upsert`'s update priority.

        O(batch): the commit stages the batch's last-write-wins rows and
        appends their dir to each touched bucket's list; the in-batch
        resolution rides in the staged write's own repartition (see
        :meth:`_stage`). In the SAME staged write it folds the list's
        tail chosen by :func:`_fold_start` from the on-disk dir sizes
        and Catalyst's size estimate of the update frame, so a fold
        costs no second write job. A fold covering every dir of every bucket of a
        relation is a whole-relation rewrite and refits the bucket
        count (see the class docstring). The fold choice changes cost,
        never results. A lost claim re-decides the fold on the winner's
        base and re-stages. Same collect, epoch and retry rules as
        :meth:`apply_keyed`."""
        if not self.merge_on_read:
            raise ValueError(
                f"store at {self.path} concatenates its dir lists; merge "
                "needs a merge_on_read store"
            )
        adding = {rel: _estimated_bytes(df) for rel, df in updates.items()}

        def fold_from(rel, lists, hit):
            per_bucket = adding[rel] / len(hit)
            return {
                b: _fold_start(
                    [
                        _bytes_under(self._bucket_path(s, rel, b))
                        for s in lists.get(b, [])
                    ],
                    per_bucket,
                )
                for b in hit
            }

        self._keyed_commit(
            "merge",
            updates,
            lambda rel, tails, upd, one_task: tag_priority(
                self._list_scans(rel, tails, one_task) + [upd], order_cols
            ),
            fold_from,
            epoch,
        )

    def _keyed_commit(self, op: str, updates, fold, fold_from, epoch) -> None:
        """The commit loop of :meth:`apply_keyed` and :meth:`merge`.
        Per relation, ``fold_from(rel, base_lists, hit)`` says where the
        rewritten tail of each hit bucket's list starts, and
        ``fold(rel, tails, upd, one_task)`` returns the new rows for
        those tails (``tails``: ``{bucket: dirs}``, the folded part of
        each list).

        When the base's bucket counts give the staged write one task
        (:func:`_staged_write_tasks`; one relation at one bucket on any
        cluster), the fold gets its inputs as one partition each: the
        update frame coalesced, and ``one_task`` True so every scan of
        ``current`` is coalesced too. A union of one-partition children
        stays one partition (``spark.sql.unionOutputPartitioning``), so
        a key-local aggregate or window over it plans no shuffle, and
        fold and staged write run as ONE job of one task; :meth:`_stage`
        would gather the rows into that one task anyway."""
        self._check_relations(op, updates)
        finest = None  # collected once a base has a relation above one bucket
        for _ in range(OCC_MAX_RETRIES):
            if self.epoch_committed(epoch):
                return
            base_version = self.current_version()
            base, buckets = self._base(base_version)
            one_task = _staged_write_tasks(self.spark, sum(buckets.values())) == 1
            if finest is None and max(buckets.values()) > 1:
                finest = self._touched_finest(updates)
            touched: dict[str, dict[str, int] | None] = {}
            tails = {}
            for rel, n in buckets.items():
                lists = base.get(rel, {})
                hit = {"0"} if n == 1 else {str(b % n) for b in finest[rel]}
                start = fold_from(rel, lists, hit) if hit else {}
                # a fold of every dir of every bucket rewrites the relation
                whole = bool(hit) and all(start.get(b) == 0 for b in lists)
                touched[rel] = None if whole else start
                tails[rel] = lists if whole else {
                    b: lists[b][k:] for b, k in start.items() if lists.get(b, [])[k:]
                }
            if not any(t is None or t for t in touched.values()):
                return
            merged = {
                rel: fold(
                    rel,
                    tails[rel],
                    updates[rel].coalesce(1) if one_task else updates[rel],
                    one_task,
                )
                for rel in self._rel_names
            }
            if self._commit_fold(
                base_version + 1, base, buckets, merged, touched, epoch=epoch
            ):
                return
        raise RuntimeError(
            f"{op} on {self.path} lost {OCC_MAX_RETRIES} consecutive commit races"
        )

    def append_keyed(
        self, updates: dict[str, DataFrame], epoch=None
    ) -> int | None:
        """Atomic multi-relation APPEND — the ingest hot path.
        Returns the committed version, or ``None`` when nothing was
        committed (empty staged batch, or the epoch was already
        committed) — callers maintaining version-stamped driver
        caches (FingerprintIndex.words) need the distinction.

        Stages ONLY the update rows (one write job) and commits by
        appending a pointer to each touched bucket's dir list: no
        current-state read, no bucket rewrite, so the commit costs
        O(batch) no matter how big the store already is — the add-files
        half of Delta's commit model (``apply_keyed`` is the rewrite
        half). Readers concatenate the list; :meth:`compact` folds it
        back to one dir per bucket on the maintenance cadence.

        ``epoch`` = idempotent-commit marker; without it a replayed
        append duplicates rows (harmless only if the reader's semantics
        tolerate duplicates — the band index's do).
        """
        self._check_relations("append_keyed", updates)
        name = staged_buckets = None
        for _ in range(OCC_MAX_RETRIES):
            if self.epoch_committed(epoch):
                break
            base_version = self.current_version()
            base, buckets = self._base(base_version)
            # the staged dir is pure batch rows, so a lost race only
            # re-points the manifest — unless the winner resized a
            # relation: rows hashed at another count must be re-staged
            if buckets != staged_buckets:
                if name is not None:
                    self._drop_snapshot(name)
                name, written = self._stage(updates, buckets)
                staged_buckets = buckets
                if not any(written.values()):
                    break
            manifest = {rel: dict(base.get(rel, {})) for rel in self.relations}
            for rel in self.relations:
                for b in written[rel]:
                    manifest[rel][b] = manifest[rel].get(b, []) + [name]
            if self._try_commit(base_version + 1, manifest, buckets, epoch=epoch):
                return base_version + 1
        else:
            self._drop_snapshot(name)
            raise RuntimeError(
                f"append_keyed on {self.path} lost {OCC_MAX_RETRIES} "
                "consecutive commit races"
            )
        if name is not None:
            self._drop_snapshot(name)
        return None

    def compact(self, epoch=None) -> None:
        """Fold every bucket's snapshot-dir list back to ONE dir (small-
        file hygiene after many appends). One read+rewrite of the whole
        store through the normal commit protocol — maintenance cadence,
        not the ingest path — so it also refits each relation's bucket
        count. Rows are preserved verbatim; row-level cleanup (e.g.
        dropping duplicates replayed un-epoched appends created) is the
        caller's semantics — pass its fold to
        :meth:`apply_keyed_all_buckets` directly."""
        self.apply_keyed_all_buckets(
            lambda rel, current, upd: current, epoch=epoch
        )

    def apply_keyed_all_buckets(
        self, fn, epoch=None, require_version: int | None = None
    ) -> None:
        """Run a key-local fold over EVERY populated bucket of every
        relation (compaction, retention sweeps): ``fn(rel, current,
        None)`` runs once per relation that has rows — never with a
        None ``current`` — and an empty store commits nothing. Same
        commit protocol as apply_keyed, but 'touched' = all buckets in
        the base manifest, so each relation takes its fitted count.

        ``require_version``: abort with :class:`StoreVersionConflict`
        (no commit, no retry) if the store's current version is not
        exactly this one. A fold whose ``fn`` closes over frames
        DERIVED from a pinned snapshot (PostingsIndex.compact's
        liveness + exact-termstats captures) must pass it: the built-in
        retry re-reads the newest bucket rows but cannot re-derive the
        closure, so a lost race would fold fresh rows against a stale
        snapshot — the caller instead recomputes the closure at the
        new version and calls again."""

        def fold(base):
            merged = {
                rel: fn(rel, self._read_rel(base, rel), None)
                for rel in self._rel_names
                if base.get(rel)
            }
            return merged or None

        self._rewrite_all(fold, epoch=epoch, require_version=require_version)

    def _rewrite_all(self, fold, epoch=None, require_version=None) -> None:
        """The full-rewrite commit loop. ``fold(base_manifest)`` returns
        ``{rel: rows}``, each relation's WHOLE new contents (a relation
        it leaves out is committed empty), or None to commit nothing.
        Every relation takes its fitted count. A lost race re-reads the
        new base and re-runs ``fold``; see
        :meth:`apply_keyed_all_buckets` for ``require_version``."""
        for _ in range(OCC_MAX_RETRIES):
            if self.epoch_committed(epoch):
                return
            base_version = self.current_version()
            if require_version is not None and base_version != require_version:
                raise StoreVersionConflict(
                    f"store at {self.path} moved to version {base_version} "
                    f"(caller pinned {require_version}) — recompute the "
                    "snapshot-derived fold state and retry"
                )
            base, buckets = self._base(base_version)
            merged = fold(base)
            if merged is None:
                return
            whole = dict.fromkeys(self._rel_names)
            if self._commit_fold(
                base_version + 1, base, buckets, merged, whole, epoch=epoch
            ):
                return
        raise RuntimeError(
            f"full rewrite of {self.path} lost {OCC_MAX_RETRIES} consecutive commit races"
        )

    def vacuum(self, keep: int = 2, grace_seconds: float = 3600.0) -> None:
        """Reclaim snapshot dirs no LIVE manifest references — a dir
        stays live while ANY retained version's manifest points at one
        of its buckets from ANY relation (partial rewrites and appends
        share dirs across versions) — plus stale unreferenced staging
        dirs past the grace period.

        The grace period exists because an unreferenced directory is not
        necessarily garbage: a concurrent writer stages its snapshot
        BEFORE claiming a version, so deleting young unreferenced dirs
        would corrupt that writer's about-to-commit version. Only dirs
        that have sat unclaimed longer than any plausible stage-to-commit
        window are reclaimed (crash leftovers). Epochs of the pruned
        markers are retired into ``_commits/_epochs/`` first, so
        retention never shrinks the idempotence window."""
        import time

        if keep < 1:
            # keep=0 would unlink every commit marker — silently emptying
            # the store and restarting the version counter. Vacuum is a
            # retention tool, not a drop-table; refuse.
            raise ValueError(f"vacuum keep must be >= 1, got {keep}")
        versions = sorted(
            int(f) for f in os.listdir(self._commits_dir()) if f.isdigit()
        )
        live = set(versions[-keep:])
        _occ_retire_epochs(
            self._commits_dir(), [v for v in versions if v not in live]
        )
        referenced: set[str] = set()
        for v in versions:
            manifest = self._manifest(v) or {}
            if v in live:
                for rel_manifest in manifest.values():
                    for names in rel_manifest.values():
                        referenced.update(names)
            else:
                os.unlink(os.path.join(self._commits_dir(), str(v)))
        snaps = os.path.join(self.path, "_snapshots")
        now = time.time()
        for name in os.listdir(snaps):
            if name in referenced:
                continue
            p = os.path.join(snaps, name)
            try:
                age = now - os.path.getmtime(p)
            except OSError:
                continue
            if age >= grace_seconds:
                shutil.rmtree(p, ignore_errors=True)


class BucketedTransactionalStore:
    """Keyed upsert store, merge-on-read: a one-relation view of
    :class:`MultiRelationTransactionalStore` with ``merge_on_read``.

    :meth:`merge` is an O(batch) commit: it stages the batch's
    last-write-wins rows and appends their dir to each touched bucket's
    dir list, folding the list's tail in the same write (a binary
    counter over dir sizes), and every read resolves a list of more
    than one dir to the latest dir holding each key. A key-local
    :meth:`apply_keyed` rewrites ONLY the buckets containing updated
    keys, each back to one dir, and inherits the rest by pointer;
    :meth:`apply` folds the whole resolved relation, so its fold need
    not be key-local (see the multi-relation store for the commit
    protocol, the epoch contract, the bucket-count rule and the
    layout). Opened without ``n_buckets``, the store is sized to its
    data: a small one stays at one bucket, which every commit touches
    with no touched-bucket collect. The store's single relation is named ``rows``, keyed on
    ``key_cols`` and holding one row per key; ``order_cols`` orders
    :meth:`merge`'s last-writer-wins within a batch.

    ``merge`` semantics match :func:`operators.mutations.merge_upsert`
    last-writer-wins on ``order_cols`` per ``key_cols`` — the reference's
    ``ON CONFLICT DO UPDATE WHERE excluded.seq > current.seq`` shape.
    """

    _REL = "rows"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key_cols: list[str],
        order_cols: list[str],
        n_buckets: int | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key_cols = key_cols
        self.order_cols = order_cols
        self._store = MultiRelationTransactionalStore(
            spark, path, {self._REL: key_cols}, n_buckets, merge_on_read=True
        )

    @property
    def n_buckets(self) -> int | None:
        """The pinned bucket count, or None for a data-sized store."""
        return self._store.n_buckets

    def current_version(self) -> int:
        return self._store.current_version()

    def _manifest(self, version: int) -> dict[str, list[str]] | None:
        """{bucket: [snapshot, ...]} of the relation at ``version``."""
        manifest = self._store._manifest(version)
        return None if manifest is None else manifest.get(self._REL, {})

    def read(self) -> DataFrame | None:
        return self._store.read(self._REL)

    def read_version(self, version: int) -> DataFrame | None:
        return self._store.read(self._REL, version)

    def read_keys(
        self, keys: DataFrame, version: int | None = None
    ) -> DataFrame | None:
        """Bucket-pruned keyed lookup (see
        :meth:`MultiRelationTransactionalStore.read_keys`)."""
        return self._store.read_keys(self._REL, keys, version=version)

    def apply_keyed(self, updates: DataFrame, fn, epoch=None) -> None:
        """OCC partial-rewrite read-modify-write:
        ``fn(current_touched_df_or_None, updates) -> merged_touched_df``,
        where ``current`` is the touched buckets' resolved rows and the
        output must hold one row per key. ``fn`` MUST be key-local; a
        cross-key fn needs :meth:`apply`. At one bucket both
        frames arrive as one partition each, so ``fn``'s aggregate or
        window runs in the staged write's task (see
        :meth:`MultiRelationTransactionalStore.apply_keyed`). ``epoch``:
        idempotent-commit marker (see
        :class:`MultiRelationTransactionalStore`)."""
        self._store.apply_keyed(
            {self._REL: updates},
            lambda _rel, current, upd: fn(current, upd),
            epoch=epoch,
        )

    def merge(self, updates: DataFrame, epoch=None) -> None:
        """O(batch) last-writer-wins merge: append the batch, folding
        each touched list's tail in the same write (see
        :meth:`MultiRelationTransactionalStore.merge`). Several versions
        of one key in ``updates`` resolve to the latest by
        ``order_cols``. ``epoch``: idempotent-commit marker (see
        :class:`MultiRelationTransactionalStore`)."""
        self._store.merge({self._REL: updates}, self.order_cols, epoch=epoch)

    def apply(self, fn, epoch=None) -> None:
        """OCC read-modify-write of the whole relation:
        ``fn(current_df_or_None) -> merged_df``, where ``current`` is
        every bucket's resolved rows, so ``fn`` need not be key-local
        (the t14–t19 streaming sketches merge their bounded state this
        way); one that ignores ``current`` is a full replace. The result
        is rewritten whole at its fitted (or the pinned) bucket count; a
        result with no rows reads back as None, like an empty store.

        A writer that loses a commit race re-reads the newest committed
        rows and RE-APPLIES ``fn``, so it folds the winner's changes
        into its next attempt instead of clobbering them (a bare read →
        compute → write sequence would retry with its stale result and
        silently lose the concurrent update). ``epoch``:
        idempotent-commit marker (see
        :class:`MultiRelationTransactionalStore`)."""
        store = self._store
        store._rewrite_all(
            lambda base: {self._REL: fn(store._read_rel(base, self._REL))},
            epoch=epoch,
        )

    def vacuum(self, keep: int = 2, grace_seconds: float = 3600.0) -> None:
        self._store.vacuum(keep=keep, grace_seconds=grace_seconds)

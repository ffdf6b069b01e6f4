"""Plan-keyed persist slots: bounded, reusable operator caches.

Several operators persist an expensive intermediate (shingle sets,
inverted indexes, signature frames, edge lists) because it feeds two or
more consumers inside one query.  A bare ``df.persist()`` has two
session-lifetime problems:

1. **Accumulation** — every invocation pins a NEW copy of the same data;
   a long-lived session (or a bench loop) accumulates dead cached
   partitions until memory pressure evicts them at random.
2. **No reuse** — two queries over the same corpus (near-dup pairs, then
   clustering, then the dedup report) each rebuild the identical
   intermediate from scratch.

``persist_slot(slot, df)`` fixes both with the same mechanism Spark uses
for its own plan cache: the ANALYZED plan's ``semanticHash`` (confirmed
by canonicalized-plan string equality, so a 32-bit hash collision cannot
alias two different plans) keys a single live cache per named slot.  A
semantically-identical request returns the already-persisted frame; a
different plan (new corpus, new params) unpersists the stale cache and
takes the slot.  Per slot, at most ONE live cache exists — memory is
bounded by construction, and the cache lifetime question ADVICE flagged
for ``jaccard.persist_index`` has a concrete owner: the slot registry.

This is a session-scoped materialized-intermediate cache, not a results
cache: queries remain correct with the registry disabled (drop to plain
``persist``), and a cluster deployment would swap slots for a
materialized table with the same keying.

Beside the slots, one LRU-capped memo store (``_MEMO``) keeps
CONSTRUCTED plans and driver-side values, in two flavors:

- **registry plans** (:func:`registry_plan`): every ``QueryDef.fn``
  that ``plans.all_queries()`` returns goes through it.  A repeat call
  returns the first call's DataFrame while the session, ``sf_dir``,
  ``spark.sql.shuffle.partitions`` and the :func:`path_sig` of
  ``sf_dir`` and of each input file's directory are unchanged.  Never
  cached: plans with a leaf that is not a local file (a live stream,
  ``LocalRelation``, ``LogicalRDD``) or with over ``_STAT_FILE_CAP``
  files.  A ``q_stream_*`` build drains its stream into files and is
  cached on those files only (more at :func:`registry_plan`).  A
  registry query that embeds another takes it through
  :func:`registry_plan` too, so the two share one plan;
- **value memos** (:func:`value_memo`): values whose construction ran
  Spark actions, keyed on :func:`_plan_key` / :func:`derived_key`.

Both share the lock, the LRU cap and the lifetime:
:func:`clear_slots` drops every entry.  :func:`memo_stats` counts hits,
misses and evictions per flavor.  :func:`path_sig` is the one file
freshness test, shared with ``catalog.load_table``'s table memo.
"""

from __future__ import annotations

import hashlib
import os
import stat
import threading
from collections import OrderedDict
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame

_LIVE: dict[str, tuple[int, str, DataFrame]] = {}
#: Serializes slot read-evict-replace: concurrent streaming queries
#: (foreachBatch bodies run on separate driver threads) interleaving on
#: one slot would otherwise each persist a frame and overwrite the
#: other's registry entry — the overwritten frame stays cached with no
#: reference, leaking executor memory every batch.
_LIVE_LOCK = threading.Lock()


_STAT_FILE_CAP = 1024


def path_sig(path: str) -> tuple | None:
    """``(size, mtime_ns)`` of ``path`` plus, for a directory, ``(name,
    size, mtime_ns)`` of each direct child (an in-place rewrite of a
    child leaves the directory's mtime alone); ``None`` once it is gone.
    A memo entry over files is fresh while its paths keep this
    signature; ns mtimes see a same-size rewrite within one second."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return st.st_size, st.st_mtime_ns
        children = []
        for e in os.scandir(path):
            est = e.stat()
            children.append((e.name, est.st_size, est.st_mtime_ns))
        return st.st_size, st.st_mtime_ns, tuple(sorted(children))
    except OSError:
        return None


def _local_path(f: str) -> str | None:
    """The local file system path of the file URI ``f``, else ``None``."""
    url = urlparse(f)
    return unquote(url.path) if url.scheme in ("", "file") else None


#: Leaf node classes that carry no data of their own, so contributing
#: nothing to the key is correct (the canonicalized string still pins
#: their shape/arguments).
_DATALESS_LEAVES = frozenset({"OneRowRelation", "Range"})


def _walk_leaves(df: DataFrame) -> tuple[list[str], list[str] | None]:
    """The ANALYZED plan's leaves as ``(files, data_parts)``.

    ``files`` is every file-based relation's listing.  The analyzed plan,
    not the optimized one: ``df.inputFiles()`` reads the OPTIMIZED plan,
    which applies cache substitution first, so once a semantically-equal
    frame is persisted anywhere in the session it returns ``[]`` and a
    key built on it flips between invocations.  ``data_parts`` covers
    the leaves that carry data OUTSIDE any file: ``LocalRelation`` rows
    (Arrow-path local frames) as their ``UnsafeRow`` string forms,
    deterministic for identical data; ``LogicalRDD`` leaves (PySpark
    ``createDataFrame`` and ``localCheckpoint`` outputs) as their RDD
    id, unique for the session's lifetime, so two same-schema frames
    with different data never share a key (a rebuild gets a fresh id and
    conservatively misses).  A leaf we can't account for at all makes
    ``data_parts`` ``None``: the plan is UNKEYABLE, because the 32-bit
    ``semanticHash`` would be the key's only data-sensitive component
    and a collision would silently serve another dataset's results.

    One ``collectLeaves()`` call per plan (a py4j walk over every node
    costs 0.5 s on ``q_ann_recall_all``'s plan at sf0.01).  Subquery
    plans (scalar/IN/EXISTS hang off expressions, not children) come
    from one recursive ``subqueriesAll()``; if that accessor ever
    moves, refuse to key rather than under-key."""
    files: list[str] = []
    data_parts: list[str] = []
    root = df._jdf.queryExecution().analyzed()
    plans = [root]
    try:
        subs = root.subqueriesAll()
        plans += [subs.apply(i) for i in range(subs.size())]
    except Exception:  # noqa: BLE001 — API surface change
        return files, None
    for plan in plans:
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            node = leaves.apply(i)
            name = node.getClass().getSimpleName()
            try:
                if name == "LogicalRelation":
                    files.extend(str(f) for f in node.relation().inputFiles())
                elif name == "LocalRelation":
                    data_parts.append(str(node.data().toString()))
                elif name == "LogicalRDD":
                    data_parts.append(f"rdd:{node.rdd().id()}")
                elif name not in _DATALESS_LEAVES:
                    return sorted(files), None
            except Exception:  # noqa: BLE001 — non-file relation, no accessor
                return sorted(files), None
    return sorted(files), sorted(data_parts)


def _stamp_files(df: DataFrame, files: list[str]) -> str:
    """Digest of ``files`` by name + size + mtime.

    Names alone under-key: a directory rewritten in place with identical
    file names (compaction, an external writer with deterministic part
    names) would key identically and serve stale cached data.  A local
    file is stamped with :func:`path_sig` (no py4j call); any other
    takes size and modification time from the driver-side FileSystem
    status, one metadata RPC per file.  Beyond ``_STAT_FILE_CAP`` files
    the per-file stat cost stops being free, so we degrade to
    names-only; reuse then assumes content-addressed immutable part
    files (Spark's own writers qualify: every part name embeds a job
    UUID)."""
    entries = files
    if 0 < len(files) <= _STAT_FILE_CAP:
        try:
            sess = df.sparkSession
            stamped = []
            fs_cache: dict[str, object] = {}
            for f in files:
                local = _local_path(f)
                if local is not None:
                    stamped.append(f"{f}#{path_sig(local)}")
                    continue
                path = sess._jvm.org.apache.hadoop.fs.Path(f)
                scheme = f.split(":", 1)[0]
                fs = fs_cache.get(scheme)
                if fs is None:
                    fs = path.getFileSystem(sess._jsc.hadoopConfiguration())
                    fs_cache[scheme] = fs
                st = fs.getFileStatus(path)
                stamped.append(f"{f}#{st.getLen()}#{st.getModificationTime()}")
            entries = stamped
        except Exception:  # noqa: BLE001 — connect clients, exotic FS
            entries = files
    return hashlib.sha256("\n".join(entries).encode()).hexdigest()


def _plan_key(df: DataFrame) -> tuple[int, str] | None:
    try:
        plan = df._jdf.queryExecution().analyzed()
        # The canonicalized STRING omits source identity (a parquet
        # Relation prints without its path), so same-shaped plans over
        # different directories stringify identically; semanticHash does
        # include relation identity but is only 32 bits.  The sorted
        # input-file digest (name+size+mtime, see _stamp_files) plus
        # the local-leaf digest pin the data: reuse requires hash AND
        # shape AND the exact same leaf data-as-stamped.  A plan with an
        # OPAQUE leaf (streaming, unknown source) is unkeyable — its
        # only data-sensitive key component would be the 32-bit
        # semanticHash, and a collision would silently serve another
        # dataset's cached rows / memoized results (ADVICE r6).
        files, data_parts = _walk_leaves(df)
        if data_parts is None:
            return None
        data_digest = hashlib.sha256("\n".join(data_parts).encode()).hexdigest()
        stamp = _stamp_files(df, files) + "#" + data_digest
        return plan.semanticHash(), plan.canonicalized().toString() + "#" + stamp
    except Exception:  # noqa: BLE001 — connect-only clients etc.
        return None


def derived_key(
    base: tuple[int, str] | None, *params: object
) -> tuple[int, str] | None:
    """A slot key derived from another frame's key plus parameters —
    for operators whose output is a pure function of (input, params)
    but whose OWN plan is too deep to traverse cheaply (e.g. an
    unrolled Lloyd loop doubles its analyzed-plan tree per iteration,
    so ``semanticHash``/``canonicalized`` on it cost driver seconds
    per call; the input scan's key is a few nodes).  The caller owns
    the contract that ``params`` captures everything else that affects
    the output."""
    if base is None:
        return None
    h, canon = base
    tag = repr(params)
    return hash((h, tag)) & 0x7FFFFFFF, canon + "|" + tag


def persist_slot(
    slot: str, df: DataFrame, *, key: tuple[int, str] | None = None
) -> DataFrame:
    """Persist ``df`` under a named slot with plan-keyed reuse/eviction.

    Same semantic plan + same session → the live cached frame is returned
    (no duplicate cache).  Different plan → the stale cache is
    unpersisted (async) and replaced.  Unkeyable plans degrade to plain
    ``persist()``.  Pass ``key`` (see :func:`derived_key`) when the
    frame's own analyzed plan is too deep to key cheaply.
    """
    key = key if key is not None else _plan_key(df)
    if key is None:
        return df.persist()
    h, canon = key
    with _LIVE_LOCK:
        prev = _LIVE.get(slot)
        if prev is not None:
            ph, pcanon, pdf = prev
            same_session = pdf.sparkSession is df.sparkSession
            if same_session and ph == h and pcanon == canon:
                # a spark.catalog.clearCache() elsewhere unpersists the
                # frame behind the registry's back; returning it as-is
                # would silently lose the cache — re-pin first
                if pdf.storageLevel.useMemory or pdf.storageLevel.useDisk:
                    return pdf
                return pdf.persist()
            try:
                pdf.unpersist(False)
            except Exception:  # noqa: BLE001 — stopped session
                pass
        out = df.persist()
        _LIVE[slot] = (h, canon, out)
        return out


_KEYLESS: list[DataFrame] = []

# LRU-bounded: each memoized DataFrame pins a JVM plan tree (MBs for
# Lloyd-unrolled indexes; once the frame itself ran an action, also its
# executed plan's broadcast relations), so an unbounded dict would grow
# one entry per distinct (corpus, queries, params) for the session's
# lifetime — contradicting the bounded-memory contract _LIVE enforces.
# 32 entries covers every amortization pattern we serve (a handful of
# index tiers × a handful of live query batches) while capping driver
# retention; eviction only costs a plan rebuild, never correctness.
_MEMO_CAP = 32

#: One store for both memo flavors (registry plans, ``value_memo``);
#: entries are ``(flavor, owning_session, value, stamp)`` so the lookup
#: logic (liveness, ownership, freshness, LRU, cap) exists exactly once.
_MEMO: OrderedDict[tuple[int, str], tuple[str, object, object, tuple]] = OrderedDict()

#: Per-flavor hit / miss / eviction counts since process start (a miss
#: is every build, keyed or not); read them with :func:`memo_stats`.
_STATS = {
    f: {"hits": 0, "misses": 0, "evictions": 0} for f in ("registry", "value")
}


def memo_stats() -> dict[str, dict[str, int]]:
    """A snapshot of the per-flavor hit / miss / eviction counters."""
    with _LIVE_LOCK:
        return {f: dict(c) for f, c in _STATS.items()}


def _fresh(stamp: tuple) -> bool:
    """Every ``(path, path_sig)`` pair of ``stamp`` still holds."""
    return all(path_sig(path) == sig for path, sig in stamp)


def _memo(key: tuple[int, str] | None, build_entry, *, session, flavor: str):
    """Shared memo core: ``build_entry() -> (owner, value, stamp)``.

    A hit is served only if its owning session is alive AND is the
    caller's ``session``, and its ``stamp`` (see :func:`_fresh`; ``()``
    for :func:`value_memo`) still holds.  A ``None`` stamp from the
    build means "do not store"."""
    if key is not None:
        # _LIVE_LOCK guards the lookup/insert/evict sequence for the same
        # reason it guards the slots: memo calls may come from separate
        # driver threads (concurrent sessions, streaming query threads),
        # and an unguarded read-modify-write on the OrderedDict can
        # corrupt the LRU order or double-build (ADVICE r12).
        # build_entry() itself runs OUTSIDE the lock — it may take
        # seconds of py4j work and must not serialize unrelated slot
        # traffic.
        with _LIVE_LOCK:
            hit = _MEMO.get(key)
            if hit is not None:
                _, owner, value, stamp = hit
                try:
                    alive = owner.sparkContext._jsc is not None
                except Exception:  # noqa: BLE001 — stopped session
                    alive = False
                if alive and owner is session:
                    if _fresh(stamp):
                        _MEMO.move_to_end(key)
                        _STATS[flavor]["hits"] += 1
                        return value
                    del _MEMO[key]  # stale inputs: never served again
    owner, value, stamp = build_entry()
    with _LIVE_LOCK:
        _STATS[flavor]["misses"] += 1
        if key is not None and stamp is not None:
            _MEMO[key] = (flavor, owner, value, stamp)
            _MEMO.move_to_end(key)
            while len(_MEMO) > _MEMO_CAP:
                _, (evicted, *_rest) = _MEMO.popitem(last=False)
                _STATS[evicted]["evictions"] += 1
    return value


def value_memo(key: tuple[int, str] | None, builder, *, session):
    """Driver-side memo of a value whose construction ran Spark ACTIONS
    (an iterative trainer's merge list + checkpointed state, a collected
    anchor, a checkpointed label frame) — a repeat call with the same
    key returns the stored value instead of replaying the jobs.  The
    key must come from :func:`_plan_key` / :func:`derived_key` so it
    pins the source files (digest includes size+mtime): changed inputs
    or params miss and rebuild.  ``None`` key (unkeyable input) →
    always build.  The caller passes the owning ``session`` explicitly
    (the value itself may not carry one); a hit from a different or
    stopped session is rejected.  Shares the store, LRU cap, and
    ``clear_slots`` lifetime with the registry plans."""
    return _memo(
        key, lambda: (session, builder(), ()), session=session, flavor="value"
    )


def _registry_stamp(df: DataFrame, sf_dir: str) -> tuple | None:
    """``(path, path_sig)`` for every directory a registry plan depends
    on, or ``None`` when the plan must not be cached.

    The directories are those holding the plan's input files (their
    signatures cover the files, and a file added next to them, which
    the plan's listing would miss) and ``sf_dir`` (fixture and
    trained-state roots are derived from its tables but read from
    elsewhere, so a rewritten table must miss even when the plan reads
    only the derived root).  A leaf that is not a local file carries
    data from work the stamp can't see."""
    try:
        files, data_parts = _walk_leaves(df)
        if data_parts != [] or len(files) > _STAT_FILE_CAP:
            return None
        dirs = {sf_dir}
        for f in files:
            path = _local_path(f)
            if path is None:
                return None
            dirs.add(os.path.dirname(path))
        stamp = tuple((d, path_sig(d)) for d in sorted(dirs))
        return None if any(sig is None for _, sig in stamp) else stamp
    except Exception:  # noqa: BLE001 — connect clients
        return None


def registry_plan(name: str, spark, sf_dir: str, build) -> DataFrame:
    """The registry query ``name``'s plan, built by ``build(spark,
    sf_dir)`` once and then served from the memo store.

    A repeat call returns the DataFrame of the first while it is the
    same live session, the same ``sf_dir``, the same
    ``spark.sql.shuffle.partitions`` (the one conf a build reads, in
    ``groupmap.hash_partition``) and every stamped directory (see
    :func:`_registry_stamp`) keeps its :func:`path_sig`.  A hit makes
    one py4j call (the conf read) and checks the stamps with
    ``os.stat``.  The key sees nothing else: not module state a build
    reads, nor a stream behind files a build drained it into.

    A hit is the same DataFrame object, so an action on it (``collect``,
    ``toPandas``) re-runs its query execution and may reuse completed
    shuffle and broadcast stages instead of re-reading the files: the
    stamps keep that correct, and each cached entry keeps those
    shuffle files and broadcasts alive until it is evicted or
    :func:`clear_slots` drops it."""
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    tag = f"registry|{name}|{sf_dir}|{parts}"
    key = (hash(tag) & 0x7FFFFFFF, tag)

    def build_entry():
        df = build(spark, sf_dir)
        return spark, df, _registry_stamp(df, sf_dir)

    return _memo(key, build_entry, session=spark, flavor="registry")


def track_keyless(df: DataFrame) -> DataFrame:
    """Persist ``df`` WITHOUT plan-keyed reuse but WITH registry-owned
    lifetime: the frame is recorded so :func:`clear_slots` releases it.

    For iterative plans (Lloyd loops) whose intermediate frames must
    stay pinned until the FINAL frame is evaluated — an eager
    unpersist-previous scheme would defeat the persist entirely, since
    nothing materializes until the terminal action — but which would
    otherwise leak one cached frame per iteration per invocation on
    sessions where ``_plan_key`` returns ``None`` (Spark Connect)."""
    out = df.persist()
    _KEYLESS.append(out)
    return out


def clear_slots() -> None:
    """Unpersist and drop every live slot and every tracked keyless
    persist, and drop every memo entry, registry plans included (tests /
    session teardown).  The hit / miss / eviction counters keep counting."""
    with _LIVE_LOCK:
        for _, _, df in _LIVE.values():
            try:
                df.unpersist(False)
            except Exception:  # noqa: BLE001
                pass
        _LIVE.clear()
    for df in _KEYLESS:
        try:
            df.unpersist(False)
        except Exception:  # noqa: BLE001
            pass
    _KEYLESS.clear()
    # memoized plans reference the just-unpersisted frames; they'd still
    # recompute correctly, but dropping them keeps lifetimes aligned
    with _LIVE_LOCK:
        _MEMO.clear()

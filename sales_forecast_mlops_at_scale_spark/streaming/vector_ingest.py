"""Streaming vector-index ingest — incremental IVF-PQ maintenance, the
embedding twin of :mod:`streaming.dedup_ingest`: every production vector
store ingests embeddings continuously but trains its quantizers rarely.

Tables maintained under ``root_path``:

- ``{root}/vectors``    — raw ``(id, embedding)`` rows (the re-rank tier)
- ``{root}/centroids``  — the coarse quantizer, trained ONCE from the
  first non-empty batch and then FROZEN — faiss's operational model:
  assignment must stay consistent across the index's lifetime;
  retraining is an offline rebuild, not an ingest-path mutation
- ``{root}/pq_codebook`` — residual PQ codebook, same train-once policy
- ``{root}/assignments`` — ``(id, bucket)`` coarse assignments
- ``{root}/codes``      — ``(id, bucket, m, code)`` residual PQ codes,
  the compressed search tier
- ``{root}/seed_stats`` — the per-bucket assignment distribution of the
  TRAINING batch, written once at train time: the drift baseline
  :func:`index_drift` compares the live ``assignments`` tier against
  (a frozen quantizer degrades recall silently as the ingest
  distribution wanders from the epoch it was trained on — this tier is
  what makes that drift observable, and :func:`retrain_index` is the
  remedy)

Every dataflow here is COMPOSED from :mod:`operators.llm.pq`'s shared
pieces (``ivfpq_centroids`` / ``ivfpq_residuals`` /
``ivfpq_train_codebook`` / ``ivfpq_encode`` / ``ivfpq_search``) — the
batch operator ``ivfpq_topk`` and this ingest can therefore never drift
apart on a tie-break or quantization detail.

Per-batch cost is O(batch): one broadcast-join assignment pass and one
broadcast-join encode pass over the batch only — the stored corpus is
never rescanned.  Redelivery is idempotent via the same per-batch commit
marker + per-table anti-join healing protocol as the other ingests
(:func:`streaming.ingest.idempotent_append_batch`).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import _plan_key, derived_key, persist_slot
from ..operators.llm.embedsim import _prepared
from ..operators.llm.pq import (
    PQ_K,
    PQ_M,
    ivfpq_centroids,
    ivfpq_encode,
    ivfpq_residuals,
    ivfpq_search,
    ivfpq_train_codebook,
)
from .dedup_ingest import _read_or_none


def vector_ingest_batch(
    batch_df: DataFrame,
    root_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    m: int = PQ_M,
    n_codewords: int = PQ_K,
    dim: int | None = None,
    batch_id: int | None = None,
    app_id: str = "default",
    dedup_threshold: float | None = None,
    dedup_nprobe: int = 4,
    dedup_rerank: int = 50,
) -> None:
    """foreachBatch body: train quantizers on the first non-empty batch,
    then assign + encode ONLY this batch and append all tiers in
    lockstep.

    **Online semantic dedup** (``dedup_threshold``): before appending,
    each batch vector is searched against the COMMITTED index
    (:func:`search_materialized` with the exact re-rank tail — probe
    ``dedup_nprobe`` buckets, re-rank ``dedup_rerank`` ADC candidates by
    exact cosine); a vector whose best committed match scores ≥ the
    threshold is REJECTED — appended to ``{root}/rejected`` as
    ``(id, matched_id, score)`` for audit, never to the index tiers.
    Cost stays O(batch): the search touches integer code rows of probed
    buckets plus Q·R re-rank vectors, never the stored corpus.  Scope:
    the check is batch-vs-CORPUS (the faiss-service shape); near-dups
    arriving together in ONE batch are both admitted — run
    ``embedsim.semantic_dedup`` on the batch first for the stricter
    intra-batch contract."""
    from .ingest import _commit_marker_path

    spark = batch_df.sparkSession
    # a retrain whose tier swaps died mid-way leaves NEW centroids with
    # OLD codes — every entry point completes the journaled swap first,
    # or the mixed tiers silently mis-assign this batch (code-review r8)
    heal_retrain(root_path)
    # an empty batch (restart/commit-only trigger) must NOT train: a
    # frozen 0-row quantizer would silently break the index forever
    # (empty parquet reads back non-None, so training never re-runs)
    if batch_df.isEmpty():
        return
    from .snapshots import publish_enabled_tiers

    def _publish_tiers() -> None:
        # snapshot-enabled tiers get per-batch atomic reader visibility
        # (scan-derived publish; no-op batches mint no version;
        # non-local roots no-op inside the helper)
        publish_enabled_tiers(
            root_path, ("vectors", "assignments", "codes", "rejected")
        )

    fs = marker = None
    if batch_id is not None:
        fs, marker = _commit_marker_path(spark, root_path, f"{app_id}-{batch_id}")
        if fs.exists(marker):
            # redelivery: data committed; heal any marker→publish crash
            _publish_tiers()
            return
    if dedup_threshold is not None and dedup_rerank < 1:
        raise ValueError(
            "dedup_threshold needs dedup_rerank >= 1: the threshold is a "
            "cosine score, which only the exact re-rank tier produces "
            "(rerank=0 returns ADC distances)"
        )
    batch_df = batch_df.dropDuplicates([id_col]).persist()
    # every persisted frame lands here so ONE finally releases them all:
    # a transient append failure must not leak pinned frames into each
    # streaming retry (the accumulation cache.py exists to prevent)
    pins: list[DataFrame] = [batch_df]
    d_sub = dim // m if dim else None

    try:
        _vector_ingest_body(
            spark, batch_df, root_path, pins,
            id_col=id_col, vec_col=vec_col, num_centroids=num_centroids,
            m=m, n_codewords=n_codewords, dim=dim, d_sub=d_sub,
            dedup_threshold=dedup_threshold, dedup_nprobe=dedup_nprobe,
            dedup_rerank=dedup_rerank,
        )
    finally:
        for df in pins:
            df.unpersist()
    if marker is not None:
        fs.createNewFile(marker)  # marker LAST — see ingest.py
    _publish_tiers()


def _vector_ingest_body(
    spark: SparkSession,
    batch_df: DataFrame,
    root_path: str,
    pins: list,
    *,
    id_col: str,
    vec_col: str,
    num_centroids: int,
    m: int,
    n_codewords: int,
    dim: int | None,
    d_sub: int | None,
    dedup_threshold: float | None,
    dedup_nprobe: int,
    dedup_rerank: int,
) -> None:
    """The append work of :func:`vector_ingest_batch`, factored so the
    caller's try/finally releases every frame appended to ``pins`` no
    matter where a write fails."""
    centroids = _read_or_none(spark, f"{root_path}/centroids")
    codebook = _read_or_none(spark, f"{root_path}/pq_codebook")
    if centroids is None or codebook is None:
        c0 = _prepared(batch_df, id_col, vec_col)
        cent = ivfpq_centroids(c0, num_centroids=num_centroids)
        cb = ivfpq_train_codebook(
            ivfpq_residuals(c0, cent),
            m=m,
            n_codewords=n_codewords,
            refine_iters=2,
            d_sub=d_sub,
            # cheap derived key: the deep Lloyd plan must not be
            # traversed per batch (see cache.derived_key)
            key=derived_key(
                _plan_key(c0), "vecingest.cb", num_centroids, m, n_codewords, dim
            ),
        )
        # overwrite (not append): training is a single atomic event; a
        # torn retry rewrites the identical deterministic result
        cent.write.mode("overwrite").parquet(f"{root_path}/centroids")
        cb.write.mode("overwrite").parquet(f"{root_path}/pq_codebook")
        centroids = spark.read.parquet(f"{root_path}/centroids")
        codebook = spark.read.parquet(f"{root_path}/pq_codebook")
        # drift baseline: the training batch's per-bucket assignment
        # distribution, frozen alongside the quantizers it describes
        # (same overwrite-idempotence as the quantizer writes)
        _seed_distribution(c0, centroids).write.mode("overwrite").parquet(
            f"{root_path}/seed_stats"
        )
    elif (
        _read_or_none(spark, f"{root_path}/seed_stats") is None
        and _read_or_none(spark, f"{root_path}/assignments") is None
    ):
        # torn training commit (code-review r8): the quantizer writes
        # landed but the process died before the baseline write, so the
        # replay skips the training branch and the baseline would stay
        # missing FOREVER (every index_drift / maybe_retrain tick then
        # crashes).  The heal applies ONLY while no assignments tier
        # exists — that pins the crash to the pre-append training window
        # of THIS redelivered seed batch.  A legacy pre-drift-tracking
        # index (assignments present, no seed_stats) is deliberately NOT
        # healed from an arbitrary in-flight batch: that would mint a
        # ~zero-drift baseline on exactly the index whose distribution
        # has wandered most — it keeps the loud index_drift error and
        # the documented remedy (one retrain_index) instead.
        _seed_distribution(
            _prepared(batch_df, id_col, vec_col), centroids
        ).write.mode("overwrite").parquet(f"{root_path}/seed_stats")

    if dedup_threshold is not None:
        existing_vecs = _read_or_none(spark, f"{root_path}/vectors")
        # the CODES tier must exist too: a torn first batch can crash
        # between the vectors and codes appends, and a search against a
        # codes-less index would fail on every replay BEFORE the
        # self-healing anti-join appends run — wedging the stream.  No
        # codes ⇒ no committed searchable corpus ⇒ nothing to dedup
        # against yet; the anti-joins below heal the torn tiers.
        if (
            existing_vecs is not None
            and _read_or_none(spark, f"{root_path}/codes") is not None
        ):
            matches = search_materialized(
                spark,
                root_path,
                batch_df,
                k=1,
                nprobe=dedup_nprobe,
                m=m,
                dim=dim,
                id_col=id_col,
                vec_col=vec_col,
                rerank=dedup_rerank,
            ).filter(
                (F.col("rank") == 1) & (F.col("score") >= dedup_threshold)
            )
            # crash-replay healing: a row already committed to
            # {root}/vectors was ADMITTED on a prior torn attempt (append
            # landed, marker didn't) — on replay its batch-mates now see
            # it in the index, so without this anti-join it could be
            # "rejected" while also present in the index, leaving the
            # audit table disagreeing with the tiers
            rejected = (
                matches.select(
                    F.col("q_id").alias(id_col),
                    F.col("nn_id").alias("matched_id"),
                    "score",
                )
                .join(existing_vecs.select(id_col).distinct(), id_col, "left_anti")
                .persist()
            )
            pins.append(rejected)
            # ONE unconditional append action per batch: redelivery
            # idempotence folds into the same anti-join the index tiers
            # use, and an empty delta write is cheap — no isEmpty() probe
            # and no second read of {root}/rejected afterwards
            existing_rej = _read_or_none(spark, f"{root_path}/rejected")
            delta = rejected
            if existing_rej is not None:
                delta = delta.join(
                    existing_rej.select(id_col).distinct(),
                    id_col,
                    "left_anti",
                )
            # this write materializes `rejected`'s cache (delta's lineage
            # runs the ADC+rerank search exactly once); the admission
            # filter below then joins two cached batch-scale frames
            delta.write.mode("append").parquet(f"{root_path}/rejected")
            batch_df = batch_df.join(
                rejected.select(id_col), id_col, "left_anti"
            )

    # O(batch) passes over THIS batch only; the residual frame feeds the
    # assignments append AND the encode, and codes feeds its own append —
    # pin both so the broadcast-join lineage executes once, not once per
    # downstream action (the appends are separate Spark actions)
    c = _prepared(batch_df, id_col, vec_col)
    resid = ivfpq_residuals(c, centroids).persist()
    pins.append(resid)
    codes = ivfpq_encode(resid, codebook, m=m, d_sub=d_sub).persist()
    pins.append(codes)

    def _append(delta: DataFrame, table: str, key: str) -> None:
        existing = _read_or_none(spark, f"{root_path}/{table}")
        if existing is not None:
            delta = delta.join(
                existing.select(key).distinct(), key, "left_anti"
            )
        delta.write.mode("append").parquet(f"{root_path}/{table}")

    _append(batch_df.select(id_col, vec_col), "vectors", id_col)
    _append(
        resid.select(F.col("vid").alias(id_col), "bucket"), "assignments", id_col
    )
    _append(
        codes.select(F.col("vid").alias(id_col), "bucket", "m", "code"),
        "codes",
        id_col,
    )


def search_materialized(
    spark: SparkSession,
    root_path: str,
    queries: DataFrame,
    *,
    k: int = 5,
    nprobe: int = 4,
    m: int = PQ_M,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
    rerank: int = 0,
    pin_codes: bool = False,
) -> DataFrame:
    """:func:`operators.llm.pq.ivfpq_search` over the MATERIALIZED index
    tables — the corpus itself is never touched.
    Output: ``q_id, nn_id, adist, rank`` — or, with ``rerank > 0``,
    ``q_id, nn_id, score, rank``: ADC selects top-``rerank`` candidates
    and the ``{root}/vectors`` table (the re-rank tier the ingest
    maintains for exactly this) settles the final order by exact
    cosine.

    The stored tiers are NOT persist-pinned by default: materializing a
    cache scans the WHOLE codes table, while the probe filter pushed to
    the parquet scan touches only probed buckets — the O(batch)
    contract the per-micro-batch ingest dedup depends on.  A LONG-LIVED
    SERVING tier should pass ``pin_codes=True``: PQ's design premise is
    that the compressed codes fit in memory (that is what quantization
    buys), so the serving deployment keeps them resident — the pin is
    slot-keyed on the codes file digest, so an ingest append or a
    compaction evicts it."""
    # never search mixed tiers: complete a mid-swap retrain first
    # (cheap journal-presence check; code-review r8)
    heal_retrain(root_path)
    codes_src = spark.read.parquet(f"{root_path}/codes")
    centroids = spark.read.parquet(f"{root_path}/centroids")
    codebook = spark.read.parquet(f"{root_path}/pq_codebook")
    codes = codes_src.select(F.col(id_col).alias("vid"), "bucket", "m", "code")
    codes_packed = False
    if pin_codes:
        # the serving tier keeps the PACKED index resident
        # (optimization r13, see pq._packed_codes): one row per
        # vector, searches are fan-out-free joins with no per-query
        # packing pass; the O(batch) ingest-dedup path keeps the raw
        # table and packs only probed buckets per evaluation
        from ..operators.llm.pq import _packed_codes

        codes = persist_slot(
            "vecingest.codes",
            _packed_codes(codes, m, ["vid", "bucket"]),
            key=derived_key(_plan_key(codes_src), "codes.pin.packed", id_col, m),
        )
        codes_packed = True
    q = _prepared(queries, id_col, vec_col).select(
        F.col("vid").alias("qid"), "v", "nrm"
    )
    vectors = (
        _prepared(spark.read.parquet(f"{root_path}/vectors"), id_col, vec_col)
        if rerank
        else None
    )
    return ivfpq_search(
        q,
        centroids,
        codebook,
        codes,
        k=k,
        nprobe=nprobe,
        m=m,
        d_sub=dim // m if dim else None,
        ndigits=ndigits,
        vectors=vectors,
        rerank=rerank,
        codes_packed=codes_packed,
    )


def _seed_distribution(c_prepared: DataFrame, centroids: DataFrame) -> DataFrame:
    """Per-bucket assignment counts of a prepared ``(vid, v, nrm)``
    frame under ``centroids`` — the shared coarse-argmax, counts only."""
    from ..operators.llm.embedsim import _assign_nearest

    return (
        _assign_nearest(c_prepared, centroids, "bucket", 6)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_seed"))
    )


def index_drift(spark: SparkSession, root_path: str) -> DataFrame:
    """Per-centroid assignment-share drift of the LIVE corpus versus the
    training epoch — THE observability signal for a frozen-quantizer
    index: at 100 TB ingest the data distribution wanders, buckets
    overfill or starve, and recall degrades with no error anywhere.

    One row per bucket: exact seed / current counts and integer
    parts-per-million shares, plus ``drift_ppm = cur_ppm − seed_ppm``
    (positive = the bucket now holds a larger share than the quantizer
    was trained for).  Reads ONLY the ``assignments`` and ``seed_stats``
    tiers — never the vectors, never the codes — so the scan is a few
    bytes per million vectors; exactly oracle-able (pure integer
    arithmetic).  Feed a threshold on ``max(abs(drift_ppm))`` into a
    maintenance scheduler that calls :func:`retrain_index`."""
    # a drift measurement over mixed (mid-swap) tiers is meaningless —
    # and an under-threshold reading would postpone the very retrain
    # that heals them; complete the swap first (code-review r8)
    heal_retrain(root_path)
    seed_path = f"{root_path}/seed_stats"
    seed = _read_or_none(spark, seed_path)
    if seed is None:
        raise FileNotFoundError(
            f"{seed_path} is missing: the index predates drift tracking "
            "— run retrain_index() once to mint a baseline"
        )
    cur = (
        spark.read.parquet(f"{root_path}/assignments")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_current"))
    )
    totals = (
        cur.agg(F.sum("n_current").alias("__tc"))
        .crossJoin(seed.agg(F.sum("n_seed").alias("__ts")))
    )
    # every seed bucket's rows are in assignments too, so current drives
    return (
        cur.join(seed, "bucket", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            F.coalesce(F.col("n_seed"), F.lit(0)).cast("long").alias("n_seed"),
            "n_current",
            F.expr("coalesce(n_seed, 0L) * 1000000 div __ts")
            .cast("long")
            .alias("seed_ppm"),
            F.expr("n_current * 1000000 div __tc")
            .cast("long")
            .alias("cur_ppm"),
            (
                F.expr("n_current * 1000000 div __tc")
                - F.expr("coalesce(n_seed, 0L) * 1000000 div __ts")
            )
            .cast("long")
            .alias("drift_ppm"),
        )
    )


def maybe_retrain(
    spark: SparkSession,
    root_path: str,
    *,
    drift_threshold_ppm: int = 100_000,
    **retrain_kwargs,
) -> dict:
    """The maintenance-tick policy that closes the drift loop: measure
    :func:`index_drift`, and when any bucket's absolute share drift
    crosses ``drift_threshold_ppm`` (default 10% of the corpus), run
    :func:`retrain_index`.  Returns the drift summary plus whatever the
    retrain returned (``retrained: False`` when under threshold).
    The measurement is the assignments-tier scan only, so running this
    every compaction tick is effectively free; the rebuild triggers
    O(corpus re-encode) work only when the distribution actually moved."""
    worst = (
        index_drift(spark, root_path)
        .agg(F.max(F.abs(F.col("drift_ppm"))).alias("w"))
        .first()[0]
        or 0
    )
    out = {"max_abs_drift_ppm": int(worst), "retrained": False}
    if worst >= drift_threshold_ppm:
        out.update(retrain_index(spark, root_path, **retrain_kwargs))
    return out


#: Retrain journal filename — ``_``-prefixed so data scans skip it.
_RETRAIN_JOURNAL = "_retrain_journal.json"

#: Tiers a retrain replaces wholesale, in swap order.
_RETRAIN_TIERS = (
    "centroids",
    "pq_codebook",
    "assignments",
    "codes",
    "seed_stats",
)


#: orphaned heal claims younger than this are assumed live and left alone
_CLAIM_ADOPT_AGE_S = 60.0

#: pid-reuse fallback: a claim whose owner LOOKS alive is still adopted
#: past this age — a real healer heartbeats its claim mtime per tier, so
#: only a recycled pid (or a healer wedged this long between two single
#: directory renames) ever reaches the bar (ADVICE r8: age alone must
#: not override a provably-live owner)
_CLAIM_PIDREUSE_AGE_S = 900.0

#: how long retrain_index waits for an in-flight rival heal to finish
#: before giving up (it must NOT sweep while one runs)
_RETRAIN_QUIET_TIMEOUT_S = 600.0

#: per-root in-process heal locks — a pid-tagged claim cannot tell two
#: THREADS of one process apart, so same-process healers serialize here
_HEAL_LOCKS: dict[str, object] = {}
_HEAL_LOCKS_GUARD = None


def _heal_lock(root_path: str):
    import threading

    global _HEAL_LOCKS_GUARD
    if _HEAL_LOCKS_GUARD is None:
        _HEAL_LOCKS_GUARD = threading.Lock()
    with _HEAL_LOCKS_GUARD:
        return _HEAL_LOCKS.setdefault(
            os.path.realpath(root_path), threading.Lock()
        )


def _claim_owner_alive(path: str) -> bool:
    """Claim names are ``{journal}.claim-{pid}-{uuid}``."""
    try:
        pid = int(os.path.basename(path).split(".claim-", 1)[1].split("-")[0])
        os.kill(pid, 0)
        return True
    except (ValueError, IndexError, ProcessLookupError):
        return False
    except PermissionError:
        return True  # exists, other user


def _inflight_retrain_rids(root_path: str) -> set[str]:
    """rids named by the journal or ANY claim file — staged/aside dirs
    carrying these rids belong to a (possibly mid-swap) retrain and must
    never be swept as garbage (ADVICE r8: the pre-clean sweep deleted a
    rival healer's staged dir between its two renames — data loss)."""
    import glob as _glob
    import json

    rids: set[str] = set()
    journal = os.path.join(root_path, _RETRAIN_JOURNAL)
    for p in [journal, *_glob.glob(f"{journal}.claim-*")]:
        try:
            with open(p, encoding="utf-8") as fh:
                rid = json.load(fh).get("rid")
            if rid:
                rids.add(str(rid))
        except (OSError, ValueError):
            continue
    return rids


def heal_retrain(root_path: str) -> bool:
    """Roll FORWARD a retrain whose tier swaps died mid-way: the journal
    is written only after every staged tier is fully built and
    count-verified, so completing the swaps is always the correct
    direction.  Per-tier idempotent: a tier whose staged dir is gone was
    already swapped.  No-op (False) on a healthy index.

    Concurrency (code-review r8, round 2; hardened ADVICE r9): this runs
    from EVERY entry point, so two processes can race on one journal —
    and two healers interleaving the same tier swap can rename a
    freshly-swapped LIVE dir aside and destroy it.  Same-process threads
    first serialize on an in-process per-root lock (a pid-tagged claim
    cannot tell threads apart); then the journal is CLAIMED by atomic
    rename: exactly one healer proceeds, rivals see no journal and
    return.  A healer that dies mid-heal leaves its claim file; it is
    adopted (again by exclusive rename, one winner) when its OWNER PID
    is provably dead — the claim name embeds the pid and this is a
    local-FS substrate.  A claim whose owner is ALIVE is left alone (a
    running healer is never raced on the swap steps) with two aged
    escapes: our own pid past the short bar (a leak from a crashed
    in-process heal — safe under the thread lock), and any pid past the
    LONG pid-reuse bar — the active healer heartbeats its claim mtime
    per tier, so only a recycled pid or a healer wedged {long}s between
    two directory renames ever ages that far (ADVICE r8: age alone must
    not override a provably-live owner)."""
    import glob as _glob
    import json
    import shutil
    import time
    import uuid

    with _heal_lock(root_path):
        return _heal_retrain_locked(
            root_path, _glob, json, shutil, time, uuid
        )


def _heal_retrain_locked(root_path, _glob, json, shutil, time, uuid) -> bool:
    def _claim_pid(path: str) -> int | None:
        try:
            return int(
                os.path.basename(path).split(".claim-", 1)[1].split("-")[0]
            )
        except (ValueError, IndexError):
            return None

    journal = os.path.join(root_path, _RETRAIN_JOURNAL)
    claim = f"{journal}.claim-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    claimed = None
    if os.path.isfile(journal):
        try:
            os.rename(journal, claim)
            claimed = claim
        except OSError:
            pass  # a rival claimed it first
    if claimed is None:
        for orphan in _glob.glob(f"{journal}.claim-*"):
            if orphan == claim:
                continue
            try:
                age = time.time() - os.path.getmtime(orphan)
            except OSError:
                continue
            if _claim_owner_alive(orphan):
                own = _claim_pid(orphan) == os.getpid()
                bar = _CLAIM_ADOPT_AGE_S if own else _CLAIM_PIDREUSE_AGE_S
                if age < bar:
                    continue  # a live healer owns it — never race it
            try:
                os.rename(orphan, claim)
                claimed = claim
                break
            except OSError:
                continue
    if claimed is None:
        return False
    with open(claimed, encoding="utf-8") as fh:
        plan = json.load(fh)
    rid = plan["rid"]
    try:
        for tier in plan["tiers"]:
            try:
                os.utime(claimed)  # heartbeat: we are alive mid-heal
            except OSError:
                pass
            live = os.path.join(root_path, tier)
            staged = f"{live}.retrain-{rid}"
            aside = f"{live}.old-{rid}"
            if os.path.isdir(staged):
                if os.path.isdir(live):
                    os.rename(live, aside)
                os.rename(staged, live)
            # snapshot history lives INSIDE the replaced dir: rescue it
            # into the new tier before the old dir dies, so snapshot-
            # enabled tiers keep their version chain across a retrain
            # (the caller then publishes the new listing; until it does,
            # the head manifest references swapped-out files — exactly
            # the state heal_dangling_manifest repairs)
            old_snaps = os.path.join(aside, "_snapshots")
            new_snaps = os.path.join(live, "_snapshots")
            if os.path.isdir(old_snaps) and not os.path.isdir(new_snaps):
                os.rename(old_snaps, new_snaps)
            shutil.rmtree(aside, ignore_errors=True)
    except BaseException:
        # an in-process failure must not wedge the heal behind a claim
        # owned by a LIVE pid: put the journal back so any healer (this
        # process included) can retry immediately; the steps already
        # taken are idempotent under the re-run
        try:
            os.rename(claimed, journal)
        except OSError:
            pass
        raise
    try:
        os.unlink(claimed)
    except OSError:
        pass  # an adopter took over — it finishes the heal
    return True


def retrain_index(
    spark: SparkSession,
    root_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    m: int = PQ_M,
    n_codewords: int = PQ_K,
    dim: int | None = None,
) -> dict:
    """Offline quantizer rebuild — the remedy :func:`index_drift`
    triggers: train FRESH centroids + PQ codebook from the CURRENT
    ``vectors`` tier (faiss's model: retraining is an offline rebuild,
    never an ingest-path mutation), re-assign and re-encode the whole
    corpus, and swap every derived tier.

    Commit protocol (crash-healing, same journal discipline as
    :mod:`streaming.forget`): all five replacement tiers are built and
    COUNT-VERIFIED in sibling staging dirs first — the live index is
    untouched and fully searchable throughout the expensive phase; then
    one atomically-renamed journal records the swap intent, the five
    dir renames run, and :func:`heal_retrain` completes them after any
    crash.  Readers between two individual renames can observe a
    transient listing (the same single-writer-between-drains window as
    compaction); snapshot-enabled tiers additionally get a post-swap
    manifest publish + vacuum so ``read_snapshot`` flips atomically.
    The new ``seed_stats`` baseline is the post-retrain distribution,
    so drift restarts from zero.  Returns
    ``{"n_vectors", "num_centroids", "retrained": True}``."""
    import json
    import shutil
    import uuid

    from ..cache import derived_key
    from .compact import _invalidate_cached_plans
    from .snapshots import publish_if_enabled, snapshots_enabled, vacuum_snapshots

    # wait for any in-flight heal to finish before sweeping: a rival
    # process holding a claimed journal mid-heal owns rid-suffixed
    # staged/aside dirs that are NOT garbage — sweeping them between its
    # two renames loses a tier's live copy AND its replacement (ADVICE
    # r8).  heal_retrain itself completes orphans; live claims we wait
    # out.
    import time as _time

    journal = os.path.join(root_path, _RETRAIN_JOURNAL)
    deadline = _time.monotonic() + _RETRAIN_QUIET_TIMEOUT_S
    while True:
        heal_retrain(root_path)
        live_claims = [
            c
            for c in glob.glob(f"{journal}.claim-*")
            if _claim_owner_alive(c)
        ]
        if not os.path.isfile(journal) and not live_claims:
            break
        if _time.monotonic() > deadline:
            raise TimeoutError(
                f"retrain blocked by an in-flight heal: {live_claims}"
            )
        _time.sleep(0.05)
    # belt-and-braces TOCTOU guard: never sweep a rid the journal or any
    # claim still names, even if one appeared since the quiet check
    protected = _inflight_retrain_rids(root_path)
    for tier in _RETRAIN_TIERS:
        # pre-journal staging garbage from a crashed build: the live
        # index was never touched by that run
        for stale in glob.glob(f"{root_path}/{tier}.retrain-*") + glob.glob(
            f"{root_path}/{tier}.old-*"
        ):
            rid_sfx = stale.rsplit("-", 1)[-1]
            if rid_sfx in protected:
                continue
            shutil.rmtree(stale, ignore_errors=True)

    vectors = spark.read.parquet(f"{root_path}/vectors")
    n_vec = vectors.count()
    if n_vec == 0:
        return {"n_vectors": 0, "num_centroids": 0, "retrained": False}
    d_sub = dim // m if dim else None
    c0 = _prepared(vectors, id_col, vec_col)
    cent = ivfpq_centroids(c0, num_centroids=num_centroids)
    cb = ivfpq_train_codebook(
        ivfpq_residuals(c0, cent),
        m=m,
        n_codewords=n_codewords,
        refine_iters=2,
        d_sub=d_sub,
        key=derived_key(
            _plan_key(c0), "vecingest.retrain.cb", num_centroids, m,
            n_codewords, dim,
        ),
    )
    rid = uuid.uuid4().hex[:8]

    def _staged(tier: str) -> str:
        return f"{root_path}/{tier}.retrain-{rid}"

    cent.write.parquet(_staged("centroids"))
    cb.write.parquet(_staged("pq_codebook"))
    cent_frozen = spark.read.parquet(_staged("centroids"))
    cb_frozen = spark.read.parquet(_staged("pq_codebook"))
    resid = ivfpq_residuals(c0, cent_frozen).persist()
    try:
        resid.select(F.col("vid").alias(id_col), "bucket").write.parquet(
            _staged("assignments")
        )
        ivfpq_encode(resid, cb_frozen, m=m, d_sub=d_sub).select(
            F.col("vid").alias(id_col), "bucket", "m", "code"
        ).write.parquet(_staged("codes"))
        _seed_distribution(c0, cent_frozen).write.parquet(
            _staged("seed_stats")
        )
        # verify BEFORE anything destructive: the staged tiers must
        # cover the corpus exactly, or the swap is refused whole
        n_asg = spark.read.parquet(_staged("assignments")).count()
        n_codes = spark.read.parquet(_staged("codes")).count()
        if n_asg != n_vec or n_codes != n_vec * m:
            raise RuntimeError(
                f"retrain verification failed: {n_asg} assignments / "
                f"{n_codes} codes staged for {n_vec} vectors (m={m})"
            )
    except BaseException:
        for tier in _RETRAIN_TIERS:
            shutil.rmtree(_staged(tier), ignore_errors=True)
        raise
    finally:
        resid.unpersist()

    # journal lands atomically; before it the live index is untouched,
    # after it heal_retrain always completes the swap
    tmp = os.path.join(root_path, f".{_RETRAIN_JOURNAL}.{rid}")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump({"rid": rid, "tiers": list(_RETRAIN_TIERS)}, fh)
    os.rename(tmp, os.path.join(root_path, _RETRAIN_JOURNAL))
    heal_retrain(root_path)

    for tier in _RETRAIN_TIERS:
        path = f"{root_path}/{tier}"
        _invalidate_cached_plans(spark, path)
        try:
            enabled = snapshots_enabled(path)
        except NotImplementedError:
            enabled = False
        if enabled:
            # wholesale replacement: the derived publish pins exactly
            # the new listing (head ∩ listing is empty), and the vacuum
            # reclaims nothing (old files died with the dir swap)
            publish_if_enabled(path, op="retrain")
            vacuum_snapshots(path, keep_last=1)
    return {
        "n_vectors": n_vec,
        "num_centroids": num_centroids,
        "retrained": True,
    }


def compact_index_tables(
    spark: SparkSession,
    root_path: str,
    *,
    target_file_bytes: int = 128 << 20,
) -> dict[str, dict]:
    """Maintenance pass over the materialized index: compact every tier
    the ingest appends to (vectors / assignments / codes / rejected) —
    micro-batch ingest fragments them into per-batch part files, and at
    scale the search's scan cost is dominated by file count, not bytes.
    Codes and assignments are range-sorted by ``bucket`` during the
    rewrite so a probe's bucket filter maps to contiguous, min/max-
    prunable files (the search reads ONLY probed buckets — clustering is
    what makes that a file-skip instead of a full listing).  Quantizer
    tables (centroids/codebook) are single-write and never fragment.
    Run between drains, not concurrently with an active ingest (single
    writer, same as any OPTIMIZE).  Returns per-tier stats."""
    import os

    from .compact import compact_parquet_table

    stats: dict[str, dict] = {}
    for table, sort_by in (
        ("vectors", None),
        ("assignments", ["bucket"]),
        ("codes", ["bucket", "m"]),
        ("rejected", None),
    ):
        path = f"{root_path}/{table}"
        if os.path.isdir(path):
            stats[table] = compact_parquet_table(
                spark, path, target_file_bytes=target_file_bytes, sort_by=sort_by
            )
    return stats


def run_vector_ingest(
    spark: SparkSession,
    *,
    source: DataFrame,
    root_path: str,
    checkpoint_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    available_now: bool = True,
    dedup_threshold: float | None = None,
) -> None:
    """Drain an embedding stream into the incremental IVF-PQ index.
    ``dedup_threshold`` enables online semantic dedup at ingest (see
    :func:`vector_ingest_batch`)."""
    import hashlib

    app_id = hashlib.md5(checkpoint_path.encode()).hexdigest()[:12]
    writer = (
        source.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_path)
        .foreachBatch(
            lambda batch_df, bid: vector_ingest_batch(
                batch_df,
                root_path,
                id_col=id_col,
                vec_col=vec_col,
                dim=dim,
                batch_id=bid,
                app_id=app_id,
                dedup_threshold=dedup_threshold,
            )
        )
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    query.awaitTermination()

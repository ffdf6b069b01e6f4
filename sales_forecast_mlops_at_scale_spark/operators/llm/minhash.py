"""MinHash + LSH near-duplicate detection — the sub-quadratic scale path.

Same output contract as :func:`jaccard.ngram_jaccard_pairs`, but candidate
generation is banded LSH instead of the full inverted-index join:

1. shingle → 64-bit shingle hash ``x = xxhash64(s)``
2. signature: ``sig[i] = min over shingles of xxhash64(x, i)`` for
   ``i < num_hashes`` — a seeded hash family without modular arithmetic
   (ANSI-safe: no 64-bit multiply overflow), all JVM-side
3. banding: ``bands`` groups of ``rows_per_band`` signature slots, each
   hashed to one bucket key; docs sharing any bucket become candidates
4. exact verification: candidates' shingle sets are intersected
   (``array_intersect``) and only pairs with true Jaccard ≥ threshold
   survive — LSH affects recall only, never precision

With 16 bands × 4 rows the S-curve midpoint is ``(1/16)^(1/4) ≈ 0.5``:
pairs with J ≥ 0.6 are found with probability > 0.96, while the join
volume is #docs × 16 bucket rows instead of #docs² — the property that
keeps this runnable on a 100 TB corpus.

Everything is deterministic (fixed xxhash64 seed), so repeated runs and
test fixtures agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ...cache import _plan_key, derived_key, persist_slot

from .jaccard import shingle_index, shingle_sets

NUM_HASHES = 64
BANDS = 16
ROWS_PER_BAND = NUM_HASHES // BANDS


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    num_hashes: int = NUM_HASHES,
    sets: DataFrame | None = None,
) -> DataFrame:
    """Per-doc minhash signature columns ``doc, h0..h{k-1}``.

    The explode is kept narrow — (doc, shingle) pairs only; carrying the
    full shingle array through the explode would multiply shuffle volume
    by the average doc length.

    ``sets``: optional pre-built (possibly persisted) ``doc, sh`` frame
    from :func:`jaccard.shingle_sets` — lets a caller that also needs the
    sets (exact verification) run the regex+HOF shingling pipeline, the
    single most expensive stage, once instead of twice."""
    if sets is None:
        exploded = shingle_index(df, text_col, id_col, n=n)
    else:
        exploded = sets.select("doc", F.explode("sh").alias("s"))
    exploded = exploded.withColumn("x", F.xxhash64("s"))
    # one parsed SQL string per aggregate instead of nested Column calls:
    # every Column operation is a py4j round trip, and the per-Column form
    # cost ~4 driver→JVM messages × num_hashes per invocation — measured
    # ~4× the construction latency of the expr form (the pq._subspaces
    # precedent; guide §7.3 "planning time itself can become the
    # bottleneck").  The parsed expression tree is IDENTICAL
    # (canonicalized-plan equality checked), so results cannot move.
    return exploded.groupBy("doc").agg(
        *[
            F.expr(f"min(xxhash64(x, {i})) AS h{i}")
            for i in range(num_hashes)
        ],
    )


def _band_buckets(
    sigs: DataFrame, *, bands: int, rows_per_band: int
) -> DataFrame:
    """``doc, band, bkey`` bucket rows from a signature frame.

    The whole band-struct array is ONE parsed SQL expression rather than
    ``bands`` nested ``F.struct``/``F.xxhash64`` Column calls — the same
    py4j-round-trip economy as :func:`minhash_signatures` (identical
    parsed tree, ~10× cheaper construction; bare integer literals keep
    ``band`` an INT exactly as ``F.lit(b)`` did)."""
    arr = ", ".join(
        "struct({b} AS band, xxhash64({b}, {cols}) AS bkey)".format(
            b=b,
            cols=", ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return sigs.select(
        "doc", F.expr(f"explode(array({arr}))").alias("bs")
    ).select(
        "doc", F.col("bs.band").alias("band"), F.col("bs.bkey").alias("bkey")
    )


def minhash_incremental_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    corpus_sets: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
    n: int = 3,
    threshold: float = 0.5,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Incremental near-dup detection: pairs between an incoming BATCH
    and an existing CORPUS (``new_id, corpus_id, jaccard``), candidates
    via the same banded LSH as :func:`minhash_lsh_pairs` but joined
    asymmetrically — batch buckets probe corpus buckets.

    This is the production ingest shape at 100 TB: per-ingest cost is
    O(batch) signatures + a bucket join against the corpus index —
    never a corpus×corpus pair search.  Pass ``corpus_sets`` (a
    ``doc, sh`` frame, e.g. the materialized shingle-set table
    :func:`streaming.dedup_ingest` maintains) to skip re-shingling the
    corpus text; pass ``corpus_bands`` (a ``doc, band, bkey`` frame, the
    materialized :func:`_band_buckets` output) as well to skip
    re-SKETCHING it — without it every call still explodes the corpus
    index and recomputes all signatures, O(corpus) hashing per ingest.
    With both tables the corpus contributes only a bucket-join scan
    (pruned, not rehashed; partition the stored bands by ``bkey`` range
    to prune the scan too), which is what makes the per-batch cost
    genuinely O(batch).  Pairs *within* the new batch are the job of
    :func:`minhash_lsh_pairs` over the batch alone.
    """
    if (corpus_df is None) == (corpus_sets is None):
        raise ValueError("pass exactly one of corpus_df / corpus_sets")
    if corpus_bands is not None and corpus_sets is None:
        raise ValueError("corpus_bands requires corpus_sets (exact verify)")
    # slot keys derive from the inputs' keys (as in minhash_lsh_pairs)
    new_sets = persist_slot(
        "minhash.new_sets",
        shingle_sets(new_df, text_col, id_col, n=n),
        key=derived_key(_plan_key(new_df), "minhash.new_sets", text_col, id_col, n),
    )
    if corpus_bands is None:
        # derived in-session sets feed TWO consumers (signature agg +
        # exact verify) — pin so the shingling runs once.  With
        # corpus_bands given (the streaming ingest), corpus_sets is the
        # MATERIALIZED file-backed table with ONE consumer (the exact
        # verify), and the table grows every batch so its digest-keyed
        # slot would never hit: pinning would materialize the ENTIRE
        # corpus into executor cache per micro-batch and evict it on
        # the next — O(corpus) cache churn for zero reuse, violating
        # the O(batch) ingest contract.
        kc = _plan_key(corpus_df if corpus_df is not None else corpus_sets)
        if corpus_sets is None:
            corpus_sets = shingle_sets(corpus_df, text_col, id_col, n=n)
        corpus_sets = persist_slot(
            "minhash.corpus_sets",
            corpus_sets,
            key=derived_key(kc, "minhash.corpus_sets", text_col, id_col, n),
        )
    k = bands * rows_per_band
    new_sigs = minhash_signatures(
        new_df, text_col, id_col, n=n, num_hashes=k, sets=new_sets
    )
    nb = _band_buckets(new_sigs, bands=bands, rows_per_band=rows_per_band)
    if corpus_bands is not None:
        cb = corpus_bands.select("doc", "band", "bkey")
    else:
        corpus_sigs = minhash_signatures(
            corpus_df, text_col, id_col, n=n, num_hashes=k,
            sets=corpus_sets,
        )
        cb = _band_buckets(
            corpus_sigs, bands=bands, rows_per_band=rows_per_band
        )
    candidates = (
        nb.alias("a")
        .join(cb.alias("b"), ["band", "bkey"])
        .select(
            F.col("a.doc").alias("new_id"),
            F.col("b.doc").alias("corpus_id"),
        )
        # a redelivered doc can sit on both sides under the SAME id
        # (e.g. a torn ingest retry whose index row landed); it is the
        # same document, not a duplicate of itself
        .filter(F.col("new_id") != F.col("corpus_id"))
        .distinct()
    )
    sa = new_sets.select(
        F.col("doc").alias("new_id"), F.col("sh").alias("sh_a")
    )
    sb = corpus_sets.select(
        F.col("doc").alias("corpus_id"), F.col("sh").alias("sh_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        candidates.join(sa, "new_id")
        .join(sb, "corpus_id")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "corpus_id", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    threshold: float = 0.5,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Near-duplicate pairs (``id_a < id_b``) with exact-verified n-gram
    Jaccard ≥ threshold, candidates via banded MinHash LSH.

    Columns: ``id_a, id_b, jaccard`` (rounded to 6 digits).

    The shingle pipeline feeds two consumers — the signature aggregation
    and the exact-verify sets — so it is persisted and reused (without
    the persist the regex+HOF stage runs twice; measured ~1.5× query
    cost at sf0.1).  Cache lifetime is caller-owned: in a long-lived
    session either call ``spark.catalog.clearCache()`` when done or
    materialize the sets as a table (the durable equivalent).

    The persist slots carry :func:`...cache.derived_key` keys from the
    SOURCE frame's plan key, so the deep signature plans are never
    walked with ``canonicalized()``.
    """
    base = _plan_key(df)
    sets = persist_slot(
        "minhash.sets",
        shingle_sets(df, text_col, id_col, n=n),
        key=derived_key(base, "minhash.sets", text_col, id_col, n),
    )
    # the signature frame feeds BOTH sides of the bucket self-join
    # below; unpersisted, the 64-way min aggregation over the
    # exploded shingle rows executes once per side (the r11 plan
    # dump shows two identical HashAggregate(min(xxhash64)×64)
    # subtrees — a broadcast join defeats exchange reuse, so only a
    # materialization dedupes it).  Same rationale and lifetime
    # contract as ``simhash_pairs``'s sigs persist.
    sigs = persist_slot(
        "minhash.sigs",
        minhash_signatures(
            df,
            text_col,
            id_col,
            n=n,
            num_hashes=bands * rows_per_band,
            sets=sets,
        ),
        key=derived_key(
            base, "minhash.sigs", text_col, id_col, n,
            bands * rows_per_band,
        ),
    )
    buckets = _band_buckets(sigs, bands=bands, rows_per_band=rows_per_band)
    a, b = buckets.alias("a"), buckets.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
        .distinct()
    )
    sa = sets.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sets.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def lsh_pairs_key(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n: int = 3,
    threshold: float = 0.5,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> tuple[int, str] | None:
    """A key for :func:`minhash_lsh_pairs`'s output on these inputs —
    exported so downstream operators (triangle stats, clustering) can
    derive THEIR slot keys from it instead of walking the deep pair-plan
    with ``_plan_key`` (a multi-second ``canonicalized()`` traversal)."""
    return derived_key(
        _plan_key(df), "minhash.lsh_pairs", text_col, id_col, n, threshold,
        bands, rows_per_band,
    )


def band_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    sets: DataFrame | None = None,
    n: int = 3,
    bands: int = BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """Materializable LSH index rows ``(doc, band, bkey)`` for ``df`` —
    the table :func:`streaming.dedup_ingest` maintains so later batches
    probe stored buckets instead of re-sketching the corpus."""
    sigs = minhash_signatures(
        df, text_col, id_col, n=n, num_hashes=bands * rows_per_band, sets=sets
    )
    return _band_buckets(sigs, bands=bands, rows_per_band=rows_per_band)

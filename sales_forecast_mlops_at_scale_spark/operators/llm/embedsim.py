"""Similarity search over an embedding column (``array<float>``).

Tiers sharing one output contract (``q_id, nn_id, score, rank``):

- :func:`brute_force_topk` — exact cosine top-k.  The dot product is a
  JVM higher-order ``zip_with``/``aggregate`` fold in double precision —
  no Python, no UDF.  Query side is broadcast; the corpus is never
  collected.  Exact and oracle-checkable; O(|queries| × |corpus|).
- :func:`ivf_topk` — IVF-style approximate path: corpus vectors are
  assigned to their nearest centroid (deterministic centroid subset),
  queries probe only the ``nprobe`` nearest centroid buckets.  Cuts the
  scanned fraction to ~``nprobe / num_centroids`` — the 100 TB path —
  at some recall cost (results stay exact *within* probed buckets).
- :func:`srp_topk` — sign-random-projection (hyperplane) LSH: banded
  bit signatures bucket the corpus, candidates come from an equi-join
  on (band, value), and only candidates are exactly rescored.  The
  hyperplanes are md5-derived ±1 vectors and the projections are exact
  int64 sums over 10^6-quantized components, so any engine with md5
  can reproduce the buckets bit-for-bit in any evaluation order.
- :func:`semantic_dedup` — SemDeDup-shaped near-duplicate pruning
  (Abbas et al. 2023, arXiv:2303.09540): cluster by nearest centroid,
  then within each cluster drop every vector that has a smaller-id
  cluster-mate with cosine ≥ τ.

Norms are precomputed once per side.  Scores are rounded to 6 digits and
ties broken by neighbor id, making ranking deterministic across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ...cache import _plan_key, derived_key, persist_slot


def _as_double(v: Column) -> Column:
    return F.transform(v, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))


def _np_round_half_up(S, ndigits: int):
    """``floor(x·10^d + 0.5) / 10^d`` — numpy rounding that matches
    Spark/DuckDB ``round()`` (HALF_UP) for POSITIVE values, where
    ``np.round``'s half-even diverges on exact .5 ties (dyadic ratios
    can hit them — see SRP_QUANT_SCALE).  Only positive values are ever
    threshold-compared or emitted by the cosine kernels (thresholds are
    > 0), so the positive-only agreement suffices; negative ties round
    toward +inf here vs away-from-zero in SQL, documented not hidden."""
    import numpy as np

    p = 10.0**ndigits
    return np.floor(S * p + 0.5) / p


def _prepared(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col).alias("vid"),
        _as_double(F.col(vec_col)).alias("v"),
    ).withColumn("nrm", _norm(F.col("v")))


#: Knuth's multiplicative hash — the ONE deterministic corpus-subset pick
#: every quantizer seed (IVF, SemDeDup, PQ, balance/negative pools) uses;
#: a single definition so the tiers can never drift on the pick.
CENT_HASH_MULT = 2654435761


def hash_pick(c: DataFrame, n: int) -> DataFrame:
    """``n`` prepared rows minimizing ``(vid·2654435761) mod 2³¹`` with
    vid tie-break — TakeOrderedAndProject, no global sort, no RNG."""
    h = F.pmod(F.col("vid").cast("long") * F.lit(CENT_HASH_MULT), F.lit(2147483648))
    return c.orderBy(h.asc(), F.col("vid").asc()).limit(n)


def hash_pick_centroids(c: DataFrame, n: int) -> DataFrame:
    """:func:`hash_pick` projected to the centroid contract
    ``(cid, cv, cnrm)``."""
    return hash_pick(c, n).select(
        F.col("vid").alias("cid"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Exact cosine top-k neighbors of each query vector over the corpus.

    ``queries`` — subset frame with the same id/vec columns (broadcast).
    Self-matches (same id) are excluded.  Output:
    ``q_id, nn_id, score, rank``.
    """
    c = _prepared(corpus, id_col, vec_col)
    q = _prepared(queries, id_col, vec_col).select(
        F.col("vid").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    score = F.round(_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), ndigits)
    scored = (
        c.join(F.broadcast(q), F.col("qid") != F.col("vid"))
        .select(
            F.col("qid").alias("q_id"),
            F.col("vid").alias("nn_id"),
            score.alias("score"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("nn_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def neardup_pairs(
    df: DataFrame,
    *,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
    nblocks: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(id_a < id_b, cosine)``
    for every pair with rounded cosine ≥ ``threshold``.  Exact (full
    O(N²) semantics) — the ground truth the approximate paths
    (``ivf_topk``, SimHash blocking) are measured against.

    Executed as a **blocked matrix product**: ids are partitioned into
    ``nblocks`` residue blocks, each unordered block pair is shuffled to
    one task via a cogrouped ``applyInPandas``, and the task computes its
    cosine sub-matrix with one Arrow-batched numpy GEMM.  Compared to a
    pairwise non-equi join this moves O(N·nblocks) rows instead of
    O(N²/2) and replaces ~d interpreted lambda evals per pair with BLAS —
    ~20× faster at sf0.1 and the only all-pairs shape that survives a
    large corpus (per-task memory is bounded by (N/nblocks)² — raise
    ``nblocks`` ∝ N to hold block size constant).
    """
    import numpy as np
    import pandas as pd

    def side() -> DataFrame:
        # each call re-aliases from `df`, giving the two cogroup sides
        # DISTINCT attribute ids — sharing one projection makes the
        # analyzer unify left/right attributes and prune the right side's
        # vid/v out of the plan (self-cogroup ambiguity), which silently
        # empties results under count()-style downstream pruning
        return df.select(
            F.col(id_col).alias("vid"),
            F.col(vec_col).alias("v"),
            F.pmod(F.col(id_col), F.lit(nblocks)).cast("int").alias("blk"),
        )

    # replicate so every unordered block pair (bi <= bj) cogroups exactly
    # once: A-side rows fan out to (blk, bj >= blk), B-side to (bi <= blk)
    a = side().withColumn(
        "bj", F.explode(F.sequence(F.col("blk"), F.lit(nblocks - 1)))
    ).select(F.col("blk").alias("bi"), "bj", "vid", "v")
    b = side().withColumn(
        "bi", F.explode(F.sequence(F.lit(0), F.col("blk")))
    ).select("bi", F.col("blk").alias("bj"), "vid", "v")

    def gemm(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="int64"),
                "id_b": pd.Series(dtype="int64"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        # a side with no rows for this key can arrive as a 0-column frame
        if len(left) == 0 or len(right) == 0 or "v" not in left or "v" not in right:
            return empty
        A = np.asarray(left["v"].tolist(), dtype=np.float64)
        B = np.asarray(right["v"].tolist(), dtype=np.float64)
        A /= np.linalg.norm(A, axis=1, keepdims=True)
        B /= np.linalg.norm(B, axis=1, keepdims=True)
        S = _np_round_half_up(A @ B.T, ndigits)
        ii, jj = np.nonzero(S >= threshold)
        if not len(ii):
            return empty
        ia = left["vid"].to_numpy()[ii]
        ib = right["vid"].to_numpy()[jj]
        if key[0] == key[1]:  # diagonal block: dedupe + drop self-pairs
            keep = ia < ib
            ia, ib, jjii = ia[keep], ib[keep], (ii[keep], jj[keep])
        else:  # off-diagonal: each unordered pair appears once — orient it
            jjii = (ii, jj)
            ia, ib = np.minimum(ia, ib), np.maximum(ia, ib)
        return pd.DataFrame({"id_a": ia, "id_b": ib, "cosine": S[jjii]})

    return (
        a.groupBy("bi", "bj")
        .cogroup(b.groupBy("bi", "bj"))
        .applyInPandas(gemm, "id_a long, id_b long, cosine double")
    )


def srp_signs(nbits: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 hyperplane matrix for sign-random-projection LSH.

    Component (p, d) is +1 when the first hex digit of ``md5("{p}_{d}")``
    is < 8, else -1 — a fair coin any engine with md5 can flip
    identically (the DuckDB oracle recomputes the same signs in SQL).
    """
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[0], 16) < 8
            else -1.0
            for d in range(dim)
        ]
        for p in range(nbits)
    ]


#: Component quantization scale for SRP projections.  Quantization is
#: ``floor(x * 10^6 + 0.5)`` — ONE explicit rounding convention spelled
#: out identically on both engines (numpy here, ``floor(.. + 0.5)`` in
#: the DuckDB oracle), because engine-default rounding genuinely
#: diverges on exact .5 boundaries: a dyadic rational CAN land on one
#: (x = 2^-7 gives 7812.5), where numpy ``rint`` rounds half-even
#: (7812) and DuckDB ``round`` half-away (7813) — a one-bit signature
#: flip between engines.  ``floor+0.5`` has no tie case at all.
SRP_QUANT_SCALE = 1_000_000


def _srp_band_udf(signs: list[list[float]], band_bits: int):
    """Vectorized signature kernel: per row, the packed band values of the
    quantized integer projections.

    The projection is ``Σ_d ±round(x_d · 10^6)`` in int64 — an exact,
    fully associative sum, so the result is bit-identical under ANY
    evaluation order: numpy GEMM here, ``list_sum`` in the DuckDB oracle,
    any partitioning on a cluster.  (The previous float-fold formulation
    pinned a left-to-right order and was interpreted per element inside
    Spark's HOF evaluator — ~3 s for 2 000×64 at sf0.1; the Arrow-batched
    int64 GEMM is milliseconds and *stronger* on determinism.)
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.array(signs, dtype=np.int64).T  # (dim, nbits), entries ±1
    nbits = P.shape[1]
    if nbits % band_bits:
        # a silent floor-division here would drop the trailing partial
        # band — losing candidates/recall with no error
        raise ValueError(f"band_bits={band_bits} must divide nbits={nbits}")
    nbands = nbits // band_bits
    weights = 1 << np.arange(band_bits, dtype=np.int64)

    # NOTE: no type annotations on the kernel — the module's
    # ``from __future__ import annotations`` turns them into strings that
    # pandas_udf cannot resolve against its local imports
    @pandas_udf("array<long>")
    def bands(vec):
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        V = np.stack(vec.to_numpy()).astype(np.float64)
        # floor(x*scale + 0.5): the tie-free convention shared with the
        # SQL oracle — see SRP_QUANT_SCALE
        Q = np.floor(V * SRP_QUANT_SCALE + 0.5).astype(np.int64)
        bits = (Q @ P) >= 0  # (n, nbits)
        vals = np.stack(
            [
                (bits[:, b * band_bits : (b + 1) * band_bits] * weights).sum(axis=1)
                for b in range(nbands)
            ],
            axis=1,
        )
        return pd.Series(list(vals))

    return bands


def srp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    nbits: int = 16,
    band_bits: int = 4,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Approximate cosine top-k via banded hyperplane-LSH signatures.

    A vector's ``nbits``-bit signature is split into ``nbits/band_bits``
    bands; query and corpus rows that agree on ANY full band become
    candidate pairs (OR-amplification), and only candidates are exactly
    rescored.  Band width tunes selectivity: a band collides with
    probability (1 - θ/π)^band_bits, so 4-bit bands keep recall on
    moderately-similar pairs (cos 0.5 → ~20%/band) while 8-bit bands
    suit high-threshold near-dup mining (cos 0.95 → ~77%/band, near
    zero for unrelated pairs).  Unlike :func:`ivf_topk` (coarse geometric buckets), SRP
    buckets by angle, so recall concentrates on the high-cosine pairs a
    dedup/retrieval pipeline cares about.

    100 TB shape: signatures are a per-row map — an Arrow-batched int64
    GEMM over quantized components (see :func:`_srp_band_udf`; exact and
    order-independent, so the buckets are reproducible on any engine or
    partitioning); candidates come from an equi-join on (band, value) —
    shuffle ∝ matching pairs, never all-pairs; the rescore touches
    candidates only.  Queries with no collision in any band return no
    rows (the approximate contract).
    """
    d = dim
    if d is None:
        d = len(corpus.select(vec_col).first()[0])  # 1-row scalar read
    signs = srp_signs(nbits, d)
    band_udf = _srp_band_udf(signs, band_bits)

    # each prepared (normalized) side feeds TWO consumers — the
    # banded signature explode and the exact rescore — so both are
    # persist-slot-pinned (optimization r12, guide §2.4): the r11
    # scan audit showed 4 embeddings scans; pinning makes it one
    # materialization per side.  Same lifetime contract as the
    # ivf/annrecall prepared pins.
    cp = persist_slot(
        "embedsim.srp.prepared_corpus",
        _prepared(corpus, id_col, vec_col),
        key=derived_key(_plan_key(corpus), "srp.prep", id_col, vec_col),
    )
    qp = persist_slot(
        "embedsim.srp.prepared_queries",
        _prepared(queries, id_col, vec_col),
        key=derived_key(_plan_key(queries), "srp.prep.q", id_col, vec_col),
    )

    def with_bands(p: DataFrame, id_alias: str) -> DataFrame:
        return p.select(
            F.col("vid").alias(id_alias),
            F.posexplode(band_udf(F.col("v"))).alias("band", "val"),
        )

    c_sig = with_bands(cp, "vid")
    q_sig = with_bands(qp, "qid")
    cand = (
        q_sig.join(c_sig, ["band", "val"])
        .filter(F.col("qid") != F.col("vid"))
        .select("qid", "vid")
        .distinct()
    )
    c = cp
    q = qp.select(
        F.col("vid").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    score = F.round(
        _dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), ndigits
    )
    scored = (
        cand.join(c, "vid")
        .join(F.broadcast(q), "qid")
        .select(F.col("qid").alias("q_id"), F.col("vid").alias("nn_id"), score.alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("nn_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def semantic_dedup(
    corpus: DataFrame,
    *,
    threshold: float = 0.7,
    num_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
    max_cluster_rows: int = 4096,
) -> DataFrame:
    """SemDeDup-shaped semantic dedup: cluster every vector to its
    nearest deterministic centroid, then within each cluster drop any
    vector with a smaller-id cluster-mate at cosine ≥ ``threshold``.

    Output: ``vec_id, cluster, kept, dropped_by`` (-1 when kept).  The
    min-id dominator rule replaces SemDeDup's keep-closest-to-centroid
    so the result is totally deterministic and SQL-expressible.

    100 TB shape: one shuffle keys every vector by its cluster, and each
    cluster's pair search is a single Arrow-batched numpy GEMM inside a
    grouped ``applyInPandas`` — **no embedding arrays ride any join**
    (the previous formulation self-joined ``assigned`` on cluster with
    full vectors on both sides: Σ|cluster|·dim shuffle and interpreted
    HOF dot products over Σ|cluster|² pairs).

    **Bounded task memory, enforced**: the grouped kernel's per-task
    memory is |cluster|², and nothing guarantees the caller grew
    ``num_centroids`` ∝ N — a skewed corpus can hand one task a
    mega-cluster.  Clusters above ``max_cluster_rows`` are therefore
    routed AUTOMATICALLY through the residue-blocked kernel of
    :func:`neardup_pairs`, keyed by (cluster, block pair) with
    per-cluster ``nblocks = ceil(n / max_cluster_rows)``: per-task
    memory is capped at ~(2·``max_cluster_rows``)² regardless of
    cluster size, at O(n·nblocks) extra row movement for the oversized
    clusters only.  Both paths produce the identical min-id-dominator
    verdict (same normalization, same rounded GEMM, min over the same
    pair set), so the split is invisible in the output — the oracle
    twin states the semantics once, unblocked.  When no cluster exceeds
    the cap, one max-aggregate over the cluster counts short-circuits
    the blocked branch entirely, so the common sized-correctly case
    pays only the grouped kernel (the r5 1.75× scaffolding tax is
    gone); the aggregate warms the assignment slot cache the kernel
    reuses.
    """
    import numpy as np
    import pandas as pd

    c = _prepared(corpus, id_col, vec_col)
    centroids = hash_pick_centroids(c, num_centroids)
    assigned = persist_slot(
        "embedsim.semdedup.assigned",
        _assign_nearest(c, centroids, "cluster", ndigits).drop("nrm"),
        key=derived_key(
            _plan_key(c), "semdedup.assigned", num_centroids, ndigits
        ),
    )
    counts = assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("__n"))

    def dominate(pdf: pd.DataFrame) -> pd.DataFrame:
        # sort by id so "min dominating id" = first True down each column
        pdf = pdf.sort_values("vid")
        ids = pdf["vid"].to_numpy()
        V = np.asarray(pdf["v"].tolist(), dtype=np.float64)
        V /= np.linalg.norm(V, axis=1, keepdims=True)
        S = _np_round_half_up(V @ V.T, ndigits)
        mask = np.triu(S >= threshold, k=1)  # rows i < cols j, id_i < id_j
        has = mask.any(axis=0)
        first = mask.argmax(axis=0)  # first dominating row per column
        dropped_by = np.where(has, ids[first], -1)
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": pdf["cluster"].to_numpy(),
                "kept": ~has,
                "dropped_by": dropped_by,
            }
        )

    # Short-circuit: when NO cluster exceeds the cap (the common case —
    # callers that size num_centroids ∝ N never route the big branch),
    # one cheap max-aggregate over the already-persisted assignment
    # avoids paying the blocked-branch scaffolding (counts broadcast
    # join + an empty cogroup's full shuffle machinery) as a standing
    # tax.  The aggregate materializes `assigned`'s slot cache, which
    # the kernel pass below reuses — the action costs a cluster-count
    # rollup, not a second corpus scan.
    max_n_row = counts.agg(F.max("__n").alias("mx")).collect()
    max_n = max_n_row[0]["mx"] if max_n_row and max_n_row[0]["mx"] is not None else 0
    if max_n <= max_cluster_rows:
        return assigned.groupBy("cluster").applyInPandas(
            dominate, "vec_id long, cluster long, kept boolean, dropped_by long"
        )

    small = (
        assigned.join(F.broadcast(counts.filter(F.col("__n") <= max_cluster_rows)), "cluster")
        .drop("__n")
    )
    small_out = small.groupBy("cluster").applyInPandas(
        dominate, "vec_id long, cluster long, kept boolean, dropped_by long"
    )

    # -- oversized clusters: residue-blocked dominator search ------------
    big_counts = counts.filter(F.col("__n") > max_cluster_rows).withColumn(
        "__nb", F.ceil(F.col("__n") / F.lit(max_cluster_rows)).cast("int")
    )

    def big_side() -> DataFrame:
        # fresh ALIASED select per side: each alias mints new attribute
        # ids, so the self-cogroup's two sides can't collide in the
        # analyzer (see neardup_pairs.side for the failure mode)
        return (
            assigned.select(
                F.col("cluster").alias("cluster"),
                F.col("vid").alias("vid"),
                F.col("v").alias("v"),
            )
            .join(F.broadcast(big_counts.select("cluster", "__nb")), "cluster")
            .withColumn("blk", F.pmod(F.col("vid"), F.col("__nb")).cast("int"))
        )

    a = big_side().withColumn(
        "bj", F.explode(F.sequence(F.col("blk"), F.col("__nb") - 1))
    ).select("cluster", F.col("blk").alias("bi"), "bj", "vid", "v")
    b = big_side().withColumn(
        "bi", F.explode(F.sequence(F.lit(0), F.col("blk")))
    ).select("cluster", "bi", F.col("blk").alias("bj"), "vid", "v")

    # sentinel above any real id (ids are < 2^31 per the packed-argmax
    # contract): a row whose min over all blocks stays at the sentinel
    # had no dominator anywhere — which lets the diagonal block emit one
    # "presence" row per member and a single min-aggregate produce the
    # verdict WITHOUT rejoining `assigned` (no extra corpus-sized join
    # in the plan; vectors never leave the cogroup tasks)
    _NO_DOM = 1 << 62

    def gemm_dom(key, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "cluster": pd.Series(dtype="int64"),
                "vid": pd.Series(dtype="int64"),
                "dom": pd.Series(dtype="int64"),
            }
        )
        parts = []
        diag = key[1] == key[2]
        if diag and len(left) and "vid" in left:
            parts.append(
                pd.DataFrame(
                    {
                        "cluster": np.full(len(left), key[0], dtype=np.int64),
                        "vid": left["vid"].to_numpy(),
                        "dom": np.full(len(left), _NO_DOM, dtype=np.int64),
                    }
                )
            )
        if (
            len(left) and len(right) and "v" in left and "v" in right
        ):
            A = np.asarray(left["v"].tolist(), dtype=np.float64)
            B = np.asarray(right["v"].tolist(), dtype=np.float64)
            A /= np.linalg.norm(A, axis=1, keepdims=True)
            B /= np.linalg.norm(B, axis=1, keepdims=True)
            S = _np_round_half_up(A @ B.T, ndigits)
            ii, jj = np.nonzero(S >= threshold)
            if len(ii):
                ia = left["vid"].to_numpy()[ii]
                ib = right["vid"].to_numpy()[jj]
                keep = ia != ib  # diagonal carries self-pairs; min-agg
                ia, ib = ia[keep], ib[keep]  # dedupes (i,j)/(j,i)
                parts.append(
                    pd.DataFrame(
                        {
                            "cluster": np.full(len(ia), key[0], dtype=np.int64),
                            "vid": np.maximum(ia, ib),
                            "dom": np.minimum(ia, ib),
                        }
                    )
                )
        return pd.concat(parts, ignore_index=True) if parts else empty

    big_out = (
        a.groupBy("cluster", "bi", "bj")
        .cogroup(b.groupBy("cluster", "bi", "bj"))
        .applyInPandas(gemm_dom, "cluster long, vid long, dom long")
        .groupBy("cluster", "vid")
        .agg(F.min("dom").alias("__dom"))
        .select(
            F.col("vid").alias("vec_id"),
            "cluster",
            (F.col("__dom") == _NO_DOM).alias("kept"),
            F.when(F.col("__dom") == _NO_DOM, F.lit(-1))
            .otherwise(F.col("__dom"))
            .alias("dropped_by"),
        )
    )
    return small_out.unionByName(big_out)


def _assign_nearest(
    c: DataFrame, centroids: DataFrame, out_col: str, ndigits: int
) -> DataFrame:
    """Each (vid, v, nrm) row joined to its single nearest centroid
    (rounded cosine, cid tie-break) — the shared assignment step of IVF
    bucketing, SemDeDup clustering, and Lloyd refinement.

    The argmax is a ``groupBy(vid).max(key)`` over ONE order-preserving
    long — NOT a row_number window (which shuffles every candidate row,
    vectors included: ×num_centroids the bytes, plus a sort) and NOT
    ``max_by(cid, struct(...))`` (a TypedImperativeAggregate that drops
    ObjectHashAggregate to its sort-based fallback beyond 128 groups —
    measured slower than the window).  The key packs the 6-digit-rounded
    similarity (already exact at 1e-6 granularity, so the integer form
    ``floor(csim·10^6 + 0.5)`` is faithful) with the negated centroid id:
    ``(s6 + 10^6)·2^32 + (2^31 - 1 - cid)`` — plain long ``max`` is
    whole-stage-codegen with map-side partial aggregation, and decoding
    the winner back out of the max is exact.  Ordering equals the
    window's (csim DESC, cid ASC); cid is unique so no ties.  Vectors
    never enter the aggregation — they rejoin on vid afterwards (a
    1×-sized shuffle instead of num_centroids×)."""
    sim = F.round(
        _dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")), ndigits
    )
    s6 = F.floor(F.col("csim") * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    # the packed key is faithful ONLY for cid in [0, 2^31) — a wider or
    # negative id would bleed into the similarity field and silently
    # corrupt the argmax, so out-of-range ids fail the job instead
    # (map 64-bit/negative ids to a dense surrogate before calling)
    cid_ok = F.when(
        (F.col("cid") < 0) | (F.col("cid") >= F.lit(1 << 31)),
        F.raise_error(
            F.lit("packed-argmax assignment requires centroid ids in [0, 2^31)")
        ).cast("long"),
    ).otherwise(F.col("cid"))
    key = (s6 + F.lit(1_000_000)) * F.lit(1 << 32) + (
        F.lit((1 << 31) - 1) - cid_ok
    )
    best = (
        c.select("vid", "v", "nrm")
        .join(F.broadcast(centroids))
        .withColumn("csim", sim)
        .select("vid", key.alias("__key"))
        .groupBy("vid")
        .agg(F.max("__key").alias("__best"))
        .select(
            "vid",
            (F.lit((1 << 31) - 1) - F.pmod(F.col("__best"), F.lit(1 << 32))).alias(
                out_col
            ),
        )
    )
    return c.join(best, "vid").select("vid", "v", "nrm", out_col)


def kmeans_refine(
    c: DataFrame,
    centroids: DataFrame,
    *,
    iters: int = 2,
    ndigits: int = 6,
    sample_frac: float | None = None,
) -> DataFrame:
    """Lloyd refinement of a centroid frame, deterministic across engines
    and partitionings.

    The update step is the subtle part: a naive float mean over cluster
    members depends on summation order, which differs between Spark's
    shuffle aggregation and any SQL oracle.  Instead each component is
    quantized to int64 with the SRP convention (``floor(x·10^6 + 0.5)``,
    tie-free), summed EXACTLY (integer addition is associative — any
    engine, any partitioning, same result), and divided once:
    ``centroid[d] = Σ q(x_d) / (n · 10^6)`` — one IEEE division of
    identical operands on every engine.  Empty clusters keep their
    previous centroid.  The loop is pure plan construction (no driver
    actions): ``iters`` is small and fixed, so the DAG stays shallow and
    a SQL twin can unroll the same iterations as CTEs.

    ``sample_frac``: refine on a deterministic md5-threshold sample of
    the corpus (the faiss convention — centroid TRAINING needs only a
    statistical sample, final ASSIGNMENT still sees every vector).  At
    N vectors and i iterations this cuts the refinement scans from i·N
    to i·frac·N rows; the sample predicate is the engine-portable
    ``substr(md5('kmeans' || id), 1, 8) < threshold_hex`` string
    compare, so the SQL twin trains on the identical subset.
    """
    if sample_frac is not None:
        from .curation import sample_threshold_hex

        pred = F.substring(
            F.md5(F.concat(F.lit("kmeans"), F.col("vid").cast("string"))), 1, 8
        ) < F.lit(sample_threshold_hex(sample_frac))
        c = c.filter(pred)
    for _ in range(iters):
        assigned = _assign_nearest(c, centroids, "cid", ndigits)
        q = assigned.select(
            "cid",
            F.posexplode(
                F.transform(
                    F.col("v"),
                    lambda x: F.floor(x * SRP_QUANT_SCALE + F.lit(0.5)).cast("long"),
                )
            ).alias("pos", "qx"),
        )
        sums = q.groupBy("cid", "pos").agg(
            F.sum("qx").alias("s"), F.count(F.lit(1)).alias("n")
        )
        upd = sums.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
                lambda st: st["s"] / (st["n"] * F.lit(float(SRP_QUANT_SCALE))),
            ).alias("new_cv")
        )
        upd = upd.withColumn("new_cnrm", _norm(F.col("new_cv")))
        centroids = (
            centroids.join(upd, "cid", "left")
            .select(
                "cid",
                F.coalesce("new_cv", "cv").alias("cv"),
                F.coalesce("new_cnrm", "cnrm").alias("cnrm"),
            )
        )
    return centroids


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    refine_iters: int = 0,
    refine_sample_frac: float | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Approximate cosine top-k: probe only the ``nprobe`` nearest of
    ``num_centroids`` IVF buckets per query.

    Centroids are a deterministic pseudo-random subset of the corpus: the
    ``num_centroids`` vectors minimizing a multiplicative hash of their id
    (Knuth's 2654435761 mod 2^31) — a plain ``ORDER BY hash LIMIT k``
    that Spark executes as ``TakeOrderedAndProject`` (per-partition top-k,
    no global sort, no driver-side ``count()``), and that any SQL engine
    can replicate exactly.  No RNG, reproducible; a k-means refinement can
    replace the centroid choice without touching the probe/search dataflow.

    Centroid similarities are rounded to ``ndigits`` before the argmax so
    bucket assignment is stable across engines/float orderings.
    ``refine_iters`` > 0 runs that many deterministic Lloyd iterations
    (:func:`kmeans_refine`) seeded from the hash-selected subset —
    centroids move to actual cluster means, tightening buckets and
    raising recall at equal ``nprobe`` without touching the probe/search
    dataflow.
    """
    c = _prepared(corpus, id_col, vec_col)
    if refine_iters:
        # the prepared corpus feeds one assignment pass per Lloyd
        # iteration plus the final bucket assignment — cache it rather
        # than re-scanning + re-norming per pass (caller-owned lifetime,
        # as elsewhere)
        c = persist_slot("embedsim.ivf.prepared", c)
    centroids = hash_pick_centroids(c, num_centroids)
    if refine_iters:
        centroids = kmeans_refine(
            c,
            centroids,
            iters=refine_iters,
            ndigits=ndigits,
            sample_frac=refine_sample_frac,
        )
        # the refined centroid frame is tiny (num_centroids rows) but its
        # plan embeds refine_iters full passes over the sampled corpus,
        # and it feeds TWO broadcast consumers (bucket assignment + query
        # probing) — pin it so Lloyd executes once, not once per consumer
        centroids = persist_slot("embedsim.ivf.centroids", centroids)
    # assign every corpus vector to its single nearest centroid
    assigned = _assign_nearest(c, centroids, "bucket", ndigits)
    # each query probes its nprobe nearest centroids
    q = _prepared(queries, id_col, vec_col).select(
        F.col("vid").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    q_centroid_sim = F.round(
        _dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm")), ndigits
    )
    w_probe = Window.partitionBy("qid").orderBy(F.col("csim").desc(), F.col("cid").asc())
    probes = (
        q.join(F.broadcast(centroids))
        .withColumn("csim", q_centroid_sim)
        .withColumn("__rn", F.row_number().over(w_probe))
        .filter(F.col("__rn") <= nprobe)
        .select("qid", "qv", "qnrm", F.col("cid").alias("bucket"))
    )
    score = F.round(_dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")), ndigits)
    scored = (
        assigned.join(F.broadcast(probes), on="bucket")
        .filter(F.col("qid") != F.col("vid"))
        .select(
            F.col("qid").alias("q_id"), F.col("vid").alias("nn_id"), score.alias("score")
        )
    )
    w_rank = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("nn_id").asc())
    return scored.withColumn("rank", F.row_number().over(w_rank)).filter(
        F.col("rank") <= k
    )


def cluster_balanced_sample(
    corpus: DataFrame,
    *,
    cap: int,
    num_centroids: int = 16,
    seed: str = "balance",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Topic-balanced subset selection: cluster every vector to its
    nearest deterministic centroid (the shared rounded-cosine argmax)
    and keep at most ``cap`` per cluster, chosen by salted-md5 rank —
    the embedding-space complement of ``curation.stratified_sample``
    (which balances on EXPLICIT metadata; this balances on latent
    topics, the SemDeDup/SSL-curation recipe for keeping one web-scale
    topic from dominating a training mix).

    Scale shape: one broadcast assignment pass + one window rank keyed
    by cluster — a single shuffle; caps bound each cluster's
    contribution regardless of its raw size.

    Output: ``vec_id, cluster, rank`` (rank ≤ cap within cluster).
    """
    c = _prepared(corpus, id_col, vec_col)
    centroids = hash_pick_centroids(c, num_centroids)
    assigned = _assign_nearest(c, centroids, "cluster", ndigits)
    h = F.md5(F.concat(F.lit(seed), F.col("vid").cast("string")))
    w = Window.partitionBy("cluster").orderBy(h.asc(), F.col("vid").asc())
    return (
        assigned.select("vid", "cluster")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= cap)
        .select(F.col("vid").alias(id_col), "cluster", "rank")
    )


def contrastive_negatives(
    corpus: DataFrame,
    *,
    k_neg: int = 4,
    pool_per_cluster: int = 4,
    num_centroids: int = 16,
    seed: str = "negatives",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Deterministic cluster-aware negative mining for contrastive
    training pairs: every vector gets ``k_neg`` negatives drawn from
    OTHER clusters — the standard recipe for building (anchor, negative)
    pairs that are semantically distinct but not trivially so (negatives
    from the anchor's own cluster would be false negatives; uniform
    random negatives are mostly too easy — cluster-stratified pools sit
    between).

    Determinism without per-pair corpus hashing: each cluster publishes
    a ``pool_per_cluster``-row candidate pool (salted-md5 rank within
    cluster — bounded, broadcastable); an anchor's candidate set is the
    union of all OTHER clusters' pools (≤ (C−1)·P rows), ranked by a
    second salted hash of the (anchor, candidate) pair.  Per-anchor work
    is O(C·P) regardless of corpus size — the property that makes this
    runnable where ranking all N² pairs is not.

    Output: ``vec_id, neg_id, neg_cluster, rank`` (rank ≤ k_neg).
    """
    from ...cache import _plan_key, derived_key

    c = _prepared(corpus, id_col, vec_col)
    centroids = hash_pick_centroids(c, num_centroids)
    # the (vid, cluster) frame feeds BOTH the pool build and the anchor
    # side of the candidate join — pin it or the corpus-sized assignment
    # pipeline executes twice per action
    assigned = persist_slot(
        "embedsim.negatives.assigned",
        _assign_nearest(c, centroids, "cluster", ndigits).select("vid", "cluster"),
        key=derived_key(
            _plan_key(c), "negatives.assigned", num_centroids, ndigits
        ),
    )
    pool_h = F.md5(F.concat(F.lit(seed + ":pool"), F.col("vid").cast("string")))
    w_pool = Window.partitionBy("cluster").orderBy(pool_h.asc(), F.col("vid").asc())
    pool = (
        assigned.withColumn("__rk", F.row_number().over(w_pool))
        .filter(F.col("__rk") <= pool_per_cluster)
        .select(F.col("vid").alias("neg_id"), F.col("cluster").alias("neg_cluster"))
    )
    pair_h = F.md5(
        F.concat(
            F.lit(seed + ":pair"),
            F.col("vid").cast("string"),
            F.lit(":"),
            F.col("neg_id").cast("string"),
        )
    )
    w_pick = Window.partitionBy("vid").orderBy(pair_h.asc(), F.col("neg_id").asc())
    return (
        assigned.join(
            F.broadcast(pool), F.col("cluster") != F.col("neg_cluster")
        )
        .withColumn("rank", F.row_number().over(w_pick))
        .filter(F.col("rank") <= k_neg)
        .select(F.col("vid").alias(id_col), "neg_id", "neg_cluster", "rank")
    )

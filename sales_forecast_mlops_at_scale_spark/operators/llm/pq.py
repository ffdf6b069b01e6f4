"""Product quantization (PQ) for embedding compression + ADC search
(Jégou et al. 2011, "Product Quantization for Nearest Neighbor Search")
— the memory tier under IVF in every production 100 TB vector stack
(faiss IVFPQ): a D-dim float vector becomes M codebook indices (one byte
each at K ≤ 256; 4 bits at the fixture's K=16), a 16× compression at
the fixture geometry, and query
scan cost drops from D multiplies per vector to M table lookups.

Determinism/oracle contract (house conventions):

- Codewords are a hash-selected corpus subset — the same Knuth
  multiplicative-hash ``ORDER BY LIMIT`` used for IVF centroids
  (TakeOrderedAndProject, no RNG); :func:`embedsim.kmeans_refine` can
  slot in per subspace exactly as it does for IVF.
- Sub-distances are left-to-right float folds (``F.aggregate`` here,
  ``list_sum`` comprehensions in the oracle — identical association, so
  bit-identical doubles), quantized to 10^-6 integer fixed point with
  the tie-free ``floor(x·10^6 + 0.5)`` convention.
- Encoding argmin and ADC ranking order by the QUANTIZED integer with
  codeword/id tie-breaks — no float comparisons cross the engine
  boundary anywhere.

Scale shape:

- **Codebook**: K corpus rows → M·K sub-codewords, Lloyd-refined with
  bounded state (assignments never leave the executors; the update is a
  map-side-combinable quantized sum into M·K·(D/M) cells); broadcast
  everywhere.
- **Encode**: explode each vector into M subvectors (M× row fan-out of
  D/M-wide rows — same bytes as the input), broadcast-join the
  codebook, and take the per-(vector, subspace) argmin as a ``min(
  struct(d_fp, cid))`` hash aggregate — map-side combinable, no window,
  no corpus-sized shuffle of full vectors.
- **ADC search**: the query×codebook distance table (Q·M·K rows) is
  broadcast; candidate scoring is codes ⋈ table on (subspace, code) —
  M small integer rows per (query, vector) — then an exact integer sum
  and ``TakeOrderedAndProject``-style top-k.  The corpus side ships
  only its codes: the whole search runs without touching a float
  vector, which is the entire point of PQ at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ...cache import _plan_key, derived_key, persist_slot, track_keyless
from .embedsim import SRP_QUANT_SCALE, _prepared

#: Fixture geometry: 64-dim vectors → 32 subspaces × 2 dims, 16 codewords
#: per subspace = 4 bits each, 16 B/vector (16× vs float32).  Chosen by a
#: measured recall sweep on the near-orthogonal fixtures: (M=8,K=16) 0.05,
#: (16,16) 0.225, (32,16) 0.575 at sf0.1 — unstructured data needs fine
#: subspaces; clustered production embeddings run coarser (M=8..16,K=256).
PQ_M = 32
PQ_K = 16


def _subspaces(df: DataFrame, *, m: int, vec_col: str = "v") -> DataFrame:
    """Explode ``(…, v)`` into ``(…, m, sv)`` sub-vector rows.  Dims must
    divide evenly by ``m`` — enforced per row with ``raise_error`` (the
    same guard class as ``embedsim._srp_band_udf``'s nbits/band_bits
    check); a silent non-divisible slice would drift subspace boundaries
    and drop trailing dims with no symptom but degraded recall.

    The M-wide struct array is built as ONE ``F.expr`` SQL string, not M
    ``F.struct``/``F.slice`` Column calls: each Column operation is a
    py4j round trip, and the per-Column form cost ~500 driver→JVM
    messages per call site — measured ~1 s of pure socket latency per
    ``pq_codebook`` invocation (the "cold index build" the r4 bench
    flagged was mostly this, not cluster work).  Same analyzed plan
    either way."""
    d_sub = F.when(
        F.size(F.col(vec_col)) % m == 0,
        (F.size(F.col(vec_col)) / m).cast("int"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"PQ subspaces: dim must divide by m={m}, got "),
                F.size(F.col(vec_col)).cast("string"),
            )
        ).cast("int")
    )
    subs_sql = (
        "array("
        + ",".join(
            f"struct({i} AS m,"
            f" slice(`{vec_col}`, {i} * __dsub + 1, __dsub) AS sv)"
            for i in range(m)
        )
        + ")"
    )
    return (
        df.withColumn("__dsub", d_sub)
        .withColumn("__s", F.explode(F.expr(subs_sql)))
        .select(
            *[c for c in df.columns if c != vec_col],
            F.col("__s.m").alias("m"),
            F.col("__s.sv").alias("sv"),
        )
    )


def _sqdist_fp(a, b, d_sub: int | None = None):
    """floor(‖a−b‖²·10^6 + 0.5) as int64 — a left-to-right sum matching
    the oracle's ``list_sum`` comprehension association exactly.

    With ``d_sub`` (the statically-known subvector width) the sum is
    UNROLLED into plain arithmetic; the higher-order-function fold is
    the dynamic-width fallback.  Measured head-to-head at the fixture
    geometry (d_sub=2, 2.56M-row encode join) the two are EQUIVALENT
    (~0.18 s either way — the join/aggregate dominates at this width;
    wider subvectors or HOF-interpreting engines are where the unroll
    pays).  The two forms are bit-identical: the fold's ``0.0 + t1``
    seed equals ``t1`` for the non-negative squared terms (IEEE +0
    identity), so either can serve either call site."""
    if d_sub is not None:
        terms = [
            (a.getItem(i) - b.getItem(i)) * (a.getItem(i) - b.getItem(i))
            for i in range(d_sub)
        ]
        sq = terms[0]
        for t in terms[1:]:
            sq = sq + t
    else:
        sq = F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    return F.floor(sq * F.lit(SRP_QUANT_SCALE) + F.lit(0.5)).cast("long")


#: Packed-argmin radix: key = d_fp · 2³¹ + cid orders exactly like
#: (d_fp ASC, cid ASC), and min(long) stays inside whole-stage codegen
#: with map-side partial aggregation — min(struct(...)) falls back to a
#: SortAggregate that sorts the full M·K-way join output (measured 6–9 s
#: per Lloyd iteration at sf0.1 vs ~1 s packed).  Valid while
#: d_fp < 2³², guaranteed at every call site: unit-sphere subvectors
#: give per-subspace ‖a−b‖² ≤ 4 (d_fp ≤ 4·10⁶), and the IVF-PQ
#: residual sites have both sides of norm ≤ 2, so ‖a−b‖² ≤ 16
#: (d_fp ≤ 1.6·10⁷) — both orders of magnitude under the 2³² ceiling.
#: cid must sit in [0, 2³¹) — guarded with raise_error below, the same
#: contract (and remedy: map 64-bit/negative ids to a dense surrogate)
#: as ``embedsim._assign_nearest``'s packed argmax.
_PACK = 1 << 31


def _pack_key(d_fp, cid):
    cid_ok = F.when(
        (cid < 0) | (cid >= F.lit(_PACK)),
        F.raise_error(
            F.lit("packed argmin requires codeword ids in [0, 2^31)")
        ).cast("long"),
    ).otherwise(cid)
    return d_fp * F.lit(_PACK) + cid_ok


def _argmin_code(scored: DataFrame, group_cols: list[str]) -> DataFrame:
    """``group_cols + [cid]`` rows: per group, the cid minimizing the
    packed ``__k = d_fp·2³¹ + cid`` key."""
    return (
        scored.groupBy(*group_cols)
        .agg(F.min("__k").alias("__k"))
        .select(*group_cols, (F.col("__k") % _PACK).cast("long").alias("cid"))
    )


def _unit(df: DataFrame) -> DataFrame:
    """(vid, v) with v unit-normalized: PQ quantizes DIRECTIONS so the
    L2-based ADC ranking matches the exact tier's cosine ranking
    (‖a−b‖² = 2 − 2·cos(a,b) on the unit sphere).  Without this, ADC
    orders by raw L2, which disagrees with cosine whenever vector
    magnitudes vary (the fixtures happen to be near-equal-norm, so the
    correctness argument, not a fixture measurement, motivates it)."""
    return df.select(
        "vid", F.transform("v", lambda x: x / F.col("nrm")).alias("v")
    )


def pq_codebook(
    corpus: DataFrame,
    *,
    m: int = PQ_M,
    k: int = PQ_K,
    refine_iters: int = 2,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(m, cid, cv)`` sub-codewords: seeded from the K hash-selected
    corpus vectors (IVF's deterministic pick) split into M subspaces,
    then ``refine_iters`` per-subspace L2 Lloyd iterations — PQ codebooks
    are k-means codebooks per subspace (Jégou et al. §II).  Training is
    what makes the quantizer: measured recall@5 at sf0.1 (M=32, K=16)
    is 0.30 seeded → 0.525 after one iteration → 0.575 at two
    (plateau) — on par with the IVF tier's 0.588 at 16× compression."""
    from .embedsim import hash_pick

    c = _unit(_prepared(corpus, id_col, vec_col))
    base = _plan_key(c)
    cw = hash_pick(c, k).select("vid", "v")
    cb = _subspaces(cw, m=m).select(
        "m", F.col("vid").alias("cid"), F.col("sv").alias("cv")
    )
    if refine_iters:
        # sub feeds the assignment join AND the per-iteration subvector
        # rejoin — pinned, or the corpus-wide subspace explode replays
        # twice per Lloyd iteration
        sub = persist_slot(
            "pq.sub",
            _subspaces(c, m=m),
            key=derived_key(base, "sub", m) if base else None,
        )
        cb = pq_refine(
            sub,
            cb,
            iters=refine_iters,
            d_sub=dim // m if dim else None,
            key=derived_key(base, "pq.cb", m, k, dim),
        )
    return cb


def pq_refine(
    sub: DataFrame,
    codebook: DataFrame,
    *,
    iters: int = 2,
    d_sub: int | None = None,
    key: tuple[int, str] | None = None,
    slot_prefix: str = "pq.refine",
) -> DataFrame:
    """Per-subspace L2 Lloyd refinement of a PQ codebook, deterministic
    across engines/partitionings — the PQ analogue of
    :func:`embedsim.kmeans_refine` and the same arithmetic discipline:
    assignment orders by the 10^-6-quantized squared distance with
    codeword-id tie-break; the update step sums ``floor(x·10^6 + 0.5)``-
    quantized components EXACTLY in int64 and divides once, so the new
    codewords are bit-identical on any engine and the SQL twin unrolls
    the same iterations as CTEs.  Empty cells keep their previous
    codeword.  Pure plan construction — no driver actions; each
    iteration's codebook (M·K tiny rows) is pinned in its own slot
    because the plan references its predecessor in BOTH the assignment
    and the coalesce — unpinned, evaluation cost doubles per iteration
    (the ivf kmeans_refine tolerates this at 2 iterations over raw
    vectors; the PQ refinement sits on an M·K-times-larger join, where
    the replay was the measured dominant cost)."""
    for it in range(iters):
        scored = sub.join(F.broadcast(codebook), "m").select(
            "vid",
            "m",
            _pack_key(
                _sqdist_fp(F.col("sv"), F.col("cv"), d_sub), F.col("cid")
            ).alias("__k"),
        )
        # packed argmin (see _PACK): no arrays ride the shuffle; the
        # subvectors rejoin on (vid, m) — one row each side
        assigned = _argmin_code(scored, ["vid", "m"]).join(
            sub.select("vid", "m", "sv"), ["vid", "m"]
        ).select("m", "cid", "sv")
        if d_sub is not None:
            # static width: per-component quantized sums in ONE codegen
            # hash aggregate — the dynamic path below needs a
            # posexplode + two chained groupBys (explode, per-(cell,pos)
            # sum, collect_list reassembly), three shuffles of the same
            # information; identical arithmetic either way (same exact
            # int64 component sums, same single division, array order
            # fixed by component index = the sorted-pos order)
            sums = assigned.groupBy("m", "cid").agg(
                *[
                    F.sum(
                        F.floor(
                            F.col("sv").getItem(i) * SRP_QUANT_SCALE + F.lit(0.5)
                        ).cast("long")
                    ).alias(f"__s{i}")
                    for i in range(d_sub)
                ],
                F.count(F.lit(1)).alias("__n"),
            )
            upd = sums.select(
                "m",
                "cid",
                F.array(
                    *[
                        F.col(f"__s{i}")
                        / (F.col("__n") * F.lit(float(SRP_QUANT_SCALE)))
                        for i in range(d_sub)
                    ]
                ).alias("ncv"),
            )
        else:
            q = assigned.select(
                "m",
                "cid",
                F.posexplode(
                    F.transform(
                        F.col("sv"),
                        lambda x: F.floor(x * SRP_QUANT_SCALE + F.lit(0.5)).cast(
                            "long"
                        ),
                    )
                ).alias("pos", "qx"),
            )
            sums = q.groupBy("m", "cid", "pos").agg(
                F.sum("qx").alias("s"), F.count(F.lit(1)).alias("n")
            )
            upd = sums.groupBy("m", "cid").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "s", "n"))),
                    lambda st: st["s"] / (st["n"] * F.lit(float(SRP_QUANT_SCALE))),
                ).alias("ncv")
            )
        stepped = codebook.join(upd, ["m", "cid"], "left").select(
            "m", "cid", F.coalesce("ncv", "cv").alias("cv")
        )
        if key is not None:
            codebook = persist_slot(
                f"{slot_prefix}.it{it}", stepped, key=derived_key(key, "it", it)
            )
        else:
            # keyless: registry-tracked persist — slot keying would fall
            # back to _plan_key over the Lloyd-unrolled tree, the exact
            # driver-side traversal derived_key exists to avoid.  Every
            # iteration must stay pinned until the final codebook is
            # evaluated (eager unpersist-previous would void the cache —
            # nothing materializes until the terminal action), so
            # lifetime is owned by the registry: clear_slots() releases
            # these instead of leaking one frame per iteration per call.
            codebook = track_keyless(stepped)
    return codebook


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    *,
    m: int = PQ_M,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(vid, m, code)`` PQ codes: per (vector, subspace), the codeword
    minimizing the quantized squared distance (codeword-id tie-break) —
    a ``min(struct(d_fp, cid))`` hash aggregate, map-side combinable."""
    sub = _subspaces(_unit(_prepared(corpus, id_col, vec_col)), m=m)
    scored = sub.join(F.broadcast(codebook), "m").select(
        "vid",
        "m",
        _pack_key(
            _sqdist_fp(F.col("sv"), F.col("cv"), dim // m if dim else None),
            F.col("cid"),
        ).alias("__k"),
    )
    # packed argmin — codegen hash aggregate, not a struct SortAggregate
    return _argmin_code(scored, ["vid", "m"]).select(
        "vid", "m", F.col("cid").alias("code")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    m: int = PQ_M,
    n_codewords: int = PQ_K,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 0,
) -> DataFrame:
    """Asymmetric-distance top-``k``: exact query-to-codeword distance
    tables, corpus side represented ONLY by its codes.

    Output: ``q_id, nn_id, adist, rank`` — ``adist`` is the fixed-point
    ADC squared distance / 10^6 (ascending = nearer), ranked with nn-id
    tie-break; the query itself is excluded.  With ``rerank = R > 0``
    the top-``R`` ADC candidates are re-ranked by exact cosine against
    the raw vectors (:func:`_exact_rerank`; output ``q_id, nn_id,
    score, rank``) — the same IndexRefineFlat tail the IVF-PQ tier uses.
    """
    codebook = pq_codebook(
        corpus, m=m, k=n_codewords, dim=dim, id_col=id_col, vec_col=vec_col
    )
    # the PACKED code table IS the stored index (a production deployment
    # materializes it as the compressed corpus representation); pinning
    # it makes repeated searches touch only integer code rows, which is
    # PQ's whole point — without it every query re-runs the M·K-way
    # encode join over the float vectors.  Packed one-row-per-vector
    # (optimization r13, see _packed_codes): the ADC scan is a fan-out-
    # free broadcast join + inline fold instead of an M-way joined
    # explosion re-summed through a corpus-sized exchange.
    codes = persist_slot(
        "pq.codes",
        _packed_codes(
            pq_encode(
                corpus, codebook, m=m, dim=dim, id_col=id_col, vec_col=vec_col
            ),
            m,
            ["vid"],
        ),
        key=derived_key(
            _plan_key(corpus), "pq.codes.packed", m, n_codewords, dim,
            id_col, vec_col,
        ),
    )
    q_unit = _unit(_prepared(queries, id_col, vec_col)).select(
        F.col("vid").alias("qid"), "v"
    )
    if dim:
        lut = _lut_direct(q_unit, codebook, m, dim // m, ["qid"])
    else:
        dtable = _subspaces(q_unit, m=m).join(F.broadcast(codebook), "m").select(
            "qid",
            "m",
            F.col("cid").alias("code"),
            _sqdist_fp(F.col("sv"), F.col("cv"), None).alias("d_fp"),
        )
        lut = _packed_lut(dtable, m, ["qid"])
    # flat PQ scans every candidate per query by design: Q LUT maps ×
    # the packed corpus, one output row per (query, candidate) — the
    # old form produced M rows per pair and re-aggregated them
    scored = (
        codes.crossJoin(F.broadcast(lut))
        .filter(F.col("qid") != F.col("vid"))
        .select("qid", "vid", _adc_sum().alias("s_fp"))
    )
    if rerank:
        q = _prepared(queries, id_col, vec_col).select(
            F.col("vid").alias("qid"), "v", "nrm"
        )
        return _exact_rerank(
            scored,
            q,
            _prepared(corpus, id_col, vec_col),
            k=k,
            rerank=rerank,
            ndigits=6,
        )
    w = Window.partitionBy("qid").orderBy(F.col("s_fp").asc(), F.col("vid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("q_id"),
            F.col("vid").alias("nn_id"),
            F.round(F.col("s_fp") / F.lit(SRP_QUANT_SCALE), 6).alias("adist"),
            "rank",
        )
    )


def _packed_codes(codes: DataFrame, m: int, group_cols: list[str]) -> DataFrame:
    """One row per vector: the M per-subspace code rows packed into an
    array of ``code·m + subspace`` int64 lookup keys (optimization r13).

    The ADC scorer previously joined the code rows against the broadcast
    distance table on ``(…, m, code)`` — an M-way fan-out of the scored
    row count (every (query, candidate) pair became M joined rows) that
    then had to be re-summed by a ``groupBy(qid, vid)`` whose exchange
    carried the full fan-out (codes are laid out by (vid, bucket, m), so
    map-side partial aggregation cannot combine one pair's M rows
    locally).  Packing the codes once per index turns the scorer into a
    fan-out-free join + an inline integer fold over the M keys (guide
    §2.3 "shuffle fewer bytes" / §2.4 "remove shuffles outright"): the
    scored-row count drops M× and the corpus-sized re-aggregation
    exchange disappears.  ``array_sort`` on ``struct(m, code)`` orders by
    subspace; int64 sums are order-independent, so the fold is exactly
    the old ``sum(d_fp)``."""
    return codes.groupBy(*group_cols).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "code"))),
            lambda s: s["code"].cast("long") * F.lit(m) + s["m"],
        ).alias("__ck")
    )


def _packed_lut(dtable: DataFrame, m: int, group_cols: list[str]) -> DataFrame:
    """Distance-table rows packed into one ``map<code·m + subspace →
    d_fp>`` per group (the query, or (query, bucket)) — the broadcast
    side of the packed ADC scorer.  Exactly M·K entries per group by
    construction (the table is the full subspaces × codewords cross
    product), so every packed code key hits.  Dynamic-width fallback:
    :func:`_lut_direct` builds the same map without the explode / join /
    re-aggregation when the subvector width is statically known."""
    return dtable.groupBy(*group_cols).agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("code").cast("long") * F.lit(m) + F.col("m")).alias(
                        "k"
                    ),
                    F.col("d_fp").alias("v"),
                )
            )
        ).alias("__lut")
    )


def _lut_direct(
    qframe: DataFrame, codebook: DataFrame, m: int, d_sub: int,
    group_cols: list[str],
) -> DataFrame:
    """The per-query ADC lookup map computed INLINE against the packed
    broadcast codebook — the static-width twin of :func:`_packed_lut`.

    ``qframe`` carries one row per query (or (query, probed bucket))
    with the full residual/unit vector ``v``; the codebook's M·K rows
    are collected into ONE array-of-structs row and cross-broadcast, so
    each query row computes its whole distance table in a single codegen
    projection: ``map<cid·m + subspace → d_fp>``.  The old shape
    (explode to M subvector rows → join the codebook → re-aggregate
    M·K rows per query back into one group) paid a query-side exchange
    and an M·K-way join fan-out per evaluation for the same arithmetic
    (guide §2.4).  Each entry's ``d_fp`` is ``_sqdist_fp`` over
    ``slice(v, m·d_sub + 1, d_sub)`` — the exact expression
    :func:`_subspaces` produces, so the fixed-point distances are
    bit-identical to the exploded form."""
    cbp = codebook.agg(F.collect_list(F.struct("m", "cid", "cv")).alias("__cb"))
    return qframe.crossJoin(F.broadcast(cbp)).select(
        *group_cols,
        F.map_from_entries(
            F.transform(
                "__cb",
                lambda e: F.struct(
                    (e["cid"].cast("long") * F.lit(m) + e["m"]).alias("k"),
                    _sqdist_fp(
                        F.slice(
                            "v", e["m"] * F.lit(d_sub) + F.lit(1), d_sub
                        ),
                        e["cv"],
                        d_sub,
                    ).alias("v"),
                ),
            )
        ).alias("__lut"),
    )


#: Inline ADC sum over packed codes: Σ_m lut[ck[m]] as an exact int64
#: fold — identical to sum(d_fp) over the old M joined rows (int64
#: addition is associative/commutative and every key hits by
#: construction; a miss would raise under ANSI rather than corrupt).
def _adc_sum():
    return F.aggregate(
        "__ck",
        F.lit(0).cast("long"),
        lambda acc, kk: acc + F.element_at("__lut", kk),
    )


def _exact_rerank(
    scored: DataFrame,
    q: DataFrame,
    vectors: DataFrame,
    *,
    k: int,
    rerank: int,
    ndigits: int,
) -> DataFrame:
    """Shared IndexRefineFlat tail for both PQ tiers: ADC top-``rerank``
    candidates per query (``scored`` = ``qid, vid, s_fp``), final
    top-``k`` by exact cosine against the raw ``vectors`` frame.  The
    candidate list is Q·R id rows broadcast to the vectors table — the
    corpus-side join is shuffle-free.  Output: ``q_id, nn_id, score,
    rank`` (exact-tier contract)."""
    from .embedsim import _dot

    w = Window.partitionBy("qid").orderBy(F.col("s_fp").asc(), F.col("vid").asc())
    cand = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= rerank)
        .select("qid", "vid")
    )
    qv = q.select("qid", F.col("v").alias("qv"), F.col("nrm").alias("qnrm"))
    exact = (
        vectors.join(F.broadcast(cand), "vid")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            "vid",
            F.round(
                _dot(F.col("qv"), F.col("v")) / (F.col("qnrm") * F.col("nrm")),
                ndigits,
            ).alias("score"),
        )
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vid").asc())
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("q_id"),
            F.col("vid").alias("nn_id"),
            "score",
            "rank",
        )
    )


def ivfpq_centroids(
    c: DataFrame, *, num_centroids: int = 16
) -> DataFrame:
    """Coarse quantizer from a prepared ``(vid, v, nrm)`` frame — the
    shared :func:`embedsim.hash_pick_centroids` pick."""
    from .embedsim import hash_pick_centroids

    return hash_pick_centroids(c, num_centroids)


def _unit_centroids(centroids: DataFrame) -> DataFrame:
    return centroids.select(
        F.col("cid").alias("bucket"),
        F.transform("cv", lambda x: x / F.col("cnrm")).alias("ucv"),
    )


def ivfpq_residuals(
    c: DataFrame, centroids: DataFrame, *, ndigits: int = 6
) -> DataFrame:
    """``(vid, bucket, v)`` unit-sphere residuals ``u(x) − u(centroid)``
    after coarse assignment (rounded-cosine argmax, id tie-break) — the
    single definition both the batch operator and the streaming ingest
    compose, so their indexes can never drift."""
    from .embedsim import _assign_nearest

    assigned = _assign_nearest(c, centroids, "bucket", ndigits)
    ucent = _unit_centroids(centroids)
    return (
        assigned.select(
            "vid", "bucket", F.transform("v", lambda x: x / F.col("nrm")).alias("uv")
        )
        .join(F.broadcast(ucent), "bucket")
        .select(
            "vid", "bucket", F.zip_with("uv", "ucv", lambda a, b: a - b).alias("v")
        )
    )


def ivfpq_train_codebook(
    resid: DataFrame,
    *,
    m: int = PQ_M,
    n_codewords: int = PQ_K,
    refine_iters: int = 2,
    d_sub: int | None = None,
    key: tuple[int, str] | None = None,
    slot_prefix: str = "pq.ivfpq.refine",
) -> DataFrame:
    """Residual PQ codebook: hash-picked seeds + per-subspace Lloyd.

    The seed pick uses a DIFFERENT multiplicative constant than the
    coarse pick (xxhash's second prime): with the same hash the seeds
    would be exactly the centroid ids, whose residuals are all-zero
    vectors — a degenerate codebook of identical codewords."""
    seed_hash = F.pmod(
        F.col("vid").cast("long") * F.lit(2246822519), F.lit(2147483648)
    )
    seeds = (
        resid.orderBy(seed_hash.asc(), F.col("vid").asc())
        .limit(n_codewords)
        .select("vid", "v")
    )
    cb = _subspaces(seeds, m=m).select(
        "m", F.col("vid").alias("cid"), F.col("sv").alias("cv")
    )
    if refine_iters:
        cb = pq_refine(
            _subspaces(resid.select("vid", "v"), m=m).select("vid", "m", "sv"),
            cb,
            iters=refine_iters,
            d_sub=d_sub,
            key=derived_key(key, "cb") if key else None,
            slot_prefix=slot_prefix,
        )
    return cb


def ivfpq_encode(
    resid: DataFrame,
    codebook: DataFrame,
    *,
    m: int = PQ_M,
    d_sub: int | None = None,
) -> DataFrame:
    """``(vid, bucket, m, code)`` residual PQ codes — the ENTIRE stored
    index (the caller pins it as a slot or writes it as a table)."""
    enc = _subspaces(resid.select("vid", "bucket", "v"), m=m).join(
        F.broadcast(codebook), "m"
    ).select(
        "vid",
        "bucket",
        "m",
        _pack_key(
            _sqdist_fp(F.col("sv"), F.col("cv"), d_sub), F.col("cid")
        ).alias("__k"),
    )
    # packed argmin — codegen hash aggregate, not a struct SortAggregate
    return _argmin_code(enc, ["vid", "bucket", "m"]).select(
        "vid", "bucket", "m", F.col("cid").alias("code")
    )


def ivfpq_search(
    q: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame,
    codes: DataFrame,
    *,
    k: int = 5,
    nprobe: int = 4,
    m: int = PQ_M,
    d_sub: int | None = None,
    ndigits: int = 6,
    vectors: DataFrame | None = None,
    rerank: int = 0,
    codes_packed: bool = False,
) -> DataFrame:
    """ADC search against an IVF-PQ index given as frames (slot-pinned
    by :func:`ivfpq_topk`, or parquet tables read back by
    :func:`streaming.vector_ingest.search_materialized` — one dataflow,
    two storage backings).  ``q`` is a prepared ``(qid, v, nrm)`` frame.

    ``codes`` is the ``(vid, bucket, m, code)`` table, or — with
    ``codes_packed=True`` — the :func:`_packed_codes` form ``(vid,
    bucket, __ck)`` (one row per vector, M packed lookup keys), which a
    long-lived serving tier pins once so repeat searches skip even the
    packing pass.  Unpacked codes are packed per evaluation AFTER a
    broadcast semi-join against the probed buckets, so the packing
    exchange carries only probed-bucket rows — strictly fewer bytes
    than the old scorer's fan-out exchange (which carried
    Q·|probed codes|·M rows; the packing carries |probed codes| rows
    with no Q multiplier).

    Each query probes its ``nprobe`` nearest buckets; candidates are the
    probed buckets' code rows; ranking is the exact integer ADC sum.
    Output: ``q_id, nn_id, adist, rank`` (query id excluded).

    **Exact re-rank** (faiss ``IndexRefineFlat``): with ``rerank = R > 0``
    and ``vectors`` (a prepared ``(vid, v, nrm)`` raw-vector frame —
    the corpus in the batch operator, the ``{root}/vectors`` table in the
    materialized index), ADC selects the top-``R`` candidates per query
    and the final top-``k`` is re-ranked by EXACT cosine against the raw
    vectors.  This is the standard compound-recall fix: PQ distortion no
    longer decides the final order, only which R candidates are
    considered (measured at sf0.1: recall@5 0.20 ADC-only → 0.725 with
    R=50/nprobe=8).  Scale shape: the candidate list is Q·R id rows —
    broadcast to the vectors table, so the corpus-side join is
    shuffle-free and touches only R·Q full vectors, not the corpus.
    Output in re-rank mode: ``q_id, nn_id, score, rank`` (cosine,
    descending — same contract as the exact tier)."""
    qsim = F.round(
        F.aggregate(
            F.zip_with("v", "cv", lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x
        )
        / (F.col("nrm") * F.col("cnrm")),
        ndigits,
    )
    w_probe = Window.partitionBy("qid").orderBy(
        F.col("csim").desc(), F.col("cid").asc()
    )
    # the probes join already carries cv/cnrm, so the query residual
    # u(q) − u(centroid) is computed in the SAME projection instead of
    # re-joining _unit_centroids on bucket (optimization r12; one
    # broadcast join fewer per search, elementwise arithmetic identical:
    # v/nrm − cv/cnrm in both forms)
    qresid = (
        q.join(F.broadcast(centroids))
        .withColumn("csim", qsim)
        .withColumn("__rn", F.row_number().over(w_probe))
        .filter(F.col("__rn") <= nprobe)
        .select(
            "qid",
            F.col("cid").alias("bucket"),
            F.zip_with(
                F.transform("v", lambda x: x / F.col("nrm")),
                F.transform("cv", lambda x: x / F.col("cnrm")),
                lambda a, b: a - b,
            ).alias("v"),
        )
    )
    if d_sub is not None:
        # static width: the whole per-(query, bucket) distance table in
        # one codegen projection against the packed broadcast codebook
        lut = _lut_direct(qresid, codebook, m, d_sub, ["qid", "bucket"])
    else:
        dtable = (
            _subspaces(qresid, m=m)
            .join(F.broadcast(codebook), "m")
            .select(
                "qid",
                "bucket",
                "m",
                F.col("cid").alias("code"),
                _sqdist_fp(F.col("sv"), F.col("cv"), d_sub).alias("d_fp"),
            )
        )
        lut = _packed_lut(dtable, m, ["qid", "bucket"])
    if codes_packed:
        packed = codes
    else:
        # probed-bucket semi-join BEFORE the packing groupBy: only
        # probed buckets' code rows enter the packing exchange (the
        # O(probed) contract the per-micro-batch ingest dedup depends
        # on; with nprobe ≪ √N coarse cells this is a small corpus
        # fraction at any scale)
        probed = qresid.select("bucket").distinct()
        packed = _packed_codes(
            codes.join(F.broadcast(probed), "bucket", "left_semi"),
            m,
            ["vid", "bucket"],
        )
    # fan-out-free ADC (optimization r13, see _packed_codes): one output
    # row per (query, probed candidate) with the integer ADC sum folded
    # inline — no M-way join explosion, no corpus-sized re-aggregation
    # exchange
    scored = (
        packed.join(F.broadcast(lut), "bucket")
        .filter(F.col("qid") != F.col("vid"))
        .select("qid", "vid", _adc_sum().alias("s_fp"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("s_fp").asc(), F.col("vid").asc())
    if rerank:
        if vectors is None:
            # a silent fall-through to ADC-only output would ALSO switch
            # the output schema (adist vs score) — fail loudly instead
            raise ValueError(
                "ivfpq_search(rerank>0) requires the raw `vectors` frame"
            )
        return _exact_rerank(
            scored, q, vectors, k=k, rerank=rerank, ndigits=ndigits
        )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias("q_id"),
            F.col("vid").alias("nn_id"),
            F.round(F.col("s_fp") / F.lit(SRP_QUANT_SCALE), 6).alias("adist"),
            "rank",
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    m: int = PQ_M,
    n_codewords: int = PQ_K,
    refine_iters: int = 2,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
    rerank: int = 0,
) -> DataFrame:
    """IVF-PQ with residual encoding — faiss's ``IndexIVFPQ``, the layout
    every 100 TB vector deployment actually ships: a coarse quantizer
    (IVF buckets, cosine argmax over unit vectors) partitions the
    corpus; each vector stores only its bucket id + the PQ codes of its
    RESIDUAL ``x − centroid(bucket)`` (Jégou et al. §IV; residuals span
    a far tighter cell than raw vectors, so the same code budget
    quantizes much finer).  A query probes its ``nprobe`` nearest
    buckets and ranks candidates by ADC over per-(query, bucket)
    residual distance tables.

    Composed entirely from the shared :func:`ivfpq_residuals` /
    :func:`ivfpq_train_codebook` / :func:`ivfpq_encode` /
    :func:`ivfpq_search` dataflows (the streaming ingest composes the
    same four against parquet-backed tables).  The index-side slots are
    keyed WITHOUT ``k``/``nprobe`` — those shape only the search, so
    re-querying with different search parameters must reuse, not
    rebuild, the pinned index.

    Output: ``q_id, nn_id, adist, rank`` (query excluded).
    """
    idx_key = derived_key(
        _plan_key(corpus),
        "ivfpq.idx", num_centroids, m, n_codewords,
        refine_iters, dim, id_col, vec_col, ndigits,
    )
    # the prepared (normalized) corpus feeds the centroid pick, the
    # residual pass, every Lloyd leg of the codebook trainer, and the
    # optional re-rank — pin it once (the q_ann_recall_all fix applied
    # at the source; r9's audit saw 9 embeddings scans here).  In-session
    # training reads its corpus repeatedly by nature; the serving shape
    # (ivfpq_search over materialized tiers) never pays this.
    c = persist_slot(
        "pq.ivfpq.prepared",
        _prepared(corpus, id_col, vec_col),
        key=derived_key(idx_key, "prepared") if idx_key else None,
    )
    centroids = ivfpq_centroids(c, num_centroids=num_centroids)
    resid = persist_slot(
        "pq.ivfpq.resid",
        ivfpq_residuals(c, centroids, ndigits=ndigits),
        key=derived_key(idx_key, "resid") if idx_key else None,
    )
    d_sub = dim // m if dim else None
    cb = ivfpq_train_codebook(
        resid,
        m=m,
        n_codewords=n_codewords,
        refine_iters=refine_iters,
        d_sub=d_sub,
        key=idx_key,
    )
    if not refine_iters:
        cb = persist_slot(
            "pq.ivfpq.codebook",
            cb,
            key=derived_key(idx_key, "cb.seed") if idx_key else None,
        )
    # the stored index is the PACKED code table (optimization r13, see
    # _packed_codes): one row per vector, pinned once per corpus — every
    # search is then a fan-out-free broadcast join + inline ADC fold
    codes = persist_slot(
        "pq.ivfpq.codes",
        _packed_codes(
            ivfpq_encode(resid, cb, m=m, d_sub=d_sub), m, ["vid", "bucket"]
        ),
        key=derived_key(idx_key, "codes.packed") if idx_key else None,
    )
    q = _prepared(queries, id_col, vec_col).select(
        F.col("vid").alias("qid"), "v", "nrm"
    )
    return ivfpq_search(
        q, centroids, cb, codes,
        k=k, nprobe=nprobe, m=m, d_sub=d_sub, ndigits=ndigits,
        vectors=c if rerank else None, rerank=rerank, codes_packed=True,
    )

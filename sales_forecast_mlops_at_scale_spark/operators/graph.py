"""Iterative graph algorithms as DataFrame loops: PageRank.

The engine's iterative-computation pattern (the same shape as
``operators/llm/cluster.py``'s label propagation): a driver-side ``for``
loop over a bounded iteration count, each step a join + aggregation the
optimizer plans as ordinary shuffles.  No GraphX/RDDs — rank state is a
(node, rank) DataFrame, edges a (src, dst, w) DataFrame.

Exact integer fixed-point arithmetic
------------------------------------
Classic float PageRank sums per-node contributions, and float addition
is not associative — the result depends on partition/summation order,
which differs run to run and engine to engine.  Instead ranks are scaled
integers (``scale = 1e12``): every step is integer multiply / integer
divide / integer sum, all exact and order-independent, so the iteration
is bit-reproducible on ANY cluster layout and hash-matches a DuckDB
oracle running the identical recurrence (unrolled CTE per iteration).
The truncation introduced by integer division is ≤ 1 ulp of the scale
per edge — i.e. a deterministic 1e-12-grade quantization, far below any
ranking-relevant signal.

    r_0(v)     = scale // N
    r_{k+1}(v) = (15 * (scale // N)) // 100
               + (85 * Σ_{u→v} (r_k(u) * w(u,v)) // W(u)) // 100

(dangling mass is dropped — every node in the intended graphs has
out-edges; the oracle replicates the same convention).

Scale notes: edges (+ out-weight) are persisted — they feed every
iteration, and without the persist each iteration's branch would rescan
and re-join the fact tables.  Each iteration is one shuffle-join of the
rank frame (N rows) against edges plus one groupBy; at web scale you
would checkpoint the rank frame every few iterations to truncate
lineage, exactly as cluster.py does for label propagation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import _plan_key, derived_key, persist_slot

SCALE = 10**12


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 10,
    scale: int = SCALE,
    src: str = "src",
    dst: str = "dst",
    w: str = "w",
    persist: bool = True,
    broadcast_edges: bool = False,
) -> DataFrame:
    """(node, rank) after ``iterations`` exact integer PageRank steps over
    weighted ``edges``; rank is the 1e12-scaled integer (sum ≈ scale).

    ``broadcast_edges`` pins the CONSTANT weighted-edge table as the
    broadcast build side of every iteration's join (guide §3.1 — pick
    the strategy deliberately): Spark then reuses ONE broadcast exchange
    across all iterations and the evolving rank frame is streamed, never
    collected/re-broadcast per step.  Only for graphs whose edge
    aggregate is bounded (e.g. a key-domain-bounded graph such as
    nation×nation); the default keeps the scale-safe shuffle join."""
    # the slots key on the edges' plan key plus every parameter, so the
    # edge plan is walked once rather than once per slot
    key = derived_key(
        _plan_key(edges),
        "pagerank",
        iterations,
        scale,
        src,
        dst,
        w,
        persist,
        broadcast_edges,
    )
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        F.col(w).cast("long").alias("w"),
    )
    if persist:
        e2 = persist_slot("pagerank.edges", e, key=derived_key(key, "edges"))
    else:
        e2 = e
    outw = e2.groupBy("src").agg(F.sum("w").alias("wout"))
    ew = e2.join(outw, "src").select("src", "dst", "w", "wout")
    if persist:
        ew = persist_slot(
            "pagerank.weighted_edges", ew, key=derived_key(key, "ew")
        )
    nodes = (
        e2.select(F.col("src").alias("node"))
        .union(e2.select(F.col("dst").alias("node")))
        .distinct()
    )
    if persist:
        nodes = persist_slot("pagerank.nodes", nodes, key=derived_key(key, "nodes"))
    # node count: a catalog-grade scalar (the init constant needs it
    # on the driver); one tiny job over the persisted node frame
    n = nodes.count()
    init = scale // n
    base = (15 * init) // 100
    ranks = nodes.withColumn("rank", F.lit(init).cast("long"))
    ew_side = F.broadcast(ew) if broadcast_edges else ew
    # densify with `nodes LEFT JOIN contrib` + coalesce(m, 0), NOT a
    # union-of-zero-rows into the groupBy: the contrib groupBy is
    # unique on node, so when downstream consumers never read `rank`
    # (e.g. a bare count over the joined readout) Catalyst's
    # non-duplicating-outer-join elimination prunes the ENTIRE
    # iteration pipeline — a union-based densify pins the row count
    # to the contribution join and forfeits that pruning.  (An r12
    # union-zero variant was measured and reverted for exactly this:
    # identical integer arithmetic, but it disabled left-join
    # elimination and made rank-pruned readouts pay all iterations.)
    for _ in range(iterations):
        contrib = (
            ew_side.join(ranks, ew["src"] == ranks["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.expr("rank * w DIV wout")).alias("m"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(base)
                + F.expr("85 * coalesce(m, 0L) DIV 100").cast("long")
            ).alias("rank"),
        )
    return ranks


def pagerank_sql(
    edges_sql: str,
    *,
    iterations: int = 10,
    scale: int = SCALE,
    tail: str | None = None,
) -> str:
    """The identical recurrence as ANSI SQL (DuckDB oracle twin): the
    iteration count is fixed, so the loop is UNROLLED into one chained
    CTE per step — mechanical, generated, and exactly the arithmetic the
    DataFrame loop performs."""
    parts = [
        f"WITH edges AS ({edges_sql})",
        "outw AS (SELECT src, sum(w) AS wout FROM edges GROUP BY 1)",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        f"consts AS (SELECT CAST({scale} // count(*) AS BIGINT) AS init,"
        f" CAST((15 * ({scale} // count(*))) // 100 AS BIGINT) AS base FROM nodes)",
        "r0 AS (SELECT node, (SELECT init FROM consts) AS rank FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f"r{k} AS (SELECT n.node, CAST((SELECT base FROM consts)"
            f" + (85 * coalesce(s.m, 0)) // 100 AS BIGINT) AS rank"
            f" FROM nodes n LEFT JOIN ("
            f"SELECT e.dst AS node, sum((r.rank * e.w) // o.wout) AS m"
            f" FROM edges e JOIN r{k - 1} r ON r.node = e.src"
            f" JOIN outw o ON o.src = e.src GROUP BY 1) s ON s.node = n.node)"
        )
    final = tail or "SELECT node, rank FROM {r}"
    return ",\n".join(parts) + "\n" + final.format(r=f"r{iterations}")


def triangle_stats(
    pairs: DataFrame,
    *,
    left: str = "id_a",
    right: str = "id_b",
    ndigits: int = 6,
    key: tuple[int, str] | None = None,
) -> DataFrame:
    """Per-vertex triangle count and local clustering coefficient over an
    undirected simple graph given as unique ``left < right`` pairs (the
    contract every in-repo dup-pair producer satisfies — see
    ``cluster.connected_components``).

    Output: ``vertex, degree, triangles, clustering`` where clustering is
    ``2·T / (d·(d−1))`` rounded (0.0 for degree-1 vertices).  On a dedup
    graph this separates tight duplicate cliques (clustering ≈ 1) from
    hub-and-spoke template families (high degree, low clustering) — the
    triage signal for *which* near-dup clusters are safe to auto-collapse.

    Scale shape — degree-ordered orientation (Cohen 2009; the standard
    MapReduce/Spark triangle recipe): every edge is directed from its
    lower-``(degree, id)`` endpoint to the higher one, so each triangle
    is enumerated exactly once from its lowest-degree corner and the
    wedge join fans out by *oriented out-degree*, which is O(√m) even
    when raw degree is power-law — the skew-killer that makes the wedge
    self-join survive web-scale graphs.  Plan: two shuffles to attach
    endpoint degrees, one self-join on the wedge apex, one semi-ish join
    against canonical edges to close wedges, then an explode + groupBy.
    The oriented edge frame feeds three operators, so it is persisted
    (caller-owned lifetime, house convention).
    """
    # ``pairs`` is usually a DEEP plan (the MinHash LSH pipeline), so
    # keying each slot with ``_plan_key`` would walk/canonicalize that
    # whole tree per slot — pass ``key`` (e.g. ``minhash.lsh_pairs_key``)
    # and the slots derive from it instead.
    base = key if key is not None else _plan_key(pairs)

    # the canonical pair set feeds FOUR consumers (degree agg, the
    # orientation join, the wedge-closure join, and — through deg —
    # the final output join); when ``pairs`` is itself an expensive
    # pipeline (MinHash LSH + exact verify), an unpersisted frame
    # re-executes it per consumer.  Materialize once; deg likewise
    # feeds three joins.
    e = persist_slot(
        "graph.triangle.pairs",
        pairs.select(F.col(left).alias("a"), F.col(right).alias("b")),
        key=derived_key(base, "tri.pairs", left, right),
    )
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = persist_slot(
        "graph.triangle.deg",
        sym.groupBy(F.col("a").alias("v")).agg(
            F.count(F.lit(1)).alias("degree")
        ),
        key=derived_key(base, "tri.deg", left, right),
    )
    # orient: src = endpoint with smaller (degree, id); join degrees
    # on both endpoints (da/db), then pick direction
    da = deg.select(F.col("v").alias("a"), F.col("degree").alias("da"))
    db = deg.select(F.col("v").alias("b"), F.col("degree").alias("db"))
    ed = e.join(da, "a").join(db, "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
    )
    oriented = persist_slot(
        "graph.triangle.oriented",
        oriented,
        key=derived_key(base, "tri.oriented", left, right),
    )
    # wedges from a common apex: unordered out-neighbor pairs (v, w)
    o1 = oriented.alias("o1")
    o2 = oriented.alias("o2")
    wedge = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (F.col("o1.dst") < F.col("o2.dst")),
    ).select(
        F.col("o1.src").alias("u"),
        F.col("o1.dst").alias("v"),
        F.col("o2.dst").alias("w"),
    )
    # close the wedge against the canonical (a<b) edge set
    tri = wedge.join(
        e,
        (F.least("v", "w") == F.col("a"))
        & (F.greatest("v", "w") == F.col("b")),
    ).select("u", "v", "w")
    per_v = (
        tri.select(F.explode(F.array("u", "v", "w")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    clustering = F.when(
        F.col("degree") >= 2,
        F.round(
            (2.0 * F.coalesce(F.col("triangles"), F.lit(0)))
            / (F.col("degree") * (F.col("degree") - F.lit(1))),
            ndigits,
        ),
    ).otherwise(F.lit(0.0))
    return deg.join(per_v, "v", "left").select(
        F.col("v").alias("vertex"),
        "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
        clustering.alias("clustering"),
    )

"""Connected components over near-duplicate pair graphs — the step that
turns pairwise dedup output (MinHash/SimHash/Jaccard pairs) into
KEEP/DROP decisions: every doc gets the id of its duplicate-cluster
representative (the minimum doc id in its component).

Algorithm: min-label propagation (the relational core of
large-star/small-star):

    label(v) ← min(label(v), min over neighbors u of label(u))

iterated to fixpoint, with one POINTER-DOUBLING shortcut per burst
(Shiloach–Vishkin / large-star's hooking step in relational form):

    label(v) ← min(label(v), label(label(v)))

Propagation alone needs diameter-many rounds — fine for near-dup blobs
(diameter ≤ 3-4) but a 100 TB dedup graph can contain long chains (CDC
chunk-share chains, crawl rings) where O(diameter) means hundreds of
shuffles AND a silent wrong answer once ``max_iter`` truncates the
walk.  Deep graphs therefore ESCALATE: if the cheap burst loop exhausts
its ``max_iter`` propagation-step budget without converging, the
operator switches to alternating **large-star / small-star contraction**
(Kiveris et al., *Connected Components in MapReduce and Beyond*, SoCC
2014), which rewires the EDGE set itself toward component-min-centered
stars and provably converges in O(log² n) rounds (O(log n) observed) —
property-tested on a shuffled 256-node path.  The shortcut and the
star phase both preserve the unique fixpoint (min id per component):
every rewrite keeps endpoints inside their component and the component
min only ever attracts, so the existing oracle hashes hold verbatim,
and ``max_iter`` stops being a silent correctness ceiling — it now
bounds only the cheap-propagation budget BEFORE escalation.

Each propagation round is one join + one aggregation — entirely
shuffle-based, no driver-side graph; the per-burst shortcut is one
extra labels-vs-labels join (label-frame-sized, smaller than the edge
join).  The per-burst ``count()`` is a 1-row convergence probe, and
``localCheckpoint`` truncates the growing lineage so round N's plan
does not replay rounds 1..N-1.

Deterministic: the fixpoint (min id per component) is unique regardless
of iteration order, so a SQL engine can reproduce it with a recursive
closure — see ``plans/llm_queries._CLUSTER_SQL``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _star_labels(edges: DataFrame, *, max_rounds: int = 64) -> DataFrame:
    """Alternating large-star/small-star contraction (Kiveris et al.
    2014) to the star fixpoint; returns ``(node, label)`` for every node
    of ``edges`` (a SYMMETRIC ``src, dst`` frame).

    Per round, two relational passes over the evolving edge set:

    - **large-star**: per node ``u``, ``m(u) = min(u, min N(u))``;
      every strictly-larger neighbor ``v > u`` is rewired to ``(v,
      m(u))``.  Afterwards every edge points strictly downward.
    - **small-star**: per node ``u`` over its (now all-smaller)
      neighbors, ``m = min N(u)``; each neighbor and ``u`` itself are
      rewired to ``m``.

    Both passes only connect nodes within one component and the
    component min is a fixed attractor, so the fixpoint is the star
    forest centered at component minima — the same labeling
    min-propagation converges to.  Convergence in O(log² n) rounds
    worst-case (paper Thm. 3; O(log n) in practice), each round ~4
    shuffles (two groupBy-min, two distinct) independent of diameter.
    Round frames are lazily localCheckpoint-ed so round N's plan does
    not replay rounds 1..N-1; the stability probe pays one
    ``exceptAll`` on edge frames (bounded: star-phase edge sets only
    shrink toward n-1 rows).
    """
    # node set from BOTH endpoints: with a symmetric input these are
    # equal, but deriving from src alone would silently drop each
    # component's maximum-id node if a caller ever passed raw
    # left<right pairs (ADVICE r6) — the union feeds a distinct that
    # exists either way, so the safety is shuffle-neutral
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    cur = edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    prev_count = None
    stable = False
    for _ in range(max_rounds):
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        large = (
            sym.join(lmins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        nxt = (
            large.join(smins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        n_edges = nxt.count()
        if prev_count == n_edges and nxt.exceptAll(cur).isEmpty():
            cur = nxt
            stable = True
            break
        prev_count = n_edges
        cur = nxt
    if not stable:
        # unreachable for any graph whose O(log² n) round bound fits in
        # max_rounds (64 covers astronomically large n); failing loudly
        # keeps the "never a silent correctness ceiling" contract if an
        # input ever defies that analysis
        raise RuntimeError(
            f"star contraction did not stabilize within {max_rounds} rounds"
        )
    star = cur.select(F.col("u").alias("node"), F.col("v").alias("slabel"))
    return nodes.join(star, "node", "left").select(
        "node", F.coalesce("slabel", F.col("node")).alias("label")
    )


def connected_components(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    *,
    max_iter: int = 20,
) -> DataFrame:
    """Cluster labels for every node appearing in ``pairs``.

    The computed labeling is memoized on (pairs plan + source-file
    digest, params) via :func:`cache.value_memo`: unlike a lazy
    operator, this one runs driver-synced iteration DURING the call, so
    a repeat invocation over identical pairs would replay every burst —
    while the production pattern is cluster once, consume the labels
    many times (KEEP/DROP pass, run report, graph stats).  A memo hit
    returns the already-checkpointed label frame; changed pair inputs
    (new files, different params) miss and recompute.
    """
    from ...cache import _plan_key, derived_key, value_memo

    return value_memo(
        derived_key(_plan_key(pairs), "cc.labels", left, right, max_iter),
        lambda: _connected_components_impl(pairs, left, right, max_iter=max_iter),
        session=pairs.sparkSession,
    )


def _connected_components_impl(
    pairs: DataFrame,
    left: str = "id_a",
    right: str = "id_b",
    *,
    max_iter: int = 20,
) -> DataFrame:
    """Uncached body of :func:`connected_components`.

    Output: ``doc_id, cluster_id`` where ``cluster_id`` is the minimum
    doc id in the node's connected component.  Nodes not in any pair are
    singletons by definition and are NOT emitted (join the full corpus
    with a coalesce-to-self downstream when a total labeling is needed).

    ``max_iter`` budgets the CHEAP min-propagation phase (in steps);
    exhausting it unconverged escalates to star contraction rather than
    truncating — the answer is always the exact component-min labeling,
    ``max_iter`` only tunes where the diameter-independent phase takes
    over.
    """
    edges = pairs.select(F.col(left).alias("src"), F.col(right).alias("dst"))
    # Contract: ``pairs`` rows are unique with left < right (every in-repo
    # producer — minhash/simhash/jaccard/neardup — emits exactly that), so
    # the forward and reversed edge sets are disjoint and already unique:
    # no ``distinct()`` needed.  Duplicate edges would only pad the
    # per-round min-aggregation anyway (min is idempotent), but skipping
    # the dedup saves a full shuffle of the edge set per invocation.
    edges = (
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        # edges join into EVERY round; without pinning, each round's
        # convergence action would replay the full upstream
        # pair-generation pipeline (measured: MinHash-LSH pairs
        # recomputed ~8× → 4s of the 8s runtime).  Lazy: materialized by
        # the first burst's count, reused by every later burst.
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    def step(lbl: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
        neigh = (
            edges.join(lbl, edges.dst == lbl.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        return lbl.join(neigh, lbl.node == neigh.src, "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nlabel", F.col("label"))).alias(
                "label"
            ),
            *keep,
        )

    def shortcut(lbl: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
        # pointer doubling: label(v) ← min(label(v), label(label(v))).
        # Every label value IS a node in `lbl` (labels start as node ids
        # and only ever take other labels' values), so the left join
        # always matches; coalesce guards the invariant defensively.
        l2 = lbl.select(
            F.col("node").alias("s_node"), F.col("label").alias("s_label")
        )
        return lbl.join(l2, lbl.label == l2.s_node, "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce("s_label", F.col("label"))
            ).alias("label"),
            *keep,
        )

    # FOUR propagation steps + ONE pointer-doubling shortcut per driver
    # sync: each burst is pure plan construction ending in ONE lazy
    # localCheckpoint whose materialization rides the convergence
    # ``count()`` itself — so a burst costs exactly one driver action
    # (previous shapes: an EAGER checkpoint + a count = 2 syncs per 2
    # steps, then a whole-burst prev-probe needing a confirmation
    # burst; typical graphs now finish in ONE sync).  A step past the
    # fixpoint is a no-op join over an already-stable tiny label frame,
    # so overshooting the diameter inside a burst is cheaper than
    # syncing to find out.  ``max_iter`` bounds total propagation STEPS
    # but is no longer a silent correctness ceiling — unconverged
    # graphs escalate to star contraction below.  The label entering
    # the final step rides along as ``prelast`` so the convergence
    # probe is a scan of the just-materialized partitions, not another
    # labels-vs-labels shuffle join.
    burst_len = 4
    steps_done = 0
    converged = False
    while steps_done < max_iter:
        burst = min(burst_len, max_iter - steps_done)
        cur = labels.select("node", "label")
        for _ in range(burst - 1):
            cur = step(cur)
        # convergence is detected WITHIN the burst: carry the label
        # entering the final step as ``prelast`` — if the final step and
        # the shortcut both change nothing, propagation is at its
        # neighbor-min fixpoint (monotone: one full no-op step is
        # forever a no-op), so the typical diameter ≤ 3-4 near-dup
        # graph finishes in ONE burst/action where the old
        # whole-burst-prev probe needed a second confirmation burst
        cur = cur.select("node", "label", F.col("label").alias("prelast"))
        cur = step(cur, keep=("prelast",))
        cur = shortcut(cur, keep=("prelast",))
        # lazy checkpoint: lineage truncation + caching happen inside
        # the count() action below — no separate materialization job
        stepped = cur.localCheckpoint(eager=False)
        changed = stepped.filter(F.col("label") != F.col("prelast")).count()
        labels = stepped.select("node", "label")
        steps_done += burst
        if changed == 0:
            converged = True
            break
    if not converged:
        # Deep graph (diameter beyond the ``max_iter`` cheap-propagation
        # budget): star contraction finishes in O(log² n) rounds
        # regardless of diameter, from the ORIGINAL edge set — the
        # partial labels are discarded (the fixpoint is unique,
        # restarting cannot change the answer, and threading the partial
        # state through the star phase would buy at most its first
        # round).
        labels = _star_labels(edges)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def dedup_summary(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Corpus-level dedup report from a near-dup pair frame: the numbers
    a pipeline run publishes after the KEEP/DROP pass.

    One row: ``n_docs, n_clusters, n_clustered_docs, n_dropped,
    max_cluster_size, dup_rate``.  ``n_dropped`` = clustered docs minus
    one kept representative per cluster.

    Shape: components → per-cluster counts (partial-aggregated) → two
    scalar aggregates cross-joined (both 1-row, the join is free);
    nothing corpus-sized leaves an aggregate.
    """
    cc = connected_components(pairs)
    per = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    agg = per.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.coalesce(F.sum("sz"), F.lit(0)).cast("long").alias("n_clustered_docs"),
        F.coalesce(F.max("sz"), F.lit(0)).cast("long").alias("max_cluster_size"),
    )
    return tot.crossJoin(agg).select(
        "n_docs",
        "n_clusters",
        "n_clustered_docs",
        (F.col("n_clustered_docs") - F.col("n_clusters")).alias("n_dropped"),
        "max_cluster_size",
        F.round(
            (F.col("n_clustered_docs") - F.col("n_clusters"))
            / F.greatest(F.col("n_docs"), F.lit(1)),
            6,
        ).alias("dup_rate"),
    )

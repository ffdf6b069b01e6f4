"""Lexical + hybrid retrieval over the documents corpus.

Two operators with DuckDB-oracle-exact semantics:

- :func:`bm25_topk` — Okapi BM25 ranking for a fixed term query, with a
  RATIONAL idf variant (no logarithm): ``idf = (N - df + 0.5)/(df + 0.5)
  + 1``.  As with ``textstats.tfidf_top_terms``, the log is dropped so
  every arithmetic step is IEEE-correctly-rounded (+,-,×,÷ only) and the
  score is bit-identical on any engine; per-term ranking order is
  unchanged under any monotone idf transform at fixed df.  Per-term
  contributions are summed in 10^-6 **integer fixed point** (the
  PageRank trick), so the cross-term sum is order-independent — a
  shuffle-order-proof aggregate, not a rounding hope.
- :func:`hybrid_rrf` — query-by-example hybrid retrieval: given an
  exemplar document, fuse its lexical BM25 ranking (query = the
  exemplar's 5 lexicographically-smallest distinct tokens — a
  deterministic keyword extraction both engines can replay) with its
  dense cosine ranking (query = the exemplar's embedding) via
  reciprocal-rank fusion.  RRF contributions are **integer**:
  ``10^9 div (rrf_k + rank)`` — exact, order-independent, no floats at
  all in the fusion stage.

Scale shape (both): tokenize → explode → filter to the query's terms
*before* any shuffle (the per-term frames are tiny), two map-side
combinable groupBys, broadcast joins for the term/df sides, corpus-sized
work bounded to one pass over (doc, matched-term) pairs.  Top-k compiles
to TakeOrderedAndProject; the rank window runs on ≤ k rows.

The reference has no search surface (its queries are key lookups,
SURVEY.md §2.10); this family is part of the beyond-reference
training-data/retrieval mandate.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .textstats import normalized_text, tokens

#: Fixed-point scale for BM25 per-term contributions (6 decimal digits —
#: the same convention as the SRP quantizer and the score rounding used
#: across the oracled surface).
_FP = 1_000_000.0
#: Integer numerator for RRF contributions: 10^9 div (k + rank) keeps
#: ~7 significant digits of 1/(k+rank) while staying in exact integers.
_RRF_NUM = 1_000_000_000


def _staged_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Tokenized corpus ``(doc, __toks)``, persist-slot-pinned: the BM25
    leg consumes it from several branches (doc lengths, matched pairs →
    tf → df), each of which would re-run the tokenize+scan on the
    un-persisted frame — the r10 audit measured 6 documents scans in
    q_hybrid_rrf.  At warehouse scale this cache is the materialized
    token-index table a search tier stages once per corpus version.

    The slot NAME is derived from the corpus plan key (ADVICE r10): a
    single global slot would thrash when one session tokenizes two
    different corpora (each pin evicting the other); per-corpus slots
    let both stay staged.  Retention is bounded by the number of
    DISTINCT live corpora in a session (registry/bench: 1) and every
    slot drops at ``clear_slots()``.  Unkeyable plans (opaque leaves)
    keep the shared-name slot, whose existing same-plan reuse/evict
    semantics apply."""
    from ...cache import _plan_key, persist_slot

    toks = docs.select(
        F.col(id_col).alias("doc"),
        tokens(normalized_text(F.col(text_col))).alias("__toks"),
    )
    key = _plan_key(toks)
    slot = "retrieval.tokens"
    if key is not None:
        slot = f"retrieval.tokens:{key[0] & 0xFFFFFFFF:08x}"
    return persist_slot(slot, toks, key=key)


def _bm25_scored(
    base: DataFrame,
    matched: DataFrame,
    *,
    k1: float,
    b: float,
) -> DataFrame:
    """(doc, s_fp, n_terms) for docs with ≥1 matched query term.

    ``matched`` = (doc, term) pairs already restricted to query terms.
    Every float expression mirrors the oracle SQL token-for-token (same
    association, same literal staging) so intermediate doubles are
    bit-identical across engines.
    """
    dl = base.select("doc", F.size("__toks").alias("dl"))
    tf = matched.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.sum("dl").cast("long").alias("sdl"), F.count(F.lit(1)).alias("n")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc")
        .crossJoin(F.broadcast(stats))
    )
    idf = (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)) + F.lit(1.0)
    norm_len = (F.col("dl") * F.col("n")) / F.col("sdl")
    denom = F.col("tf") + F.lit(k1) * (F.lit(1.0) - F.lit(b) + F.lit(b) * norm_len)
    contrib = idf * ((F.col("tf") * (F.lit(k1) + F.lit(1.0))) / denom)
    fp = F.floor(contrib * F.lit(_FP) + F.lit(0.5)).cast("long")
    return scored.select("doc", fp.alias("fp")).groupBy("doc").agg(
        F.sum("fp").alias("s_fp"), F.count(F.lit(1)).alias("n_terms")
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents by rational-idf BM25 for a literal term query.

    Output: ``doc_id, score, n_terms, rank`` (score = fixed-point sum /
    10^6, rounded to 6 digits; ties broken by doc id).
    """

    base = _staged_tokens(docs, id_col, text_col)
    term_arr = F.array(*[F.lit(t) for t in query_terms])
    # per-row array filter BEFORE the explode: non-matching tokens
    # never become rows (identical row multiset to explode-then-filter)
    matched = base.select(
        "doc",
        F.explode(
            F.filter(
                F.col("__toks"), lambda t: F.array_contains(term_arr, t)
            )
        ).alias("term"),
    )
    per_doc = _bm25_scored(base, matched, k1=k1, b=b)
    top = per_doc.orderBy(F.col("s_fp").desc(), F.col("doc").asc()).limit(k)
    w = Window.orderBy(F.col("s_fp").desc(), F.col("doc").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        F.col("doc").alias("doc_id"),
        F.round(F.col("s_fp") / F.lit(_FP), 6).alias("score"),
        "n_terms",
        "rank",
    )


def exemplar_query_terms(
    docs: DataFrame,
    exemplar_id: int,
    *,
    n_terms: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The exemplar document's ``n_terms`` lexicographically-smallest
    distinct tokens — a deterministic keyword extraction both engines
    replay bit-for-bit (sorted-distinct slice; DuckDB's ``list_distinct``
    does not preserve order, so sorting is what makes this portable)."""
    toks = tokens(normalized_text(F.col(text_col)))
    return docs.filter(F.col(id_col) == exemplar_id).select(
        F.explode(
            F.slice(F.array_sort(F.array_distinct(toks)), 1, n_terms)
        ).alias("term")
    )


def hybrid_rrf(
    docs: DataFrame,
    embeddings: DataFrame,
    exemplar_id: int,
    *,
    k: int = 10,
    k_each: int = 20,
    rrf_k: int = 60,
    n_terms: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query-by-example hybrid retrieval via reciprocal-rank fusion.

    Lexical list: BM25 over the exemplar's sorted-distinct top tokens.
    Dense list: exact cosine ranking for the exemplar's embedding
    (``embedsim.brute_force_topk``; doc and vector ids are aligned in the
    fixtures).  The exemplar itself is excluded from both lists.  Fusion:
    ``rrf_fp = Σ_lists 10^9 div (rrf_k + rank)`` — integer, exact.

    Output: ``doc_id, rrf_fp, lex_rank, vec_rank, rank``.
    """
    from .embedsim import brute_force_topk

    base = _staged_tokens(docs, id_col, text_col)
    terms = exemplar_query_terms(
        docs, exemplar_id, n_terms=n_terms, id_col=id_col, text_col=text_col
    )
    matched = base.select("doc", F.explode("__toks").alias("term")).join(
        F.broadcast(terms), "term"
    )
    lex_scored = _bm25_scored(base, matched, k1=1.2, b=0.75).filter(
        F.col("doc") != exemplar_id
    )
    lex_top = lex_scored.orderBy(F.col("s_fp").desc(), F.col("doc").asc()).limit(k_each)
    w_lex = Window.orderBy(F.col("s_fp").desc(), F.col("doc").asc())
    lex = lex_top.withColumn("rank", F.row_number().over(w_lex)).select(
        F.col("doc").alias("doc_id"), F.lit("lex").alias("src"), "rank"
    )

    dense = brute_force_topk(
        embeddings,
        embeddings.filter(F.col(vec_id_col) == exemplar_id),
        k=k_each,
        id_col=vec_id_col,
        vec_col=vec_col,
    ).select(F.col("nn_id").alias("doc_id"), F.lit("vec").alias("src"), "rank")

    both = lex.unionByName(dense)
    fused = both.groupBy("doc_id").agg(
        F.sum(F.expr(f"{_RRF_NUM} div ({rrf_k} + rank)")).alias("rrf_fp"),
        F.max(F.when(F.col("src") == "lex", F.col("rank"))).alias("lex_rank"),
        F.max(F.when(F.col("src") == "vec", F.col("rank"))).alias("vec_rank"),
    )
    top = fused.orderBy(F.col("rrf_fp").desc(), F.col("doc_id").asc()).limit(k)
    w = Window.orderBy(F.col("rrf_fp").desc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "rrf_fp", "lex_rank", "vec_rank", "rank"
    )

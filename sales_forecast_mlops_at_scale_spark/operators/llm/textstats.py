"""Text-analysis operators: normalization, token counting, quality scoring,
language ID, fingerprinting.  All pure ``pyspark.sql.functions`` — every
expression stays inside whole-stage codegen; there is no Python in this
path at any scale.

Each operator has an exactly-equivalent SQL form (see plans/llm_queries.py)
so results are DuckDB-oracle-checkable.  Regex note: Spark uses Java regex,
DuckDB uses RE2 — the patterns here are restricted to the common subset
(character classes, ``+``), and DuckDB's ``regexp_replace`` needs the
explicit ``'g'`` flag to match Spark's replace-all semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny per-language marker vocabularies for the n-gram/stopword heuristic
#: language identifier.  Deliberately small and transparent: language ID at
#: this tier is a cheap pre-filter; a real model can slot in as a Pandas UDF
#: without changing the pipeline shape.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "und", "die", "nicht", "ist"),
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "los", "que", "y", "es"),
    "fr": ("le", "les", "et", "est", "une"),
}

ENGLISH_STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
)


def normalized_text(col: Column) -> Column:
    """lower → collapse runs of whitespace to single spaces → trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokenization of trimmed text; empty text → empty array."""
    return F.when(F.length(F.trim(col)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(col), r"\s+")
    )


def token_count(df: DataFrame, text_col: str = "text", *, out_col: str = "n_tokens") -> DataFrame:
    """Whitespace token count per document."""
    return df.withColumn(out_col, F.size(tokens(F.col(text_col))))


#: BPE-ish pre-tokenization over normalized text: letter runs, digit runs,
#: and single non-alphanumeric marks — the GPT-2 pattern's shape restricted
#: to the Java-regex ∩ RE2 subset (no lookahead; alternatives disjoint, so
#: leftmost-first vs leftmost-longest engines agree).
BPE_ISH_PATTERN = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def subtoken_count(
    df: DataFrame, text_col: str = "text", *, out_col: str = "n_subtokens"
) -> DataFrame:
    """BPE-ish subtoken count per document — the better LLM-cost proxy
    (whitespace counting undercounts punctuation-heavy text).  Pure
    built-ins: one regexp_extract_all per row, no shuffle."""
    return df.withColumn(
        out_col,
        F.size(
            F.regexp_extract_all(
                normalized_text(F.col(text_col)), F.lit(BPE_ISH_PATTERN), 0
            )
        ),
    )


def text_fingerprint(
    df: DataFrame, text_col: str = "text", *, out_col: str = "fingerprint"
) -> DataFrame:
    """Deterministic content fingerprint: md5 of normalized text.

    The normalization (lower + whitespace collapse) makes the fingerprint
    stable under formatting-only edits — the cheap first tier of a dedup
    cascade before MinHash/SimHash."""
    return df.withColumn(out_col, F.md5(normalized_text(F.col(text_col))))


def text_quality(df: DataFrame, text_col: str = "text", *, ndigits: int = 4) -> DataFrame:
    """Heuristic quality features per document:

    - ``n_tokens``       whitespace token count
    - ``n_chars_norm``   length of normalized text
    - ``mean_token_len`` characters per token
    - ``alpha_ratio``    [a-z] fraction of normalized text
    - ``punct_ratio``    punctuation fraction of normalized text
    - ``stopword_ratio`` English-stopword fraction of tokens
    - ``quality_score``  monotone combination in [0, 1]

    These are the standard cheap filters (C4/Gopher-style length & symbol
    rules) as columnar expressions; no shuffle.  The norm/token pipeline
    is staged as its own projections so the regex+split subtrees are
    evaluated once per row, not once per referencing expression (see
    jaccard.py module docstring for the measurement behind this)."""
    staged = df.select(
        *df.columns, normalized_text(F.col(text_col)).alias("__norm")
    ).select(*df.columns, "__norm", tokens(F.col("__norm")).alias("__toks"))
    stopword_arr = F.array(*[F.lit(s) for s in ENGLISH_STOPWORDS])
    counted = staged.select(
        *df.columns,
        F.size("__toks").alias("n_tokens"),
        F.length("__norm").alias("n_chars_norm"),
        F.length(F.regexp_replace("__norm", r"[^a-z]", "")).alias("__alpha"),
        F.length(F.regexp_replace("__norm", r"[^!-/:-@\[-`{-~]", "")).alias("__punct"),
        F.size(
            F.filter(F.col("__toks"), lambda t: F.array_contains(stopword_arr, t))
        ).alias("__stop_hits"),
    )
    n_tokens, n_chars = F.col("n_tokens"), F.col("n_chars_norm")
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    safe_chars = F.greatest(n_chars, F.lit(1))
    alpha_ratio = F.col("__alpha") / safe_chars
    punct_ratio = F.col("__punct") / safe_chars
    stop_ratio = F.col("__stop_hits") / safe_tokens
    mean_tok = (n_chars - (n_tokens - 1)) / safe_tokens
    quality = (
        F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.25
        + alpha_ratio * 0.35
        + (1 - punct_ratio) * 0.2
        + F.least(stop_ratio * 5, F.lit(1.0)) * 0.2
    )
    return counted.select(
        *df.columns,
        "n_tokens",
        "n_chars_norm",
        F.round(mean_tok, ndigits).alias("mean_token_len"),
        F.round(alpha_ratio, ndigits).alias("alpha_ratio"),
        F.round(punct_ratio, ndigits).alias("punct_ratio"),
        F.round(stop_ratio, ndigits).alias("stopword_ratio"),
        F.round(quality, ndigits).alias("quality_score"),
    )


def line_repetition(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", *, ndigits: int = 4
) -> DataFrame:
    """Gopher-style line-repetition signals per document (Rae et al. 2021,
    "Scaling Language Models", Table A1 repetition filters):

    - ``n_lines``            non-empty trimmed lines
    - ``dup_line_frac``      fraction of lines that are duplicates of
                             another line in the same document
    - ``dup_line_char_frac`` fraction of line characters inside those
                             duplicated occurrences

    Pure array higher-order functions — per-row, no shuffle, no Python;
    the classic cheap filter for boilerplate/navigation-bar pages.
    """
    lines = F.filter(
        F.transform(F.split(F.col(text_col), "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    chars = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0).cast("long"), lambda acc, l: acc + F.length(l)
    )
    staged = df.select(
        F.col(id_col).alias("doc_id"), lines.alias("__lines")
    ).select(
        "doc_id",
        F.size("__lines").alias("n_lines"),
        F.size(F.array_distinct("__lines")).alias("__n_distinct"),
        chars(F.col("__lines")).alias("__chars_all"),
        chars(F.array_distinct(F.col("__lines"))).alias("__chars_distinct"),
    )
    n_lines = F.col("n_lines")
    chars_all = F.col("__chars_all")
    return staged.select(
        "doc_id",
        "n_lines",
        F.round(
            (n_lines - F.col("__n_distinct")) / F.greatest(n_lines, F.lit(1)),
            ndigits,
        ).alias("dup_line_frac"),
        F.round(
            (chars_all - F.col("__chars_distinct"))
            / F.greatest(chars_all, F.lit(1)),
            ndigits,
        ).alias("dup_line_char_frac"),
    )


def top_bigram_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", *, ndigits: int = 4
) -> DataFrame:
    """Most-frequent-bigram coverage per document (the Gopher "top n-gram
    fraction" repetition signal): ``top_bigram_frac`` = occurrences of the
    modal token bigram / total bigrams.

    Shape: per-doc bigram explode → (doc, bigram) count → per-doc max/sum.
    Both aggregations partition by doc_id, so at 100 TB this is ONE
    shuffle of (doc, bigram) pairs with map-side partial aggregation —
    never a global structure; skew is bounded by document length.
    """
    toks = tokens(normalized_text(F.col(text_col)))
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    bigrams = F.when(
        F.size("__toks") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("__toks") - 2),
            lambda i: F.concat_ws(
                " ", F.get(F.col("__toks"), i), F.get(F.col("__toks"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    counts = (
        base.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_doc = counts.groupBy("doc_id").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("n_bigrams")
    )
    # docs with < 2 tokens have no bigrams: surface them with zeros
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.round(
                F.coalesce(F.col("top_c") / F.col("n_bigrams"), F.lit(0.0)),
                ndigits,
            ).alias("top_bigram_frac"),
        )
    )


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    marker_arr = F.array(*[F.lit(x) for x in markers])
    return F.filter(toks, lambda t: F.array_contains(marker_arr, t))


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-word language scoring: per language, the fraction of tokens
    in its marker set; prediction = argmax (ties → lexicographically first
    language; no hits → 'und').  Adds ``pred_lang`` and ``lang_score``."""
    staged = df.select(
        *df.columns, tokens(normalized_text(F.col(text_col))).alias("__toks")
    )
    toks = F.col("__toks")
    safe_tokens = F.greatest(F.size(toks), F.lit(1))
    scored = staged.select(
        *df.columns,
        *[
            F.round(
                F.size(_marker_hits(toks, markers)) / safe_tokens, 6
            ).alias(f"__score_{lang}")
            for lang, markers in sorted(LANG_MARKERS.items())
        ],
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"__score_{lang}") for lang in langs])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in langs:  # first language hitting the max wins ties
        pred = pred.when(F.col(f"__score_{lang}") == best, F.lit(lang))
    return scored.select(
        *df.columns, pred.alias("pred_lang"), F.round(best, 6).alias("lang_score")
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    k: int = 5,
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf·idf with the
    RATIONAL idf variant ``(N + 1) / (df + 1)`` (no logarithm).

    The log is dropped deliberately: ``ln`` is libm-dependent (±1 ulp
    across engines/platforms), which breaks bit-exact cross-engine
    checks, while integer-ratio division and one multiply are IEEE
    correctly-rounded everywhere — the score is bit-identical on any
    engine.  Ranking is unchanged for any monotone idf transform at
    fixed df, and ties break on the term itself.

    Scale shape: explode → two groupBys (term-per-doc, then df) → join →
    per-doc top-k.  The rank filter compiles to WindowGroupLimit, so
    each mapper keeps a k-heap per doc and only k·docs rows shuffle.
    ``N`` (corpus size) is a parquet-footer-grade driver scalar
    (value-memoized on the corpus plan key — repeat invocations skip
    the count job; a rewritten corpus misses and re-counts).

    The ``tf`` frame feeds TWO consumers (the ``df``-per-term aggregate
    and the scored join), so it is persist-slot-pinned — unpersisted,
    the tokenize+explode+groupBy subtree executes once per side
    (optimization r12, guide §2.4: the r11 plan showed two identical
    HashAggregate(count) subtrees over separate documents scans).
    """
    from pyspark.sql import Window

    from ...cache import _plan_key, derived_key, persist_slot, value_memo

    base_key = _plan_key(df)

    n_docs = value_memo(
        derived_key(base_key, "tfidf.n_docs"),
        df.count,
        session=df.sparkSession,
    )
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(tokens(normalized_text(F.col(text_col)))).alias("term"),
    )
    tf = persist_slot(
        "textstats.tfidf.tf",
        toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf")),
        key=derived_key(base_key, "tfidf.tf", text_col, id_col),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "term").select(
        "doc",
        "term",
        "tf",
        "df",
        F.round(
            F.col("tf") * (F.lit(n_docs + 1) / (F.col("df") + F.lit(1))), 6
        ).alias("score"),
    )
    w = Window.partitionBy("doc").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("doc").alias(id_col), "term", "tf", "df", "score", "rank"
        )
    )

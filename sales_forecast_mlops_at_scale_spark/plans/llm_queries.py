"""LLM-data-pipeline queries over the ``documents`` / ``embeddings``
fixtures, with DuckDB oracles wherever the algorithm is SQL-expressible.

The oracle SQL re-states the *identical* formula (same normalization, same
rounding, same tie-breaks) — not a looser reference implementation — so
hash equality is exact.  MinHash/SimHash use Spark's xxhash64 (no DuckDB
twin) and are covered by (a) the exact-Jaccard oracle on the same corpus
via the inverted-index query and (b) rows-only checks + pytest golden
assertions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import persist_slot, registry_plan
from ..catalog import load_table
from ..operators.llm import (
    brute_force_topk,
    cap_per_group,
    connected_components,
    curation_decision,
    deterministic_sample,
    normalized_text,
    pack_shards,
    sample_threshold_hex,
    exact_dedup_keys,
    ivf_topk,
    semantic_dedup,
    srp_topk,
    language_id,
    minhash_lsh_pairs,
    neardup_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    subtoken_count,
    text_fingerprint,
    text_quality,
    token_count,
    winnow_fingerprints,
)
from ..operators.llm.multimodal import (
    MEDIA_FIXTURE_PATH,
    extract_media_features,
    media_assets_fixture,
    media_dedup_keys,
)
from ..operators.llm.embedsim import SRP_QUANT_SCALE
from ..operators.llm.sketches import (
    KMV_K,
    KMV_RANGE,
    QSKETCH_BINS,
    kmv_distinct,
)
from ..operators.llm.winnow import K_GRAM as _WINNOW_K
from ..operators.llm.winnow import POLY_BASE as _WINNOW_BASE
from ..operators.llm.winnow import POLY_MOD as _WINNOW_MOD
from ..operators.llm.winnow import WINDOW as _WINNOW_W
from ..operators.llm.textclean import (
    EMAIL_RE,
    PHONE_RE,
    URL_RE,
    WEB_FIXTURE_PATH,
    contamination_check,
    paragraph_dedup_keys,
    pii_redact,
    url_domain_stats,
    web_documents_fixture,
)
from . import QueryDef

#: SQL fragment: identical normalization to textstats.normalized_text
#: (DuckDB regexp_replace needs the 'g' flag for replace-all).
_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKS = f"string_split_regex({_NORM}, '\\s+')"
_SHINGLES = (
    "CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[]) "
    "ELSE list_distinct([array_to_string(toks[i:i+2], ' ') "
    "     for i in generate_series(1, len(toks) - 2)]) END"
)
_STOPWORDS_SQL = "('the','a','an','and','or','of','to','in','is','it')"


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_keys(load_table(spark, sf_dir, "documents"))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_count(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens"
    )


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    return subtoken_count(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "n_subtokens"
    )


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 characteristic terms per doc by tf·idf (rational idf — see
    operators/llm/textstats.tfidf_top_terms for why no log)."""
    from ..operators.llm.textstats import tfidf_top_terms

    return tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=5)


_TFIDF_SQL = f"""
WITH tok AS (
  SELECT doc_id AS doc, unnest({_TOKS}) AS term
  FROM documents WHERE length({_NORM}) > 0),
tf AS (SELECT doc, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc, tf.term, CAST(tf.tf AS BIGINT) AS tf,
         CAST(dfreq.df AS BIGINT) AS df,
         round(tf.tf * (((SELECT count(*) + 1 FROM documents)) / (dfreq.df + 1)), 6)
           AS score
  FROM tf JOIN dfreq USING (term))
SELECT doc AS doc_id, term, tf, df, score, CAST(rank AS INTEGER) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY doc ORDER BY score DESC, term ASC)
         AS rank
  FROM scored) WHERE rank <= 5
"""


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture sampling: sources src0/src1/src2 down-sampled to a
    50/30/20 recipe (binding source kept whole), md5-deterministic.  The
    oracle recomputes the per-source fractions engine-side with the
    identical count-ratio double math."""
    from ..operators.llm.curation import mix_to_weights

    return mix_to_weights(
        load_table(spark, sf_dir, "documents"),
        {"src0": 0.5, "src1": 0.3, "src2": 0.2},
    ).select("doc_id", "source", "lang")


_MIX_SQL = """
WITH w AS (
  SELECT * FROM (VALUES ('src0', CAST(0.5 AS DOUBLE)),
                        ('src1', CAST(0.3 AS DOUBLE)),
                        ('src2', CAST(0.2 AS DOUBLE))) AS t(source, wt)),
cnt AS (
  SELECT d.source, count(*) AS n FROM documents d JOIN w USING (source)
  GROUP BY 1),
tot AS (SELECT min(n / wt) AS t FROM cnt JOIN w USING (source)),
thr AS (
  SELECT source,
         -- floor, not CAST: DuckDB's double->int cast rounds, python's
         -- int() truncates; lower(): to_hex is uppercase but md5 output
         -- (and python format(x, '08x')) is lowercase
         lpad(lower(to_hex(CAST(floor(least(CAST(1.0 AS DOUBLE),
                                            ((SELECT t FROM tot) * wt) / n)
                                      * 4294967295) AS BIGINT))), 8, '0') AS th
  FROM cnt JOIN w USING (source))
SELECT d.doc_id, d.source, d.lang
FROM documents d JOIN thr USING (source)
WHERE substr(md5('mix' || CAST(d.doc_id AS VARCHAR)), 1, 8) < th
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: every doc split into consecutive 64-token
    sequences (final partial kept) — the packing step between curation
    and tokenization.  Zero-shuffle per-row HOF map."""
    from ..operators.llm.curation import chunk_documents

    return chunk_documents(load_table(spark, sf_dir, "documents"), max_tokens=64)


_CHUNK_SQL = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS t FROM documents WHERE length({_NORM}) > 0),
ch AS (
  SELECT doc_id, t,
         unnest(generate_series(1, CAST(ceil(len(t) / 64.0) AS INTEGER))) AS i
  FROM toks)
SELECT doc_id, CAST(i AS INTEGER) AS chunk_id,
       CAST(len(list_slice(t, (i - 1) * 64 + 1, least(i * 64, len(t)))) AS INTEGER)
         AS n_tokens,
       array_to_string(list_slice(t, (i - 1) * 64 + 1, least(i * 64, len(t))), ' ')
         AS chunk
FROM ch
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_fingerprint(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "fingerprint"
    )


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint count + signature digest per doc (the full
    fingerprint set is |text|-sized; the per-doc rollup keeps the result
    frame compact while still pinning every fingerprint via the md5 of
    the sorted set)."""
    fps = winnow_fingerprints(load_table(spark, sf_dir, "documents"))
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_set("fingerprint")),
                    lambda x: x.cast("string"),
                ),
            )
        ).alias("fp_digest"),
    )


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_quality(load_table(spark, sf_dir, "documents").select("doc_id", "text")).drop(
        "text"
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return language_id(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    ).drop("text")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard with the ``max_df`` stop-shingle guard ENGAGED at
    docs/10: a shingle occurring in d docs contributes d² rows to the
    inverted-index self-join, so the guard caps the blow-up at
    (N/10)² per shingle instead of unbounded.  On these fixtures the bar
    never bites (max df ≈ N/200) — identical results, bounded worst case.
    The corpus size feeding the bar is a broadcast 1-row aggregate inside
    the plan (``max_df_frac``) — no separate count() job per invocation."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5, max_df_frac=0.1)


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(load_table(spark, sf_dir, "documents"), threshold=0.5)


def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: every 10th doc plays the incoming batch,
    the rest the existing corpus — batch LSH buckets probe corpus
    buckets, never corpus × corpus (the per-ingest shape at 100 TB; see
    minhash.minhash_incremental_pairs)."""
    from ..operators.llm.minhash import minhash_incremental_pairs

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return minhash_incremental_pairs(new, corpus, threshold=0.5)


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(load_table(spark, sf_dir, "documents"), max_hamming=3)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-cascade capstone: MinHash-LSH near-dup pairs → connected
    components → (doc, cluster representative).  This is the actual
    KEEP/DROP decision a training-data pipeline executes (keep the
    cluster minimum, drop the rest)."""
    pairs = registry_plan("q_minhash_dedup", spark, sf_dir, q_minhash_dedup)
    return connected_components(pairs)


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-token cardinality via the KMV bottom-k
    sketch — the deterministic, oracle-checkable stand-in for
    approx_count_distinct (see operators/llm/sketches.py)."""
    from ..operators.llm.textstats import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(_tokens(normalized_text(F.col("text")))).alias("tok")
    )
    return kmv_distinct(toks, "tok", ["lang"], k=KMV_K)


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-token union / Jaccard / intersection estimates between
    the English and German sub-corpora via bottom-k sketch algebra — the
    contamination-screening shape at catalog scale (sketch once per
    corpus, compare sketches instead of corpora)."""
    from ..operators.llm.sketches import kmv_overlap
    from ..operators.llm.textstats import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")

    def toks(lang: str):
        return docs.filter(F.col("lang") == lang).select(
            F.explode(_tokens(normalized_text(F.col("text")))).alias("tok")
        )

    return kmv_overlap(toks("en"), toks("de"), "tok", k=KMV_K)


def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag price quantiles (p50/p90/p99) from the equi-width
    histogram sketch — the deterministic, oracle-checkable twin of
    ``approx_percentile`` (operators/llm/sketches.binned_quantiles):
    two bounded aggregation passes where the exact percentile sorts the
    column, and the estimate matches the SQL twin digit for digit."""
    from ..operators.llm.sketches import binned_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    return binned_quantiles(
        li, "l_extendedprice", (0.5, 0.9, 0.99), ["l_returnflag"]
    )


#: Quantile-sketch twin: identical binning, rank, and interpolation
#: arithmetic (same association order — the estimates are doubles, so
#: the expression SHAPE is the contract, not just the math); bin count
#: interpolated from QSKETCH_BINS so a tuned resolution re-syncs both
#: sides.
_QSKETCH_SQL = f"""
WITH v AS (
  SELECT l_returnflag AS grp, CAST(l_extendedprice AS DOUBLE) AS v
  FROM lineitem WHERE l_extendedprice IS NOT NULL),
stats AS (
  SELECT grp, min(v) AS lo, max(v) AS hi, count(v) AS n FROM v GROUP BY grp),
b AS (
  SELECT v.grp,
         CASE WHEN s.hi = s.lo THEN 0
              ELSE CAST(least({QSKETCH_BINS - 1},
                        floor((v.v - s.lo) / (s.hi - s.lo) * {QSKETCH_BINS}))
                   AS INTEGER) END AS bin
  FROM v JOIN stats s USING (grp)),
c AS (SELECT grp, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
cum AS (
  SELECT grp, bin, cnt,
         sum(cnt) OVER (PARTITION BY grp ORDER BY bin
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM c),
qs AS (SELECT unnest([0.5, 0.9, 0.99]) AS q),
t AS (
  SELECT cum.grp, cum.bin, cum.cnt, cum.cum, s.lo, s.hi, s.n, qs.q,
         greatest(1, CAST(ceil(qs.q * s.n) AS BIGINT)) AS r
  FROM cum JOIN stats s USING (grp) CROSS JOIN qs),
pick AS (
  SELECT *, row_number() OVER (PARTITION BY grp, q ORDER BY bin) AS rn
  FROM t WHERE cum >= r)
SELECT grp AS l_returnflag, q,
       round(lo + (hi - lo) / {QSKETCH_BINS}
             * (bin + (r - (cum - cnt)) * 1.0 / cnt), 6) AS estimate,
       CAST(n AS BIGINT) AS n_rows
FROM pick WHERE rn = 1
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """100 documents sampled with inclusion odds increasing in token
    count (capped at 32) — quality/length-weighted subsampling via
    replicated min-wise hashing: zero RNG, zero transcendental
    functions, bit-reproducible in any engine with md5
    (operators/llm/curation.weighted_sample)."""
    from ..operators.llm.curation import weighted_sample

    docs = load_table(spark, sf_dir, "documents")
    weighted = token_count(docs).select("doc_id", "n_tokens")
    return weighted_sample(weighted, "n_tokens", 100, max_weight=32)


#: Weighted-sample twin: same token count, same unit replication via
#: generate_series, same salted md5 unit hashes, same min-per-doc key
#: and (key, id) top-100.
_WSAMPLE_SQL = f"""
WITH w AS (
  SELECT doc_id,
         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
              AS BIGINT) AS weight
  FROM documents),
units AS (
  SELECT doc_id, weight, unnest(generate_series(1, least(weight, 32))) AS u
  FROM w WHERE weight >= 1),
keyed AS (
  SELECT doc_id, weight,
         min(substr(md5('wsample' || ':' || CAST(doc_id AS VARCHAR)
                        || ':' || CAST(u AS VARCHAR)), 1, 15)) AS k
  FROM units GROUP BY 1, 2)
SELECT doc_id, weight,
       CAST(row_number() OVER (ORDER BY k ASC, doc_id ASC) AS INTEGER)
         AS sample_rank
FROM keyed ORDER BY k ASC, doc_id ASC LIMIT 100
"""


def q_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """25% deterministic downsample by salted-md5 hex threshold."""
    return deterministic_sample(
        load_table(spark, sf_dir, "documents"), 0.25
    ).select("doc_id", "source", "lang")


def q_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At most 8 docs per source (deterministic doc_id order) — the
    source-mixing cap of a training-data recipe."""
    return cap_per_group(
        load_table(spark, sf_dir, "documents"), ["source"], cap=8
    ).select("doc_id", "source")


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing within each language: running token sum
    // 2000 — the sequence-packing shape of training-data prep."""
    docs = token_count(load_table(spark, sf_dir, "documents"))
    return pack_shards(
        docs.select("doc_id", "lang", "n_tokens"),
        token_col="n_tokens",
        budget=2000,
        pack_by=("lang",),
    ).select("doc_id", "lang", "n_tokens", "shard")


def q_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation decision: exact-dup drop → language allow
    list → quality bar → per-source cap, each doc labeled keep/reason."""
    docs = load_table(spark, sf_dir, "documents")
    quality = text_quality(docs.select("doc_id", "text")).select(
        "doc_id", "quality_score"
    )
    fp = docs.select("doc_id", F.md5(normalized_text(F.col("text"))).alias("f"))
    from pyspark.sql import Window as _W

    dup_drop = (
        fp.withColumn("kid", F.min("doc_id").over(_W.partitionBy("f")))
        .filter(F.col("doc_id") != F.col("kid"))
        .select("doc_id")
    )
    return curation_decision(
        docs,
        quality=quality,
        langs=("en", "de", "fr"),
        dup_drop=dup_drop,
        min_quality=0.65,
        source_cap=8,
    )


def q_cms_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens by count-min-sketch estimate (4×64 md5-salted grid)
    with the exact count alongside — the mergeable bounded-state
    frequency sketch, deterministically rebuilt by the oracle cell for
    cell (see operators/llm/cms.py)."""
    from ..operators.llm.cms import cms_heavy_hitters
    from ..operators.llm.textstats import tokens as _tokens

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(_tokens(normalized_text(F.col("text")))).alias("tok")
    )
    return cms_heavy_hitters(toks, "tok", depth=4, width=64, k=20)


#: BM25 query terms (fixture vocabulary; a term absent at some SF simply
#: contributes no rows on either side).
BM25_TERMS: tuple[str, ...] = ("spark", "merge", "vector", "stream", "window")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 (rational-idf variant, integer fixed-point term sum —
    see operators/llm/retrieval.py) top-10 for a fixed keyword query."""
    from ..operators.llm.retrieval import bm25_topk

    return bm25_topk(load_table(spark, sf_dir, "documents"), BM25_TERMS, k=10)


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-by-example hybrid retrieval: reciprocal-rank fusion of the
    exemplar's lexical BM25 list and its dense cosine list (doc and
    vector ids are aligned in the fixtures); integer RRF contributions
    ``10^9 div (60 + rank)`` make the fusion exact on any engine."""
    from ..operators.llm.retrieval import hybrid_rrf

    return hybrid_rrf(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
        exemplar_id=0,
        k=10,
        k_each=20,
    )


def q_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, emb.filter(F.col("vec_id") < 8), k=5)


def q_embed_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with 2 deterministic Lloyd iterations trained on a 50%
    md5-threshold sample (the faiss convention: train on a sample,
    assign everything).  Measured recall@5 vs brute force at sf0.1,
    equal nprobe: 0.512 unrefined → 0.588 refined; the oracle unrolls
    the same two iterations over the identical sample as CTEs."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb,
        emb.filter(F.col("vec_id") < 8),
        k=5,
        refine_iters=2,
        refine_sample_frac=0.5,
    )


def q_embed_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH (sign-random-projection) approximate top-k: 16-bit
    md5-derived signatures in four 4-bit bands; candidates share a band,
    then exact rescore.  dim pinned to the fixture's 64 so the plan needs
    no scalar pre-read."""
    emb = load_table(spark, sf_dir, "embeddings")
    return srp_topk(emb, emb.filter(F.col("vec_id") < 8), k=5, dim=64)


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of the SRP-LSH approximate top-k
    against the exact brute-force top-k, per query vector.  The eval
    harness every production ANN deployment runs before trusting an
    index — here it is itself a deterministic, oracled query (both tiers
    are deterministic, so the recall numbers are too).  Shares the
    normalized-corpus/query pin with q_ann_recall_all (one
    materialization serves both tiers' semantically-equal subtrees)."""
    from ..operators.llm.embedsim import _prepared

    emb = load_table(spark, sf_dir, "embeddings")
    persist_slot(
        "annrecall.prepared_corpus", _prepared(emb, "vec_id", "embedding")
    )
    persist_slot("annrecall.queries", emb.filter(F.col("vec_id") < 8))
    exact = registry_plan("q_embed_topk", spark, sf_dir, q_embed_topk)
    approx = registry_plan("q_embed_srp_topk", spark, sf_dir, q_embed_srp_topk)
    exact = exact.select("q_id", "nn_id")
    approx = approx.select("q_id", "nn_id", F.lit(1).alias("hit"))
    return (
        exact.join(approx, ["q_id", "nn_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("k"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("int").alias("n_hits"),
        )
        .withColumn("recall", F.round(F.col("n_hits") / F.col("k"), 6))
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped pruning at τ=0.4 (the fixtures are
    near-orthogonal — see q_embed_neardup): cluster to 16 deterministic
    centroids, drop vectors dominated by a smaller-id cluster-mate."""
    return semantic_dedup(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4, num_centroids=16
    )


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs.  The fixtures' vectors are
    near-orthogonal (max pairwise cosine ≈ 0.51), so the threshold sits
    at 0.4 to exercise real matches; production near-dup thresholds
    (≥0.9) use the LSH/IVF-blocked path (see neardup_pairs docstring)."""
    return neardup_pairs(load_table(spark, sf_dir, "embeddings"), threshold=0.4)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode + feature extract over the committed BLOB
    fixture.  BMP and WAV assets are REALLY decoded (pure-stdlib header
    parse + exact payload byte-sum inside the Arrow-batched mapInPandas);
    the DuckDB oracle re-parses the same headers from the identical
    BLOBs via hex() arithmetic, so width/height/channels/sample-rate/
    sample-count/payload-sum are all differentially checked.  Video
    assets (mp4 — no in-container codec) carry decoded=false and -1
    sentinels; the pseudo-embedding vector is asserted in
    tests/test_multimodal.py."""
    assets = media_assets_fixture(spark)
    return extract_media_features(assets).select(
        "asset_id",
        "modality",
        "n_bytes",
        "content_digest",
        "decoded",
        "width",
        "height",
        "channels",
        "sample_rate",
        "n_samples",
        "payload_sum",
    )


def q_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-content exact dedup over a corpus with injected duplicates
    (every asset re-appears under a shifted id).  decode_fn='stub':
    digest dedup needs only the content digest — running the full header
    parse + payload byte-sum per row would be pure waste on the
    dedup-dominant path (at corpus scale, decode-for-digest is the
    dominant avoidable cost)."""
    assets = media_assets_fixture(spark)
    dup = assets.withColumn("asset_id", F.col("asset_id") + 1000)
    feats = extract_media_features(assets.unionByName(dup), decode_fn="stub")
    return media_dedup_keys(feats)


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling on a 1 s grid: metadata-driven explode (no
    bytes touched), stubbed frame digests + pseudo-features — the whole
    sampling dataflow oracle-checked (see multimodal.sample_frames)."""
    from ..operators.llm.multimodal import sample_frames

    return sample_frames(media_assets_fixture(spark), every_ms=1000)


def q_media_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dHash of every decodable fixture asset from the REAL
    byte-level decode (BMP pixel grid / WAV sample stream) — the oracle
    twin re-decodes the same BLOBs in SQL, so the container parsing,
    grayscale sums, floor-boundary cells, and cross-multiplied gradient
    bits are all differentially checked
    (operators/llm/multimodal.perceptual_hashes)."""
    from ..operators.llm.multimodal import perceptual_hashes

    return perceptual_hashes(media_assets_fixture(spark)).select(
        "asset_id", "modality", "phash_hex"
    )


def q_media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-dup pairs: the fixture plus byte-padded twins
    (content || 0x00 under new ids) — exact-digest dedup MISSES the
    twins (different sha256) while the perceptual tier catches every one
    at Hamming 0, the re-encoded-duplicate scenario dHash exists for.
    Pair search is the 4×16 pigeonhole bucket join
    (operators/llm/multimodal.media_neardup_pairs)."""
    from ..operators.llm.multimodal import (
        media_neardup_pairs,
        perceptual_hashes,
    )

    assets = media_assets_fixture(spark).select(
        "asset_id", "modality", "content"
    )
    padded = assets.select(
        (F.col("asset_id") + 1000).alias("asset_id"),
        "modality",
        F.concat(F.col("content"), F.lit(bytes([0]))).alias("content"),
    )
    hashes = perceptual_hashes(assets.unionByName(padded))
    return media_neardup_pairs(hashes, max_hamming=3)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the committed web-documents fixture; the digest
    column pins the exact redacted output."""
    return pii_redact(web_documents_fixture(spark))


def q_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    return url_domain_stats(web_documents_fixture(spark))


def q_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return paragraph_dedup_keys(web_documents_fixture(spark))


def q_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style duplicate-line signals over the web fixture (the star
    ``documents`` are single-line, so line stats there are vacuous)."""
    from ..operators.llm.textstats import line_repetition

    return line_repetition(web_documents_fixture(spark))


def q_top_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal-bigram coverage per document — the Gopher top-n-gram
    repetition filter over the star documents corpus."""
    from ..operators.llm.textstats import top_bigram_stats

    return top_bigram_stats(load_table(spark, sf_dir, "documents"))


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: docs vs the held-out tenth of the
    corpus (doc_id % 10 == 0) on distinct word 8-grams."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 10 == 0)
    cand = docs.filter(F.col("doc_id") % 10 != 0)
    return contamination_check(cand, bench, n=8)


def q_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level dedup report (the run-summary a pipeline publishes):
    near-dup pairs → components → cluster-size rollup, one row."""
    from ..operators.llm.cluster import dedup_summary

    docs = load_table(spark, sf_dir, "documents")
    pairs = registry_plan("q_minhash_dedup", spark, sf_dir, q_minhash_dedup)
    return dedup_summary(docs, pairs)


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test split-leakage audit: deterministic 80/10/10 split
    crossed with exact-Jaccard near-dup pairs.  Pairs whose endpoints
    land in different splits are contamination the split inherited from
    near-duplicates — the check every eval-safe pipeline runs.  The
    split is a pure expression of the doc id, so no assignment table is
    joined (zero extra shuffles beyond the pair search)."""
    from ..operators.llm.curation import split_expr

    docs = load_table(spark, sf_dir, "documents")
    # max_df_frac matches q_ngram_jaccard AND the composed _JACCARD_SQL
    # oracle (which filters df > N//10 shingles) — omitting it here left
    # the twins semantically divergent on boilerplate-heavy corpora even
    # though the fixture bar never bites
    pairs = ngram_jaccard_pairs(docs, threshold=0.5, max_df_frac=0.1)
    sa, sb = split_expr(F.col("id_a")), split_expr(F.col("id_b"))
    return (
        pairs.select(
            F.least(sa, sb).alias("split_a"),
            F.greatest(sa, sb).alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .withColumn("leaky", F.col("split_a") != F.col("split_b"))
    )


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE round over the star documents corpus: top-20 adjacent
    character pairs by frequency-weighted count (tokenizer-training's
    corpus-scale stage)."""
    from ..operators.llm.bpe import bpe_pair_counts

    return bpe_pair_counts(load_table(spark, sf_dir, "documents"), top_k=20)


_BPE_PAIRS_SQL = f"""
WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
tf AS (SELECT token, count(*) AS weight FROM tok GROUP BY token),
syms AS (SELECT weight,
         list_append([substr(token, i, 1)
                      for i in generate_series(1, length(token))], '</w>') AS s
         FROM tf),
p0 AS (SELECT weight,
              unnest([s[i] || ' ' || s[i+1]
                      for i in generate_series(1, len(s) - 1)]) AS pair
       FROM syms),
pc AS (SELECT pair, CAST(sum(weight) AS BIGINT) AS merge_count
       FROM p0 GROUP BY pair)
SELECT pair, merge_count FROM pc ORDER BY merge_count DESC, pair LIMIT 20
"""


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 8 BPE merges on the documents corpus, ENCODE the corpus
    with them (operators/llm/bpe.bpe_encode — merge application at
    vocab scale, rejoined to the corpus token stream), and report the
    top-20 subword pieces by occurrence count.  The apply side of the
    tokenizer: the oracle twin re-trains the identical 8 merges as
    unrolled SQL rounds, so train AND encode are both differentially
    checked."""
    from ..operators.llm.bpe import bpe_encode, bpe_train

    docs = load_table(spark, sf_dir, "documents")
    merges, _ = bpe_train(docs, n_merges=8)
    enc = bpe_encode(docs, merges)
    return (
        enc.select(F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("piece").asc())
        .limit(20)
    )


#: One unrolled BPE training round (seg{i-1} -> seg{i}) for the encode
#: twin.  The greedy left-to-right merge application is a list_reduce
#: whose string accumulator mirrors operators/llm/bpe._apply_merge's
#: array fold exactly: append ' '||x unless the accumulator's tail
#: symbol is pa and x is pb, in which case splice in the merged symbol.
#: (Symbols never contain spaces — tokens are whitespace-split — so the
#: space-delimited accumulator is a faithful array encoding.)
_BPE_REDUCE = (
    "(string_split(list_reduce(list_prepend('', s), (acc, x) -> "
    "CASE WHEN x = pb AND right(acc, length(pa) + 1) = ' ' || pa "
    "THEN left(acc, length(acc) - length(pa) - 1) || ' ' || pa || pb "
    "ELSE acc || ' ' || x END), ' '))[2:]"
)


def _bpe_round_cte(i: int) -> str:
    return f"""p{i} AS (
  SELECT weight, unnest([s[j] || ' ' || s[j+1]
                         for j in generate_series(1, len(s) - 1)]) AS pair
  FROM seg{i - 1}
), c{i} AS (
  SELECT pair FROM (SELECT pair, sum(weight) AS cnt FROM p{i} GROUP BY pair)
  ORDER BY cnt DESC, pair LIMIT 1
), b{i} AS (
  SELECT split_part(pair, ' ', 1) AS pa, split_part(pair, ' ', 2) AS pb
  FROM c{i}
), seg{i} AS (
  SELECT token, weight, {_BPE_REDUCE} AS s
  FROM seg{i - 1} CROSS JOIN b{i}
)"""


def _bpe_encode_sql(n_merges: int = 8) -> str:
    """ORACLE MERGE-COUNT CEILING: this twin unrolls one 4-CTE training
    round PER MERGE (text grows linearly, DuckDB planning super-linearly
    with re-inlined CTE chains) — practical up to a few dozen merges,
    unbuildable at tokenizer scale (10k–50k).  That is a limit of the
    differential HARNESS, not the operator: the Spark side's vocab-scale
    fold is exercised at ≥ 256 merges by
    tests/test_llm_ops.py::test_bpe_encode_vocab_scale_merge_list
    (pytest-verified against a pure-Python Sennrich-style apply), while
    this oracle pins exact train+encode semantics at 8 merges."""
    rounds = ", ".join(_bpe_round_cte(i) for i in range(1, n_merges + 1))
    return f"""
WITH tok AS (SELECT unnest({_TOKS}) AS token FROM documents),
tf AS (SELECT token, count(*) AS weight FROM tok GROUP BY token),
seg0 AS (SELECT token, weight,
         list_append([substr(token, i, 1)
                      for i in generate_series(1, length(token))], '</w>') AS s
         FROM tf),
{rounds},
pieces AS (
  SELECT unnest(e.s) AS piece
  FROM tok JOIN (SELECT token, s FROM seg{n_merges}) e USING (token))
SELECT piece, CAST(count(*) AS BIGINT) AS n_occurrences
FROM pieces GROUP BY piece
ORDER BY n_occurrences DESC, piece LIMIT 20
"""


#: q_dedup_summary oracle: the cluster closure (_CLUSTER_SQL) rolled up
#: to the one-row run report.  Defined lazily in the registry because
#: _CLUSTER_SQL is declared later in the module.
def _dedup_summary_sql() -> str:
    return f"""
WITH cc AS ({_CLUSTER_SQL}),
per AS (SELECT cluster_id, count(*) AS sz FROM cc GROUP BY cluster_id),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
agg AS (SELECT CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(coalesce(sum(sz), 0) AS BIGINT) AS n_clustered_docs,
               CAST(coalesce(max(sz), 0) AS BIGINT) AS max_cluster_size
        FROM per)
SELECT n_docs, n_clusters, n_clustered_docs,
       n_clustered_docs - n_clusters AS n_dropped,
       max_cluster_size,
       round((n_clustered_docs - n_clusters) * 1.0 / greatest(n_docs, 1), 6)
         AS dup_rate
FROM tot, agg
"""


def _split_leakage_sql() -> str:
    from ..operators.llm.curation import split_sql_expr

    sa, sb = split_sql_expr("id_a"), split_sql_expr("id_b")
    return f"""
WITH j AS ({_JACCARD_SQL}),
s AS (SELECT least({sa}, {sb}) AS split_a, greatest({sa}, {sb}) AS split_b
      FROM j)
SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
       split_a <> split_b AS leaky
FROM s GROUP BY split_a, split_b
"""


def q_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FineWeb-style per-domain curation monitor over the web fixture:
    distinct doc×domain references joined to doc quality, rolled up to
    (domain, n_docs, mean_quality, keep_rate)."""
    from ..operators.llm.textclean import domain_quality_rollup

    return domain_quality_rollup(web_documents_fixture(spark))


def q_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup signal (Lee et al. 2022): per-doc fraction of
    tokens covered by cross-doc duplicated 8-gram windows."""
    from ..operators.llm.dupspan import dup_span_coverage

    return dup_span_coverage(load_table(spark, sf_dir, "documents"), n=8)


_WEB = f"read_parquet('{WEB_FIXTURE_PATH}/*.parquet')"

_PII_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
       md5(regexp_replace(regexp_replace(text, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_digest
FROM {_WEB}
"""

_URL_SQL = f"""
WITH u AS (SELECT doc_id AS doc, unnest(regexp_extract_all(text, '{URL_RE}')) AS url
           FROM {_WEB})
SELECT regexp_extract(url, 'https?://([^/\\s]+)', 1) AS domain,
       count(*) AS n_urls, count(DISTINCT doc) AS n_docs
FROM u GROUP BY 1
"""

_PARA_SQL = f"""
WITH p0 AS (SELECT doc_id AS doc,
                   trim(unnest(string_split(text, chr(10) || chr(10)))) AS para
            FROM {_WEB}),
p AS (SELECT doc, para FROM p0 WHERE length(para) > 0)
SELECT md5(para) AS fingerprint, min(doc) AS keep_id,
       count(*) AS n_occurrences, count(DISTINCT doc) AS n_docs
FROM p GROUP BY 1
"""

_LINE_REP_SQL = f"""
WITH l AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> length(x) > 0) AS lines
  FROM {_WEB}
), c AS (
  SELECT doc_id, len(lines) AS n_lines,
         len(list_distinct(lines)) AS n_distinct,
         coalesce(list_sum(list_transform(lines, x -> length(x))), 0) AS chars_all,
         coalesce(list_sum(list_transform(list_distinct(lines), x -> length(x))), 0)
           AS chars_distinct
  FROM l
)
SELECT doc_id, n_lines,
       round((n_lines - n_distinct) * 1.0 / greatest(n_lines, 1), 4)
         AS dup_line_frac,
       round((chars_all - chars_distinct) * 1.0 / greatest(chars_all, 1), 4)
         AS dup_line_char_frac
FROM c
"""

_TOP_BIGRAM_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
b AS (
  SELECT doc_id,
         unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
                ELSE [toks[i] || ' ' || toks[i+1]
                      for i in generate_series(1, len(toks) - 1)] END) AS bigram
  FROM t
), cnt AS (
  SELECT doc_id, bigram, count(*) AS c FROM b GROUP BY 1, 2
), pd AS (
  SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_bigrams
  FROM cnt GROUP BY 1
)
SELECT d.doc_id, coalesce(pd.n_bigrams, 0) AS n_bigrams,
       round(coalesce(pd.top_c * 1.0 / pd.n_bigrams, 0.0), 4) AS top_bigram_frac
FROM documents d LEFT JOIN pd USING (doc_id)
"""

#: 8-gram shingles (the contamination unit) — same construction as
#: _SHINGLES with n = 8.
_SHINGLES8 = (
    "CASE WHEN len(toks) < 8 THEN CAST([] AS VARCHAR[]) "
    "ELSE list_distinct([array_to_string(toks[i:i+7], ' ') "
    "     for i in generate_series(1, len(toks) - 7)]) END"
)

_CONTAM_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh AS (SELECT doc_id AS doc, unnest({_SHINGLES8}) AS s FROM t WHERE doc_id % 10 <> 0),
bg AS (SELECT DISTINCT unnest({_SHINGLES8}) AS s FROM t WHERE doc_id % 10 = 0),
pd AS (SELECT doc, count(*) AS n_ngrams FROM sh GROUP BY doc),
h AS (SELECT sh.doc, count(*) AS n_contaminated FROM sh JOIN bg USING (s) GROUP BY sh.doc)
SELECT pd.doc AS doc_id, pd.n_ngrams,
       coalesce(h.n_contaminated, 0) AS n_contaminated,
       round(coalesce(h.n_contaminated, 0) * 1.0 / pd.n_ngrams, 6) AS contamination
FROM pd LEFT JOIN h ON pd.doc = h.doc
"""


#: Oracle twin of textclean.domain_quality_rollup: the parameterized
#: quality body over the web fixture, 10^-4 fixed-point mean (integer
#: sum, one terminal division — shuffle-order-independent on both sides).
_DOMAIN_QUALITY_SQL = f"""
WITH q AS ({{qbody}}),
u AS (SELECT DISTINCT doc_id AS doc,
             regexp_extract(url, 'https?://([^/\\s]+)', 1) AS domain
      FROM (SELECT doc_id, unnest(regexp_extract_all(text, '{URL_RE}')) AS url
            FROM {_WEB})),
j AS (SELECT u.domain, q.quality_score FROM u JOIN q ON u.doc = q.doc_id)
SELECT domain, count(*) AS n_docs,
       round(sum(CAST(round(quality_score * 10000) AS BIGINT))
             / (10000.0 * count(*)), 6) AS mean_quality,
       round(sum(CASE WHEN quality_score >= 0.65 THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS keep_rate
FROM j GROUP BY domain
"""


#: Oracle twin of operators/llm/dupspan.dup_span_coverage — identical
#: positional 8-gram windows, cross-doc min<>max dup test, and the same
#: integer gaps-and-islands coverage union (engine-exact arithmetic).
_DUPSPAN_SQL = f"""
WITH t AS (SELECT doc_id AS doc,
    CASE WHEN length({_NORM}) = 0 THEN CAST([] AS VARCHAR[]) ELSE {_TOKS} END AS toks
  FROM documents),
gl AS (
  SELECT doc, CASE WHEN len(toks) < 8 THEN CAST([] AS VARCHAR[])
         ELSE [array_to_string(toks[i:i+7], ' ')
               for i in generate_series(1, len(toks) - 7)] END AS l
  FROM t),
grams AS (
  SELECT doc, generate_subscripts(l, 1) AS pos, unnest(l) AS g FROM gl),
dup AS (SELECT g FROM grams GROUP BY g HAVING min(doc) <> max(doc)),
ds AS (SELECT doc, pos FROM grams JOIN dup USING (g)),
cov AS (
  SELECT doc,
         greatest(0, (pos + 7) - greatest(coalesce(
             max(pos + 7) OVER (PARTITION BY doc ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
             pos - 1)) AS contrib
  FROM ds),
agg AS (SELECT doc, count(*) AS n_dup_grams,
               CAST(sum(contrib) AS BIGINT) AS covered_tokens
        FROM cov GROUP BY doc)
SELECT t.doc AS doc_id,
       CAST(len(t.toks) AS BIGINT) AS n_tokens,
       CAST(greatest(len(t.toks) - 7, 0) AS BIGINT) AS n_grams,
       CAST(coalesce(a.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
       CAST(coalesce(a.covered_tokens, 0) AS BIGINT) AS covered_tokens,
       round(coalesce(a.covered_tokens, 0) * 1.0 / greatest(len(t.toks), 1), 6)
         AS dup_coverage
FROM t LEFT JOIN agg a ON t.doc = a.doc
"""


def _quality_sql(src: str) -> str:
    """Quality-score oracle body over any source relation (the star
    ``documents`` table or the web fixture) — same formula either way."""
    return f"""
WITH base AS (
  SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks FROM {src}
), feat AS (
  SELECT doc_id,
    CASE WHEN length(norm) = 0 THEN 0 ELSE len(toks) END AS n_tokens,
    length(norm) AS n_chars_norm,
    length(regexp_replace(norm, '[^a-z]', '', 'g')) AS alpha,
    length(regexp_replace(norm, '[^!-/:-@\\[-`{{-~]', '', 'g')) AS punct,
    len(list_filter(toks, t -> t IN {_STOPWORDS_SQL})) AS stop_hits
  FROM base
)
SELECT doc_id, n_tokens, n_chars_norm,
  round((n_chars_norm - (n_tokens - 1)) / greatest(n_tokens, 1), 4) AS mean_token_len,
  round(alpha / greatest(n_chars_norm, 1), 4) AS alpha_ratio,
  round(punct / greatest(n_chars_norm, 1), 4) AS punct_ratio,
  round(stop_hits / greatest(n_tokens, 1), 4) AS stopword_ratio,
  round(least(n_tokens / 100.0, 1.0) * 0.25
        + (alpha / greatest(n_chars_norm, 1)) * 0.35
        + (1 - punct / greatest(n_chars_norm, 1)) * 0.2
        + least((stop_hits / greatest(n_tokens, 1)) * 5, 1.0) * 0.2, 4) AS quality_score
FROM feat
"""


_QUALITY_SQL = _quality_sql("documents")

#: Connected-components oracle (exact-Jaccard pairs -> recursive closure
#: -> min label per component); also composed into q_dedup_summary.
_CLUSTER_SQL = (
    f"WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),"
    f"sh AS (SELECT doc_id AS doc, unnest({_SHINGLES}) AS s FROM t),"
    "sz AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),"
    "inter AS (SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_common"
    "  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc GROUP BY 1, 2),"
    "pairs AS (SELECT id_a, id_b FROM inter"
    "  JOIN sz sa ON id_a = sa.doc JOIN sz sb ON id_b = sb.doc"
    "  WHERE round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) >= 0.5),"
    "e AS (SELECT id_a AS a, id_b AS b FROM pairs"
    "  UNION SELECT id_b, id_a FROM pairs"
    "  UNION SELECT id_a, id_a FROM pairs UNION SELECT id_b, id_b FROM pairs),"
    "reach AS (WITH RECURSIVE r(a, b) AS ("
    "  SELECT a, b FROM e"
    "  UNION SELECT r.a, e.b FROM r JOIN e ON r.b = e.a)"
    "  SELECT a, b FROM r)"
    " SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a"
)
_DOMAIN_QUALITY_SQL = _DOMAIN_QUALITY_SQL.format(qbody=_quality_sql(_WEB))

_LANGS_SQL_MARKERS = {
    "de": "('der','und','die','nicht','ist')",
    "en": "('the','and','of','to','is')",
    "es": "('el','los','que','y','es')",
    "fr": "('le','les','et','est','une')",
}
_LANG_SCORES = ", ".join(
    f"round(len(list_filter(toks, t -> t IN {m})) / greatest(len(toks), 1), 6) AS s_{l}"
    for l, m in sorted(_LANGS_SQL_MARKERS.items())
)
_LANG_BEST = "greatest(s_de, s_en, s_es, s_fr)"
_LANG_SQL = f"""
WITH base AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents),
scored AS (SELECT doc_id, lang, {_LANG_SCORES} FROM base)
SELECT doc_id, lang,
  CASE WHEN {_LANG_BEST} <= 0 THEN 'und'
       WHEN s_de = {_LANG_BEST} THEN 'de'
       WHEN s_en = {_LANG_BEST} THEN 'en'
       WHEN s_es = {_LANG_BEST} THEN 'es'
       ELSE 'fr' END AS pred_lang,
  round({_LANG_BEST}, 6) AS lang_score
FROM scored
"""

_JACCARD_SQL = f"""
WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
sh0 AS (SELECT doc_id AS doc, unnest({_SHINGLES}) AS s FROM t),
dfs AS (SELECT s, count(*) AS df FROM sh0 GROUP BY s),
sh AS (SELECT sh0.doc, sh0.s FROM sh0 JOIN dfs USING (s)
       WHERE dfs.df <= greatest(1, (SELECT count(*) FROM documents) // 10)),
sz AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc GROUP BY 1, 2)
SELECT id_a, id_b, n_common, sa.sz AS size_a, sb.sz AS size_b,
       round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) AS jaccard
FROM inter JOIN sz sa ON id_a = sa.doc JOIN sz sb ON id_b = sb.doc
WHERE round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) >= 0.5
"""

_EMBED_TOPK_SQL = """
WITH n AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS nrm
  FROM embeddings
), s AS (
  SELECT q.vec_id AS q_id, c.vec_id AS nn_id,
         round(list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))])
               / (q.nrm * c.nrm), 6) AS score
  FROM n q JOIN n c ON q.vec_id != c.vec_id
  WHERE q.vec_id < 8
)
SELECT q_id, nn_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, nn_id ASC) AS rank
  FROM s) WHERE rank <= 5
"""

#: Oracle for SimHash pairs.  The Spark side uses md5-derived token hashes
#: precisely so this twin exists (see operators/llm/simhash.py docstring).
#: The oracle recomputes signatures bit-for-bit and compares ALL pairs —
#: the pigeonhole bucketing on the Spark side is exact for hamming ≤ 3
#: (any such pair agrees on ≥1 of the 4 16-bit chunks), so the all-pairs
#: SQL and the bucketed Spark plan must produce identical rows.
_SIMHASH_TOKS = f"CASE WHEN length({_NORM}) = 0 THEN CAST([] AS VARCHAR[]) ELSE {_TOKS} END"
_SIMHASH_NIBS = ", ".join(
    f"strpos('0123456789abcdef', substr(m, {k}, 1)) - 1 AS n{k}" for k in range(1, 17)
)
#: bit i (0 = LSB) lives in 1-based hex char 16 - i//4, bit i%4 of the nibble
_SIMHASH_VOTES = ", ".join(
    f"sum((((n{16 - i // 4} >> {i % 4}) & 1) * 2) - 1) AS v{i}" for i in range(64)
)
_SIMHASH_HI = " + ".join(
    f"CASE WHEN v{32 + k} > 0 THEN CAST({1 << k} AS BIGINT) ELSE 0 END" for k in range(32)
)
_SIMHASH_LO = " + ".join(
    f"CASE WHEN v{k} > 0 THEN CAST({1 << k} AS BIGINT) ELSE 0 END" for k in range(32)
)
_SIMHASH_SQL = f"""
WITH t AS (SELECT doc_id AS doc, unnest({_SIMHASH_TOKS}) AS tkn FROM documents),
m AS (SELECT doc, substr(md5(tkn), 1, 16) AS m FROM t),
nib AS (SELECT doc, {_SIMHASH_NIBS} FROM m),
votes AS (SELECT doc, {_SIMHASH_VOTES} FROM nib GROUP BY doc),
sigs AS (SELECT doc, CAST({_SIMHASH_HI} AS BIGINT) AS sim_hi,
                CAST({_SIMHASH_LO} AS BIGINT) AS sim_lo FROM votes),
pairs AS (
  SELECT a.doc AS id_a, b.doc AS id_b,
         bit_count(xor(a.sim_hi, b.sim_hi)) + bit_count(xor(a.sim_lo, b.sim_lo)) AS hamming
  FROM sigs a JOIN sigs b ON a.doc < b.doc)
SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming FROM pairs WHERE hamming <= 3
"""

#: Oracle for the IVF approximate path — the algorithm is deterministic
#: end-to-end (multiplicative-hash centroid pick, rounded sims, id
#: tie-breaks), so the SQL twin restates it exactly: same 16 centroids,
#: same bucket argmax, same nprobe=4 probes, same within-bucket ranking.
_EMBED_SRP_SQL = """
WITH n AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS nrm
  FROM embeddings
), planes AS (
  SELECT unnest(generate_series(0, 15)) AS p
), bits AS (
  -- quantized integer projection: Σ ±floor(x·10^6 + 0.5) in BIGINT —
  -- exact and associative, so it matches the Spark side's int64 GEMM
  -- bit-for-bit regardless of summation order; floor(..+0.5) is the
  -- tie-free rounding convention shared verbatim with numpy (see
  -- operators/llm/embedsim.py SRP_QUANT_SCALE — engine-default round()
  -- genuinely diverges on dyadic .5 boundaries like x = 2^-7)
  SELECT n.vec_id, planes.p,
         CASE WHEN list_sum(list_transform(range(len(n.v)),
              d -> CAST(floor(n.v[d + 1] * 1000000 + 0.5) AS BIGINT)
                   * (CASE WHEN substr(md5(CAST(planes.p AS VARCHAR)
                   || '_' || CAST(d AS VARCHAR)), 1, 1) <= '7'
                   THEN 1 ELSE -1 END))) >= 0
         THEN 1 ELSE 0 END AS bit
  FROM n CROSS JOIN planes
), sig AS (
  SELECT vec_id, p // 4 AS band,
         CAST(sum(bit * (1 << (p % 4))) AS BIGINT) AS val
  FROM bits GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS vid
  FROM sig q JOIN sig c ON q.band = c.band AND q.val = c.val
  WHERE q.vec_id < 8 AND q.vec_id != c.vec_id
), s AS (
  SELECT cand.qid AS q_id, cand.vid AS nn_id,
         round(list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))])
               / (q.nrm * c.nrm), 6) AS score
  FROM cand JOIN n q ON cand.qid = q.vec_id JOIN n c ON cand.vid = c.vec_id
)
SELECT q_id, nn_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, nn_id ASC) AS rank
  FROM s) WHERE rank <= 5
"""

_SEMANTIC_DEDUP_SQL = """
WITH n AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS nrm
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cnrm
  FROM n
  ORDER BY (CAST(vec_id AS BIGINT) * 2654435761) % 2147483648, vec_id
  LIMIT 16
), assigned AS (
  SELECT vec_id, v, nrm, cid AS cluster FROM (
    SELECT c.vec_id, c.v, c.nrm, ct.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY round(list_sum([c.v[i] * ct.cv[i] for i in generate_series(1, len(c.v))])
                            / (c.nrm * ct.cnrm), 6) DESC, ct.cid ASC) AS rn
    FROM n c CROSS JOIN cent ct)
  WHERE rn = 1
), dom AS (
  SELECT b.vec_id AS vid, min(a.vec_id) AS dropped_by
  FROM assigned a JOIN assigned b
    ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE round(list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))])
              / (a.nrm * b.nrm), 6) >= 0.4
  GROUP BY 1
)
SELECT assigned.vec_id, assigned.cluster,
       dom.dropped_by IS NULL AS kept,
       coalesce(dom.dropped_by, -1) AS dropped_by
FROM assigned LEFT JOIN dom ON assigned.vec_id = dom.vid
"""

def _hx(i: str | int) -> str:
    """SQL: byte ``i`` (0-based) of hex column ``h`` as a hex pair."""
    return f"substr(h, 2*({i})+1, 2)"


def _u16le(i: int) -> str:
    return f"CAST('0x' || {_hx(i + 1)} || {_hx(i)} AS BIGINT)"


def _u32le(i: int) -> str:
    return (
        f"CAST('0x' || {_hx(i + 3)} || {_hx(i + 2)} || "
        f"{_hx(i + 1)} || {_hx(i)} AS BIGINT)"
    )


#: KMV twin: identical hash (first 15 md5 hex digits = 60 bits), identical
#: rank/estimate arithmetic — the estimate divides the same exact double
#: operands on both engines.
#: KMV constants interpolated from the operator module (a changed k or
#: hash range re-syncs the twin automatically instead of silently
#: desynchronizing until the gate fails).
_KMV_K = KMV_K
_KMV_R = f"{float(KMV_RANGE):.1f}"

# _SIMHASH_TOKS (not raw _TOKS): DuckDB string_split_regex('', ..) yields
# [''] where Spark tokens() yields [] — a whitespace-only doc would give
# the oracle a phantom md5('') hash
_KMV_SQL = f"""
WITH t AS (SELECT lang, unnest({_SIMHASH_TOKS}) AS v FROM documents),
dh AS (SELECT DISTINCT lang, CAST('0x' || substr(md5(v), 1, 15) AS BIGINT) AS h FROM t),
r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM dh),
a AS (SELECT lang, max(rn) AS n_seen_distinct,
             max(CASE WHEN rn = {_KMV_K} THEN h END) AS hk
      FROM r GROUP BY lang)
SELECT lang, CAST(n_seen_distinct AS INTEGER) AS n_seen_distinct,
       round(CASE WHEN n_seen_distinct < {_KMV_K} THEN CAST(n_seen_distinct AS DOUBLE)
             ELSE {_KMV_K - 1} * {_KMV_R} / hk END, 4) AS estimate
FROM a
"""


_KMV_OVERLAP_SQL = f"""
WITH ta AS (
  SELECT DISTINCT CAST('0x' || substr(md5(v), 1, 15) AS BIGINT) AS h
  FROM (SELECT unnest({_SIMHASH_TOKS}) AS v FROM documents WHERE lang = 'en')),
tb AS (
  SELECT DISTINCT CAST('0x' || substr(md5(v), 1, 15) AS BIGINT) AS h
  FROM (SELECT unnest({_SIMHASH_TOKS}) AS v FROM documents WHERE lang = 'de')),
u AS (
  SELECT coalesce(a.h, b.h) AS h, a.h IS NOT NULL AS ia, b.h IS NOT NULL AS ib
  FROM ta a FULL OUTER JOIN tb b ON a.h = b.h),
bk AS (SELECT * FROM u ORDER BY h LIMIT {_KMV_K}),
agg AS (
  SELECT count(*) AS n, max(h) AS hk,
         sum(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS nb
  FROM bk)
SELECT CAST({_KMV_K} AS INTEGER) AS k,
       round(CASE WHEN n < {_KMV_K} THEN CAST(n AS DOUBLE)
             ELSE {float(_KMV_K - 1)} * {_KMV_R} / hk END, 4) AS union_est,
       round(nb / CAST(n AS DOUBLE), 6) AS jaccard_est,
       round((nb / CAST(n AS DOUBLE)) *
             (CASE WHEN n < {_KMV_K} THEN CAST(n AS DOUBLE)
              ELSE {float(_KMV_K - 1)} * {_KMV_R} / hk END), 4) AS intersect_est
FROM agg
"""


def _winnow_poly(
    p: str,
    k: int = _WINNOW_K,
    base: int = _WINNOW_BASE,
    mod: int = _WINNOW_MOD,
) -> str:
    """SQL: Karp-Rabin hash of the ``k``-gram at position ``p`` of column
    ``norm`` — the same exact int64 fold as the numpy winnowing kernel
    (constants interpolated FROM operators/llm/winnow.py, so a changed
    base/mod/k re-syncs the twin automatically)."""
    e = f"CAST(ascii(substr(norm, {p}, 1)) AS BIGINT)"
    for j in range(1, k):
        e = f"(({e}) * {base} + ascii(substr(norm, {p} + {j}, 1))) % {mod}"
    return e


#: Differential twin of the REAL multimodal decode: DuckDB re-parses the
#: BMP (pixel offset/width/height/bpp at fixed little-endian offsets) and
#: canonical WAV (channels/sample-rate/bits/data-size) headers from the
#: same BLOBs, and recomputes the exact payload byte-sum with a list fold
#: over the hex encoding.  -1 sentinels (not NULL) for undecodable rows
#: keep the hash compare engine-exact.
#:
#: Twin SCOPE is the canonical fixture (synthetic_assets): the Spark
#: decoder is strictly more general — P6 PPM, malformed-container
#: degradation, WAV chunk-walks past LIST/extra chunks — while this SQL
#: assumes the fixture generator's canonical layouts (no PPM assets,
#: BI_RGB BMPs, 44-byte-header WAVs).  Signed height and the
#: divide-by-zero guard below ARE mirrored so the twin stays honest on
#: the decoder's edge conventions; extending the fixture beyond
#: canonical containers requires extending this SQL in lockstep.
_MEDIA_FEATURES_SQL = f"""
WITH raw AS (
  SELECT asset_id, modality, lower(hex(content)) AS h,
         CAST(octet_length(content) AS BIGINT) AS len
  FROM read_parquet('{MEDIA_FIXTURE_PATH}/*.parquet')
), typed AS (
  SELECT *, substr(h, 1, 4) = '424d' AS is_bmp,
         substr(h, 1, 8) = '52494646' AND substr(h, 17, 8) = '57415645' AS is_wav
  FROM raw
), hdr AS (
  SELECT asset_id, modality, h, len, is_bmp, is_wav,
         CASE WHEN is_bmp THEN {_u32le(10)} WHEN is_wav THEN 44 ELSE -1 END AS poff,
         CASE WHEN is_bmp THEN {_u32le(18)} ELSE -1 END AS width,
         -- abs of the SIGNED i32 height: negative = top-down row order,
         -- mirroring the decoder's abs(height)
         CASE WHEN is_bmp THEN abs({_u32le(22)}
              - CASE WHEN {_u32le(22)} >= 2147483648 THEN 4294967296 ELSE 0 END)
              ELSE -1 END AS height,
         CASE WHEN is_bmp THEN {_u16le(28)} // 8
              WHEN is_wav THEN {_u16le(22)} ELSE -1 END AS channels,
         CASE WHEN is_wav THEN {_u32le(24)} ELSE -1 END AS sample_rate,
         -- greatest(1, ..) mirrors the decoder's max(1, ..) zero guard
         CASE WHEN is_wav THEN {_u32le(40)}
              // greatest(1, {_u16le(22)} * ({_u16le(34)} // 8))
              ELSE -1 END AS n_samples
  FROM typed
)
SELECT asset_id, modality, len AS n_bytes, sha256(h) AS content_digest,
       (is_bmp OR is_wav) AS decoded, width, height, channels, sample_rate,
       n_samples,
       CASE WHEN is_bmp OR is_wav THEN CAST(list_sum(list_transform(
              range(CAST(len - poff AS INTEGER)),
              i -> CAST('0x' || substr(h, 2*(poff + i) + 1, 2) AS BIGINT)))
            AS BIGINT)
            ELSE -1 END AS payload_sum
FROM hdr
"""

def _lloyd_cte(i: int) -> str:
    """One unrolled Lloyd iteration (cent{i-1} → cent{i}) for the IVF
    oracle — mirrors :func:`operators.llm.embedsim.kmeans_refine`: exact
    int64 sums of floor(x·10^6 + 0.5)-quantized components (associative →
    engine/order-independent), one double division, empty clusters keep
    their previous centroid; training input is the deterministic
    md5-threshold sample (``train`` CTE).  Fixture dim = 64."""
    return f"""asg{i} AS (
  SELECT vec_id, v, cid FROM (
    SELECT c.vec_id, c.v, ct.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY round(list_sum([c.v[j] * ct.cv[j] for j in generate_series(1, len(c.v))])
                            / (c.nrm * ct.cnrm), 6) DESC, ct.cid ASC) AS rn
    FROM train c CROSS JOIN cent{i - 1} ct)
  WHERE rn = 1
), qsum{i} AS (
  SELECT cid, d,
         CAST(sum(CAST(floor(v[d] * {SRP_QUANT_SCALE} + 0.5) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS cnt
  FROM asg{i} CROSS JOIN (SELECT unnest(range(1, 65)) AS d) dims
  GROUP BY cid, d
), upd{i} AS (
  SELECT cid, list(s / (cnt * {float(SRP_QUANT_SCALE)}) ORDER BY d) AS cv
  FROM qsum{i} GROUP BY cid
), cent{i} AS (
  SELECT p.cid, coalesce(u.cv, p.cv) AS cv,
         coalesce(sqrt(list_sum([x * x for x in u.cv])), p.cnrm) AS cnrm
  FROM cent{i - 1} p LEFT JOIN upd{i} u ON p.cid = u.cid
)"""


_EMBED_IVF_SQL = f"""
WITH n AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS nrm
  FROM embeddings
), cent0 AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cnrm
  FROM n
  ORDER BY (CAST(vec_id AS BIGINT) * 2654435761) % 2147483648, vec_id
  LIMIT 16
), train AS (
  SELECT * FROM n
  WHERE substr(md5('kmeans' || CAST(vec_id AS VARCHAR)), 1, 8)
        < '{sample_threshold_hex(0.5)}'
), {_lloyd_cte(1)}, {_lloyd_cte(2)}, cent AS (
  SELECT * FROM cent2
), assigned AS (
  SELECT vec_id, v, nrm, cid AS bucket FROM (
    SELECT c.vec_id, c.v, c.nrm, ct.cid,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY round(list_sum([c.v[i] * ct.cv[i] for i in generate_series(1, len(c.v))])
                            / (c.nrm * ct.cnrm), 6) DESC, ct.cid ASC) AS rn
    FROM n c CROSS JOIN cent ct)
  WHERE rn = 1
), probes AS (
  SELECT qid, qv, qnrm, cid AS bucket FROM (
    SELECT q.vec_id AS qid, q.v AS qv, q.nrm AS qnrm, ct.cid,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_sum([q.v[i] * ct.cv[i] for i in generate_series(1, len(q.v))])
                            / (q.nrm * ct.cnrm), 6) DESC, ct.cid ASC) AS rn
    FROM n q CROSS JOIN cent ct
    WHERE q.vec_id < 8)
  WHERE rn <= 4
), s AS (
  SELECT p.qid AS q_id, a.vec_id AS nn_id,
         round(list_sum([p.qv[i] * a.v[i] for i in generate_series(1, len(p.qv))])
               / (p.qnrm * a.nrm), 6) AS score
  FROM assigned a JOIN probes p USING (bucket)
  WHERE p.qid != a.vec_id
)
SELECT q_id, nn_id, score, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, nn_id ASC) AS rank
  FROM s) WHERE rank <= 5
"""

#: Shared BM25 fixed-point per-term contribution (rational idf; k1=1.2,
#: b=0.75; 10^-6 fixed point).  Float association mirrors the Spark
#: expression tree in operators/llm/retrieval._bm25_scored token for
#: token, so intermediate doubles are bit-identical across engines.
#: Expects CTEs ``stats(sdl, n)``, and columns ``tf, df, dl`` in scope.
_BM25_FP = (
    "CAST(floor("
    "(((SELECT n FROM stats) - df + 0.5) / (df + 0.5) + 1.0)"
    " * ((tf * (CAST(1.2 AS DOUBLE) + 1.0)) /"
    " (tf + CAST(1.2 AS DOUBLE) * (1.0 - CAST(0.75 AS DOUBLE)"
    " + CAST(0.75 AS DOUBLE)"
    " * ((dl * (SELECT n FROM stats)) / (SELECT sdl FROM stats)))))"
    " * 1000000.0 + 0.5) AS BIGINT)"
)

_BM25_TERMS_SQL = "('spark', 'merge', 'vector', 'stream', 'window')"

_BM25_SQL = f"""
WITH base AS (SELECT doc_id AS doc, {_SIMHASH_TOKS} AS toks FROM documents),
dl AS (SELECT doc, len(toks) AS dl FROM base),
stats AS (SELECT CAST(sum(dl) AS BIGINT) AS sdl, count(*) AS n FROM dl),
tok AS (SELECT doc, unnest(toks) AS term FROM base),
tf AS (SELECT doc, term, count(*) AS tf FROM tok
       WHERE term IN {_BM25_TERMS_SQL} GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
perdoc AS (
  SELECT tf.doc, CAST(sum({_BM25_FP}) AS BIGINT) AS s_fp,
         CAST(count(*) AS BIGINT) AS n_terms
  FROM tf JOIN dfreq USING (term) JOIN dl ON dl.doc = tf.doc
  GROUP BY 1)
SELECT doc AS doc_id, round(s_fp / 1000000.0, 6) AS score, n_terms,
       CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY s_fp DESC, doc ASC) AS rank
      FROM perdoc)
WHERE rank <= 10
"""

#: Hybrid RRF oracle: the lexical tier re-uses the BM25 skeleton with the
#: query terms derived from exemplar doc 0 (sorted-distinct top-5 slice),
#: the dense tier re-states _EMBED_TOPK_SQL's cosine for q = vec 0; the
#: fusion sums integer 10^9 // (60 + rank) contributions.
_HYBRID_RRF_SQL = f"""
WITH base AS (SELECT doc_id AS doc, {_SIMHASH_TOKS} AS toks FROM documents),
qt AS (SELECT unnest(list_sort(list_distinct(toks))[1:5]) AS term
       FROM base WHERE doc = 0),
dl AS (SELECT doc, len(toks) AS dl FROM base),
stats AS (SELECT CAST(sum(dl) AS BIGINT) AS sdl, count(*) AS n FROM dl),
tok AS (SELECT doc, unnest(toks) AS term FROM base),
tf AS (SELECT doc, term, count(*) AS tf FROM tok JOIN qt USING (term)
       GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
perdoc AS (
  SELECT tf.doc, CAST(sum({_BM25_FP}) AS BIGINT) AS s_fp
  FROM tf JOIN dfreq USING (term) JOIN dl ON dl.doc = tf.doc
  WHERE tf.doc <> 0
  GROUP BY 1),
lex AS (SELECT doc AS doc_id, rank FROM (
    SELECT doc, row_number() OVER (ORDER BY s_fp DESC, doc ASC) AS rank
    FROM perdoc)
  WHERE rank <= 20),
nv AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        for x in embedding])) AS nrm
  FROM embeddings),
ds AS (
  SELECT c.vec_id AS doc_id,
         round(list_sum([q.v[i] * c.v[i] for i in generate_series(1, len(q.v))])
               / (q.nrm * c.nrm), 6) AS score
  FROM nv q JOIN nv c ON q.vec_id != c.vec_id
  WHERE q.vec_id = 0),
vecl AS (SELECT doc_id, rank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
    FROM ds)
  WHERE rank <= 20),
un AS (SELECT doc_id, 'lex' AS src, rank FROM lex
       UNION ALL SELECT doc_id, 'vec' AS src, rank FROM vecl),
agg AS (SELECT doc_id,
        CAST(sum(1000000000 // (60 + rank)) AS BIGINT) AS rrf_fp,
        CAST(max(CASE WHEN src = 'lex' THEN rank END) AS INTEGER) AS lex_rank,
        CAST(max(CASE WHEN src = 'vec' THEN rank END) AS INTEGER) AS vec_rank
        FROM un GROUP BY 1)
SELECT doc_id, rrf_fp, lex_rank, vec_rank, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY rrf_fp DESC, doc_id ASC) AS rank
      FROM agg)
WHERE rank <= 10
"""

_CMS_GRID = "CROSS JOIN (VALUES (0), (1), (2), (3)) AS g(i)"
_CMS_BUCKET = (
    "CAST('0x' || substr(md5('cms' || CAST(g.i AS VARCHAR) || ':' || {v}),"
    " 1, 15) AS BIGINT) % 64"
)
_CMS_SQL = f"""
WITH tok AS (SELECT unnest({_SIMHASH_TOKS}) AS v FROM documents),
cells AS (
  SELECT g.i AS row, {_CMS_BUCKET.format(v='v')} AS bucket, count(*) AS c
  FROM tok {_CMS_GRID}
  GROUP BY 1, 2),
cand AS (SELECT v AS token, count(*) AS exact FROM tok GROUP BY 1),
probe AS (
  SELECT token, exact, g.i AS row, {_CMS_BUCKET.format(v='token')} AS bucket
  FROM cand {_CMS_GRID}),
est AS (SELECT token, exact, min(c) AS estimate
        FROM probe JOIN cells USING (row, bucket) GROUP BY 1, 2)
SELECT token, estimate, exact, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY estimate DESC, token ASC) AS rank
      FROM est)
WHERE rank <= 20
"""

def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: top-50 raw-pool docs (source ≠ src0) by
    hashed-unigram importance weight against the src0 target corpus
    (operators/llm/importance.dsir_weights)."""
    from ..operators.llm.importance import dsir_weights

    docs = load_table(spark, sf_dir, "documents")
    return dsir_weights(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n_buckets=1024,
        k=50,
    )


#: DSIR twin: identical salted-md5 bucketing, identical smoothing ratio
#: association, half-up 10^-6 fixed-point quantize of ln, exact integer
#: per-doc sum — see importance.py's determinism contract.
_DSIR_B = "CAST('0x' || substr(md5('dsir:' || t), 1, 15) AS BIGINT) % 1024"
_DSIR_SQL = f"""
WITH t_tok AS (
  SELECT unnest({_TOKS}) AS t FROM documents
  WHERE source = 'src0' AND length({_NORM}) > 0),
r_tok AS (
  SELECT doc_id AS doc, unnest({_TOKS}) AS t FROM documents
  WHERE source <> 'src0' AND length({_NORM}) > 0),
t_hist AS (SELECT {_DSIR_B} AS b, count(*) AS ct FROM t_tok GROUP BY 1),
r_hist AS (SELECT {_DSIR_B} AS b, count(*) AS cr FROM r_tok GROUP BY 1),
tot AS (SELECT (SELECT sum(ct) FROM t_hist) AS st,
               (SELECT sum(cr) FROM r_hist) AS sr),
lut AS (
  SELECT r_hist.b,
         CAST(floor(ln(((COALESCE(t_hist.ct, 0) + 1.0) / (tot.st + 1024.0))
                       / ((r_hist.cr + 1.0) / (tot.sr + 1024.0)))
                    * 1000000.0 + 0.5) AS BIGINT) AS lr_fp
  FROM r_hist LEFT JOIN t_hist USING (b), tot),
probes AS (SELECT doc, {_DSIR_B} AS b FROM r_tok),
scored AS (
  SELECT d.doc_id AS doc, CAST(count(p.b) AS BIGINT) AS n_toks,
         CAST(COALESCE(sum(lut.lr_fp), 0) AS BIGINT) AS s_fp
  FROM documents d
  LEFT JOIN probes p ON p.doc = d.doc_id
  LEFT JOIN lut ON lut.b = p.b
  WHERE d.source <> 'src0'
  GROUP BY 1)
SELECT doc AS doc_id, n_toks, round(s_fp / 1000000.0, 6) AS logw,
       CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (ORDER BY s_fp DESC, doc ASC) AS rank
      FROM scored)
WHERE rank <= 50
"""


def q_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle count / clustering coefficient over the MinHash
    near-dup pair graph (operators/graph.triangle_stats) — separates tight
    duplicate cliques from hub-and-spoke template families.  Oracle-valid
    for the LSH pair set per the q_minhash_dedup recall note."""
    from ..operators.graph import triangle_stats
    from ..operators.llm.minhash import lsh_pairs_key

    docs = load_table(spark, sf_dir, "documents")
    # the pair key spares triangle_stats a _plan_key walk of the LSH plan
    return triangle_stats(
        registry_plan("q_minhash_dedup", spark, sf_dir, q_minhash_dedup),
        key=lsh_pairs_key(docs, threshold=0.5),
    )


#: Triangle twin: same exact-Jaccard pairs CTE as _CLUSTER_SQL, then the
#: identical degree-ordered orientation, wedge join, and closure.
_TRIANGLE_SQL = (
    f"WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),"
    f"sh AS (SELECT doc_id AS doc, unnest({_SHINGLES}) AS s FROM t),"
    "sz AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),"
    "inter AS (SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_common"
    "  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc GROUP BY 1, 2),"
    "pairs AS (SELECT id_a, id_b FROM inter"
    "  JOIN sz sa ON id_a = sa.doc JOIN sz sb ON id_b = sb.doc"
    "  WHERE round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) >= 0.5),"
    "sym AS (SELECT id_a AS a, id_b AS b FROM pairs"
    "  UNION ALL SELECT id_b, id_a FROM pairs),"
    "deg AS (SELECT a AS v, count(*) AS degree FROM sym GROUP BY 1),"
    "ed AS (SELECT p.id_a AS a, p.id_b AS b, da.degree AS da, db.degree AS db"
    "  FROM pairs p JOIN deg da ON p.id_a = da.v JOIN deg db ON p.id_b = db.v),"
    "oriented AS (SELECT"
    "  CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END AS src,"
    "  CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END AS dst"
    "  FROM ed),"
    "wedge AS (SELECT o1.src AS u, o1.dst AS v, o2.dst AS w"
    "  FROM oriented o1 JOIN oriented o2"
    "  ON o1.src = o2.src AND o1.dst < o2.dst),"
    "tri AS (SELECT g.u, g.v, g.w FROM wedge g JOIN pairs e"
    "  ON least(g.v, g.w) = e.id_a AND greatest(g.v, g.w) = e.id_b),"
    "perv AS (SELECT x AS v, count(*) AS triangles FROM"
    "  (SELECT unnest([tr.u, tr.v, tr.w]) AS x FROM tri tr) GROUP BY 1)"
    " SELECT deg.v AS vertex, CAST(deg.degree AS BIGINT) AS degree,"
    "  CAST(COALESCE(perv.triangles, 0) AS BIGINT) AS triangles,"
    "  CASE WHEN deg.degree >= 2 THEN"
    "   round((2.0 * COALESCE(perv.triangles, 0))"
    "         / (deg.degree * (deg.degree - 1)), 6)"
    "  ELSE 0.0 END AS clustering"
    " FROM deg LEFT JOIN perv ON deg.v = perv.v"
)


def q_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefilter audit for decontamination: benchmark set = src1's
    normalized texts, probe = whole corpus, per-source verdict counts
    (operators/scale.bloom_prefilter_audit).  m=256/k=2 geometry is
    deliberately small so the false-positive column is non-degenerate at
    fixture scale — production sizes m ≈ 10·n."""
    from ..operators.scale import bloom_prefilter_audit

    docs = load_table(spark, sf_dir, "documents")
    probe = docs.select(
        "doc_id", "source", normalized_text(F.col("text")).alias("norm")
    )
    build = docs.filter(F.col("source") == "src1").select(
        normalized_text(F.col("text")).alias("norm")
    )
    return bloom_prefilter_audit(
        probe,
        build,
        probe_col="norm",
        build_col="norm",
        group_cols=["source"],
        m=256,
        k=2,
    )


def _bloom_pos_sql(i: int, m: int) -> str:
    return f"CAST('0x' || substr(md5('bloom{i}:' || v), 1, 15) AS BIGINT) % {m}"


_BLOOM_SQL = f"""
WITH build AS (SELECT DISTINCT {_NORM} AS v FROM documents WHERE source = 'src1'),
bits AS (SELECT DISTINCT unnest([{_bloom_pos_sql(0, 256)},
                                 {_bloom_pos_sql(1, 256)}]) AS bit FROM build),
probe AS (SELECT source, {_NORM} AS v FROM documents),
flag AS (SELECT source,
    COALESCE(({_bloom_pos_sql(0, 256)} IN (SELECT bit FROM bits))
             AND ({_bloom_pos_sql(1, 256)} IN (SELECT bit FROM bits)),
             FALSE) AS bloom_pass,
    COALESCE(v IN (SELECT v FROM build), FALSE) AS exact
  FROM probe)
SELECT source, CAST(count(*) AS BIGINT) AS n_probe,
  CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
  CAST(sum(CASE WHEN exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
  CAST(sum(CASE WHEN bloom_pass AND NOT exact THEN 1 ELSE 0 END) AS BIGINT)
    AS n_false_pos
FROM flag GROUP BY source
"""


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe revenue rollup: lineitem (the probe side, where a hot
    part key would serialize into one task) salted across 8 sub-keys and
    joined to the small-part dim replicated to match
    (operators/scale.salted_join), then per-brand fixed-point revenue.

    Correctness contract: salting is RESULT-INVARIANT — the oracle is the
    plain join, so any double-count or drop in the salt/replicate
    machinery fails the hash.  At fixture scale Catalyst may still
    broadcast the ×8 build side (harmless); at 100 TB the pattern is for
    the skewed, broadcast-ineligible probe feeding a window or
    grouped-map next, where AQE's sort-merge skew split can't help.
    Revenue is summed as exact scaled longs (price·100 × (100−disc·100)),
    divided once at the end — order-independent, so Spark's partial
    aggregation matches DuckDB serially."""
    from ..operators.scale import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        (
            F.round(F.col("l_extendedprice") * 100).cast("long")
            * (100 - F.round(F.col("l_discount") * 100).cast("long"))
        ).alias("rev_fp"),
    )
    pt = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") < 10)
        .select(F.col("p_partkey").alias("l_partkey"), "p_brand")
    )
    return (
        salted_join(li, pt, ["l_partkey"], n_salts=8)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(F.sum("rev_fp") / 10000.0, 4).alias("revenue"),
        )
    )


_SALTED_SQL = """
WITH j AS (
  SELECT p.p_brand,
         CAST(round(l.l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l.l_discount * 100) AS BIGINT)) AS rev_fp
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_size < 10)
SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
       round(sum(rev_fp) / 10000.0, 4) AS revenue
FROM j GROUP BY 1
"""


def q_adaptive_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-ADAPTIVE join: events (the probe side, whose user_id
    distribution is hot-headed) joined to the customer dim through
    ``operators/scale.adaptive_salted_join`` — a TakeOrdered hot-key
    probe first, then ONLY keys above the ppm threshold are salted
    across 8 sub-keys (the build side replicates just for those);
    every other key joins with constant salt 0.  The end-to-end
    probe→threshold→selective-salt path runs inside the query.

    Correctness contract: adaptivity is RESULT-INVARIANT — the oracle
    is the plain inner join, so a dropped cold key, a double-counted
    replicated hot row, or a probe miscount all fail the hash.  The
    threshold (500 ppm) is below the fixtures' top-key share at every
    SF, so the salted branch (not the balanced-data fallback) is the
    one exercised.  Sums ride decimal(18,6) — exact and
    order-independent, immune to partial-aggregation reordering."""
    from ..operators.scale import adaptive_salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("value").cast("decimal(18,6)").alias("val")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = adaptive_salted_join(
        ev, cust, ["user_id"], n_salts=8, probe_top=10, min_share_ppm=500
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("val").cast("double"), 4).alias("sum_value"),
        )
        .orderBy("c_mktsegment")
    )


_ADAPTIVE_SALTED_SQL = """
SELECT c.c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_events,
       round(CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE), 4)
         AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1 ORDER BY 1
"""


def q_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key skew probe over the events stream: the 10 most frequent
    user ids with exact counts and integer ppm traffic share
    (operators/scale.top_keys) — the diagnostic that decides whether a
    downstream join gets salted, isolated, or pre-aggregated.  TakeOrdered
    top-k (no full sort); the 1-row total is broadcast.  Ties broken by
    key ascending so the reported set is deterministic cross-engine."""
    from ..operators.scale import top_keys

    ev = load_table(spark, sf_dir, "events")
    tk = top_keys(ev, ["user_id"], n=10)
    tot = ev.agg(F.count(F.lit(1)).alias("__tot"))
    return tk.crossJoin(F.broadcast(tot)).select(
        "user_id",
        "n_rows",
        F.expr("n_rows * 1000000L DIV __tot").alias("share_ppm"),
    )


_HOTKEYS_SQL = """
WITH tot AS (SELECT count(*) AS t FROM events),
tk AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_rows
       FROM events GROUP BY 1
       ORDER BY n_rows DESC, user_id ASC LIMIT 10)
SELECT tk.user_id, tk.n_rows,
       CAST(tk.n_rows * 1000000 // tot.t AS BIGINT) AS share_ppm
FROM tk, tot
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Square-root-allocation stratified sample: 200-doc budget split
    across (source, lang) strata ∝ sqrt(stratum size), rows chosen by
    salted-md5 rank (operators/llm/curation.stratified_sample)."""
    from ..operators.llm.curation import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, ["source", "lang"], budget=200)


_STRAT_SQL = """
WITH counts AS (
  SELECT source, lang, count(*) AS n,
         CAST(floor(sqrt(count(*)) * 1000000.0 + 0.5) AS BIGINT) AS q
  FROM documents GROUP BY 1, 2),
tot AS (SELECT sum(q) AS tq FROM counts),
alloc AS (SELECT source, lang,
          CAST(CAST(200 AS HUGEINT) * q // tot.tq AS BIGINT) AS alloc
          FROM counts, tot),
ranked AS (
  SELECT source, lang, doc_id,
         row_number() OVER (PARTITION BY source, lang
             ORDER BY md5('strat' || CAST(doc_id AS VARCHAR)) ASC,
                      doc_id ASC) AS rk
  FROM documents)
SELECT r.source, r.lang, r.doc_id, a.alloc
FROM ranked r JOIN alloc a ON r.source = a.source AND r.lang = a.lang
WHERE r.rk <= a.alloc
"""


def q_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scores: per-doc average NLL under a
    bucketed-bigram model trained on the src0 target corpus
    (operators/llm/importance.lm_quality_score)."""
    from ..operators.llm.importance import lm_quality_score

    docs = load_table(spark, sf_dir, "documents")
    return lm_quality_score(docs, docs.filter(F.col("source") == "src0"))


#: LM-quality twin: LATERAL-unnest bigram pairs, identical hashed buckets
#: and smoothing association, half-up 10^-6 fixed-point quantize of -ln.
_LMQ_B = "CAST('0x' || substr(md5('dsir:' || {v}), 1, 15) AS BIGINT) % 1024"
_LMQ_SQL = f"""
WITH tt AS (SELECT doc_id, {_TOKS} AS toks FROM documents
            WHERE source = 'src0' AND length({_NORM}) > 0),
t_bg AS (SELECT {_LMQ_B.format(v='toks[i]')} AS pb,
                {_LMQ_B.format(v='toks[i+1]')} AS cb
         FROM tt, LATERAL unnest(generate_series(1, len(toks) - 1)) AS g(i)),
bg_hist AS (SELECT pb, cb, count(*) AS cbg FROM t_bg GROUP BY 1, 2),
ctx_hist AS (SELECT pb, count(*) AS cctx FROM t_bg GROUP BY 1),
rt AS (SELECT doc_id, {_TOKS} AS toks FROM documents
       WHERE length({_NORM}) > 0),
r_bg AS (SELECT doc_id AS doc, {_LMQ_B.format(v='toks[i]')} AS pb,
                {_LMQ_B.format(v='toks[i+1]')} AS cb
         FROM rt, LATERAL unnest(generate_series(1, len(toks) - 1)) AS g(i)),
probes AS (SELECT pb, cb, count(*) AS n FROM r_bg GROUP BY 1, 2),
lut AS (SELECT p.pb, p.cb,
    CAST(floor(-ln((COALESCE(b.cbg, 0) + 1.0) / (COALESCE(c.cctx, 0) + 1024.0))
               * 1000000.0 + 0.5) AS BIGINT) AS nll_fp
  FROM probes p
  LEFT JOIN bg_hist b ON p.pb = b.pb AND p.cb = b.cb
  LEFT JOIN ctx_hist c ON p.pb = c.pb),
scored AS (
  SELECT r.doc, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(l.nll_fp) AS BIGINT) AS s_fp
  FROM r_bg r JOIN lut l ON r.pb = l.pb AND r.cb = l.cb
  GROUP BY 1)
SELECT d.doc_id, CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(s.s_fp / (s.n_bigrams * 1000000.0), 6) AS avg_nll
FROM documents d LEFT JOIN scored s ON s.doc = d.doc_id
"""


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-5 for the first 8 query vectors:
    32 subspaces x 16 Lloyd-refined codewords (4 bits each, 16 B/vector);
    the corpus side of the search ships only codes (operators/llm/pq.py)."""
    from ..operators.llm.pq import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, emb.filter(F.col("vec_id") < 8), k=5, dim=64)


#: PQ twin: same hash-selected seed codewords, two unrolled per-subspace
#: L2 Lloyd iterations (exact quantized-int update sums), same
#: left-to-right sub-distance folds quantized to 10^-6 fixed point, same
#: integer ADC sums and tie-breaks — no float comparison crosses the
#: engine boundary.  Geometry: M=32 subspaces × 2 dims, K=16.
_PQ_D = (
    "CAST(floor(list_sum([({a}[j] - {b}[j]) * ({a}[j] - {b}[j])"
    " for j in generate_series(1, 2)]) * 1000000.0 + 0.5) AS BIGINT)"
)


def _pq_lloyd_cte(i: int) -> str:
    """One unrolled per-subspace Lloyd iteration (cb{i-1} → cb{i}) —
    mirrors operators/llm/pq.pq_refine: quantized-int argmin assignment
    with cid tie-break, exact int64 component sums, one double division,
    empty cells keep their codeword."""
    return f"""pasg{i} AS (
  SELECT m, cid, sv FROM (
    SELECT s.vid, s.m, s.sv, ct.cid,
           row_number() OVER (PARTITION BY s.vid, s.m
             ORDER BY {_PQ_D.format(a="s.sv", b="ct.cv")} ASC,
                      ct.cid ASC) AS rn
    FROM sub s JOIN cb{i - 1} ct ON s.m = ct.m)
  WHERE rn = 1
), pqs{i} AS (
  SELECT m, cid, d,
         CAST(sum(CAST(floor(sv[d] * {SRP_QUANT_SCALE} + 0.5) AS BIGINT))
              AS BIGINT) AS s,
         count(*) AS cnt
  FROM pasg{i} CROSS JOIN (SELECT unnest(range(1, 3)) AS d) dims
  GROUP BY 1, 2, 3
), pup{i} AS (
  SELECT m, cid, list(s / (cnt * {float(SRP_QUANT_SCALE)}) ORDER BY d) AS ncv
  FROM pqs{i} GROUP BY 1, 2
), cb{i} AS (
  SELECT p.m, p.cid, coalesce(u.ncv, p.cv) AS cv
  FROM cb{i - 1} p LEFT JOIN pup{i} u ON p.m = u.m AND p.cid = u.cid
)"""


#: Shared CTE prefix: unit-normalize → subspaces → hash-picked seed
#: codewords → two Lloyd rounds → final codebook + corpus codes.  The
#: flat-PQ search twin (_PQ_SQL) and the distortion report twin
#: (_PQ_DISTORTION_SQL) both build on exactly this index state.
_PQ_INDEX_CTES = f"""n AS (
  -- unit-normalized (PQ quantizes directions; see operators/llm/pq._unit)
  SELECT vec_id,
         [CAST(x AS DOUBLE)
          / sqrt(list_sum([CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
                           for y in embedding]))
          for x in embedding] AS v
  FROM embeddings
), ms AS (SELECT unnest(range(0, 32)) AS m),
sub AS (
  SELECT vec_id AS vid, ms.m, v[ms.m * 2 + 1 : ms.m * 2 + 2] AS sv
  FROM n CROSS JOIN ms
), cw AS (
  SELECT vec_id AS cid, v FROM n
  ORDER BY (CAST(vec_id AS BIGINT) * 2654435761) % 2147483648, vec_id
  LIMIT 16
), cb0 AS (
  SELECT ms.m, cw.cid, cw.v[ms.m * 2 + 1 : ms.m * 2 + 2] AS cv
  FROM cw CROSS JOIN ms
), {_pq_lloyd_cte(1)}, {_pq_lloyd_cte(2)}, cb AS (
  SELECT * FROM cb2
), codes AS (
  SELECT vid, m, cid AS code FROM (
    SELECT s.vid, s.m, ct.cid,
           row_number() OVER (PARTITION BY s.vid, s.m
             ORDER BY {_PQ_D.format(a="s.sv", b="ct.cv")} ASC,
                      ct.cid ASC) AS rn
    FROM sub s JOIN cb ct ON s.m = ct.m)
  WHERE rn = 1
)"""

_PQ_SQL = f"""
WITH {_PQ_INDEX_CTES}, dt AS (
  SELECT s.vid AS qid, s.m, ct.cid AS code,
         {_PQ_D.format(a="s.sv", b="ct.cv")} AS d_fp
  FROM sub s JOIN cb ct ON s.m = ct.m
  WHERE s.vid < 8
), sc AS (
  SELECT dt.qid AS q_id, codes.vid AS nn_id,
         CAST(sum(dt.d_fp) AS BIGINT) AS s_fp
  FROM codes JOIN dt ON codes.m = dt.m AND codes.code = dt.code
  WHERE dt.qid != codes.vid
  GROUP BY 1, 2)
SELECT q_id, nn_id, round(s_fp / 1000000.0, 6) AS adist,
       CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
          ORDER BY s_fp ASC, nn_id ASC) AS rank FROM sc)
WHERE rank <= 5
"""


def q_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ quantization distortion — the index-quality
    report a vector store publishes after (re)training: for every
    subspace, the count of encoded subvectors, the EXACT fixed-point
    sum of squared quantization errors (distance from each subvector to
    its assigned codeword), and the mean squared error.  High-MSE
    subspaces are where recall leaks; watching this per ingest decides
    when the frozen codebook needs an offline retrain
    (operators/llm/pq.pq_codebook).  The assigned codeword IS the
    distance-argmin, so the per-subvector error is computed directly as
    ``min(d_fp)`` over the broadcast codebook — no join against the
    code table, no corpus-keyed shuffle beyond one map-side-combinable
    aggregation of (vid, m, long) rows.  All-integer until one final
    division, so Spark's partial aggregation and DuckDB's serial sum
    cannot diverge."""
    from ..operators.llm.pq import (
        _prepared,
        _sqdist_fp,
        _subspaces,
        _unit,
        pq_codebook,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    m, dim = 32, 64
    cb = pq_codebook(emb, m=m, dim=dim)
    sub = _subspaces(_unit(_prepared(emb, "vec_id", "embedding")), m=m)
    per_sv = (
        sub.join(F.broadcast(cb), "m")
        .groupBy("vid", "m")
        .agg(F.min(_sqdist_fp(F.col("sv"), F.col("cv"), dim // m)).alias("d_fp"))
    )
    return (
        per_sv.groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum("d_fp").cast("long").alias("sum_sqerr_fp"),
        )
        .select(
            F.col("m").cast("long").alias("subspace"),
            "n_vectors",
            "sum_sqerr_fp",
            F.round(
                F.col("sum_sqerr_fp") / (F.col("n_vectors") * 1000000.0), 6
            ).alias("mse"),
        )
    )


#: Distortion twin: the shared index CTEs, then each subvector's
#: fixed-point distance to its assigned codeword — stated as the
#: distance-MIN over the codebook (assignment is the argmin, so min
#: distance ≡ assigned-codeword distance), aggregated exactly.
_PQ_DISTORTION_SQL = f"""
WITH {_PQ_INDEX_CTES}, derr AS (
  SELECT s.vid, s.m,
         min({_PQ_D.format(a="s.sv", b="ct.cv")}) AS d_fp
  FROM sub s JOIN cb ct ON s.m = ct.m
  GROUP BY s.vid, s.m)
SELECT CAST(m AS BIGINT) AS subspace,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(d_fp) AS BIGINT) AS sum_sqerr_fp,
       round(sum(d_fp) / (count(*) * 1000000.0), 6) AS mse
FROM derr GROUP BY m
"""


#: Shipped IVF-PQ search knobs: nprobe=16 / rerank=50 — the measured
#: sweet spot (README knob table: recall@5 0.875 at sf0.1, statistically
#: the same wall as nprobe=8's 0.725).  Pinned by the recall-floor test
#: in tests/test_llm_ops.py; the DuckDB oracle below probes the same 16.
#:
#: Honest caveat: the fixture's coarse quantizer has 16 centroids (the
#: oracle-tractable K at 6k vectors — hash-picked centroids degrade
#: above that, measured 0.775 at K=32), so nprobe=16 probes EVERY
#: bucket and the shipped setting is effectively a flat-PQ scan + rerank
#: at fixture scale.  The probe-BOUNDING machinery is what transfers to
#: 100 TB (where K ~ √N and nprobe ≪ K); it is exercised and
#: plan-asserted at nprobe < K by the knob table's 4/8-probe rows,
#: q_embed_ivf_topk, and tests/test_plan_shapes.py.
IVFPQ_NPROBE = 16
IVFPQ_RERANK = 50


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ residual-encoded ANN top-5 for the first 8 queries —
    faiss's IndexIVFPQ layout: coarse cosine buckets + Lloyd-refined
    residual PQ codes; ADC touches only integer code rows in probed
    buckets, then the top-50 ADC candidates are re-ranked by EXACT
    cosine against the raw vectors (faiss IndexRefineFlat; recall@5
    0.875 at sf0.1 with nprobe=16) (operators/llm/pq.ivfpq_topk)."""
    from ..operators.llm.pq import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 8), k=5, dim=64,
        nprobe=IVFPQ_NPROBE, rerank=IVFPQ_RERANK,
    )


#: IVF-PQ twin: coarse assignment = the shared rounded-cosine argmax;
#: residuals, seeds (second xxhash prime so seeds ≠ centroid ids, whose
#: residuals are all-zero), two unrolled residual-PQ Lloyd iterations,
#: quantized-integer ADC over probed buckets — composed from the same
#: CTE generators as _EMBED_IVF_SQL and _PQ_SQL.
_IVFPQ_SQL = f"""
WITH n AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        for x in embedding])) AS nrm
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
  ORDER BY (CAST(vec_id AS BIGINT) * 2654435761) % 2147483648, vec_id
  LIMIT 16
), assigned AS (
  SELECT vec_id, v, nrm, cid AS bucket FROM (
    SELECT c.vec_id, c.v, c.nrm, ct.cid,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY round(list_sum([c.v[i] * ct.cv[i]
                        for i in generate_series(1, len(c.v))])
                        / (c.nrm * ct.cnrm), 6) DESC, ct.cid ASC) AS rn
    FROM n c CROSS JOIN cent ct)
  WHERE rn = 1
), ucent AS (
  SELECT cid AS bucket,
         [cv[i] / cnrm for i in generate_series(1, len(cv))] AS ucv
  FROM cent
), resid AS (
  SELECT a.vec_id AS vid, a.bucket,
         [a.v[i] / a.nrm - u.ucv[i]
          for i in generate_series(1, len(a.v))] AS v
  FROM assigned a JOIN ucent u USING (bucket)
), ms AS (SELECT unnest(range(0, 32)) AS m),
sub AS (
  SELECT vid, bucket, ms.m, v[ms.m * 2 + 1 : ms.m * 2 + 2] AS sv
  FROM resid CROSS JOIN ms
), seeds AS (
  SELECT vid, v FROM resid
  ORDER BY (CAST(vid AS BIGINT) * 2246822519) % 2147483648, vid
  LIMIT 16
), cb0 AS (
  SELECT ms.m, seeds.vid AS cid, seeds.v[ms.m * 2 + 1 : ms.m * 2 + 2] AS cv
  FROM seeds CROSS JOIN ms
), {_pq_lloyd_cte(1)}, {_pq_lloyd_cte(2)}, cb AS (
  SELECT * FROM cb2
), codes AS (
  SELECT vid, bucket, m, cid AS code FROM (
    SELECT s.vid, s.bucket, s.m, ct.cid,
           row_number() OVER (PARTITION BY s.vid, s.m
             ORDER BY {_PQ_D.format(a="s.sv", b="ct.cv")} ASC,
                      ct.cid ASC) AS rn
    FROM sub s JOIN cb ct ON s.m = ct.m)
  WHERE rn = 1
), probes AS (
  SELECT qid, bucket FROM (
    SELECT q.vec_id AS qid, ct.cid AS bucket,
           row_number() OVER (PARTITION BY q.vec_id
             ORDER BY round(list_sum([q.v[i] * ct.cv[i]
                        for i in generate_series(1, len(q.v))])
                        / (q.nrm * ct.cnrm), 6) DESC, ct.cid ASC) AS rn
    FROM n q CROSS JOIN cent ct
    WHERE q.vec_id < 8)
  WHERE rn <= {IVFPQ_NPROBE}
), quv AS (
  SELECT vec_id AS qid,
         [v[i] / nrm for i in generate_series(1, len(v))] AS uv
  FROM n WHERE vec_id < 8
), qresid AS (
  SELECT p.qid, p.bucket,
         [w.uv[i] - u.ucv[i] for i in generate_series(1, len(w.uv))] AS v
  FROM probes p JOIN quv w USING (qid) JOIN ucent u USING (bucket)
), qsub AS (
  SELECT qid, bucket, ms.m, v[ms.m * 2 + 1 : ms.m * 2 + 2] AS sv
  FROM qresid CROSS JOIN ms
), dt AS (
  SELECT q.qid, q.bucket, q.m, ct.cid AS code,
         {_PQ_D.format(a="q.sv", b="ct.cv")} AS d_fp
  FROM qsub q JOIN cb ct ON q.m = ct.m
), sc AS (
  SELECT dt.qid AS q_id, codes.vid AS nn_id,
         CAST(sum(dt.d_fp) AS BIGINT) AS s_fp
  FROM codes JOIN dt ON codes.bucket = dt.bucket
                    AND codes.m = dt.m AND codes.code = dt.code
  WHERE dt.qid != codes.vid
  GROUP BY 1, 2
), cand AS (
  -- ADC top-IVFPQ_RERANK candidates per query (IndexRefineFlat
  -- pre-selection) — interpolated so a tuned constant re-syncs the twin
  SELECT q_id, nn_id
  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY s_fp ASC, nn_id ASC) AS rn FROM sc)
  WHERE rn <= {IVFPQ_RERANK}
), rer AS (
  -- exact cosine re-rank against the raw vectors
  SELECT c.q_id, c.nn_id,
         round(list_sum([qn.v[i] * nv.v[i]
                         for i in generate_series(1, len(qn.v))])
               / (qn.nrm * nv.nrm), 6) AS score
  FROM cand c JOIN n qn ON qn.vec_id = c.q_id
              JOIN n nv ON nv.vec_id = c.nn_id)
SELECT q_id, nn_id, score, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY q_id
          ORDER BY score DESC, nn_id ASC) AS rank FROM rer)
WHERE rank <= 5
"""


#: Geometry of the materialized fixture index — part of the index-root
#: digest so changed hyperparameters mint a NEW root instead of silently
#: reusing an index trained with the old geometry.
_IVFPQ_IDX_CENTROIDS = 16


def _ivfpq_index_root(sf_dir: str) -> str:
    """Digest-keyed root for the MATERIALIZED IVF-PQ index over
    ``{sf_dir}/embeddings.parquet`` (source identity + geometry — see
    :mod:`.fixture_roots`)."""
    from ..operators.llm.pq import PQ_K, PQ_M
    from .fixture_roots import digest_root

    return digest_root(
        "sfspark_ivfpq_idx",
        [os.path.join(sf_dir, "embeddings.parquet")],
        [_IVFPQ_IDX_CENTROIDS, PQ_M, PQ_K, 64],
    )


def _ensure_ivfpq_index(spark: SparkSession, sf_dir: str) -> str:
    """Build the materialized IVF-PQ index for ``sf_dir`` at most once
    per (testdata generation, geometry) under the shared claim/stage/
    rename protocol (:func:`.fixture_roots.ensure_built`)."""
    from ..streaming.vector_ingest import vector_ingest_batch
    from .fixture_roots import ensure_built

    def build(staging: str) -> None:
        vector_ingest_batch(
            load_table(spark, sf_dir, "embeddings"), staging,
            id_col="vec_id", vec_col="embedding",
            num_centroids=_IVFPQ_IDX_CENTROIDS, dim=64,
        )

    return ensure_built(_ivfpq_index_root(sf_dir), "_INDEX_COMPLETE", build)


#: Deterministic erasure rule for the governed-table audit: every
#: doc_id divisible by this modulus is tombstoned.  Part of the root
#: digest, so a changed rule mints a fresh governed copy.
_ERASURE_MOD = 97


def _erasure_table_root(sf_dir: str) -> str:
    """Digest-keyed /tmp root for the GOVERNED COPY of ``documents``
    (source identity + erasure rule — see :mod:`.fixture_roots`)."""
    from .fixture_roots import digest_root

    return digest_root(
        "sfspark_erasure_tbl",
        [os.path.join(sf_dir, "documents.parquet")],
        [_ERASURE_MOD],
    )


def _ensure_erased_table(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the governed copy at most once per (testdata
    generation, erasure rule): write ``documents`` as a key-clustered
    multi-file snapshot-enabled table, then run the REAL surgical
    erasure (``streaming/forget.py``) over it — literal-prune locate,
    journaled swap, manifest commit, immediate vacuum.  Concurrency-safe
    via the same staging-then-atomic-rename protocol as the IVF-PQ
    index builder.  Erasure is idempotent, so a replay converges to the
    identical table."""
    from ..streaming.forget import forget_keys
    from ..streaming.snapshots import enable_snapshots
    from .fixture_roots import ensure_built

    def build(staging: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        # key-clustered multi-file layout: the erasure's [min,max]/IN
        # prune has real footer stats to act on, as at warehouse scale
        docs.repartitionByRange(4, "doc_id").sortWithinPartitions(
            "doc_id"
        ).write.parquet(staging)
        enable_snapshots(staging)
        tombs = [
            r[0]
            for r in docs.where((F.col("doc_id") % _ERASURE_MOD) == 0)
            .select("doc_id")
            .collect()  # bounded: ~|documents| / MOD ids
        ]
        forget_keys(spark, staging, tombs, "doc_id")

    return ensure_built(
        _erasure_table_root(sf_dir), "_ERASED_COMPLETE", build
    )


def q_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-takedown audit over a GOVERNED table: ``documents`` is
    materialized as a snapshot-enabled parquet table, every
    ``doc_id ≡ 0 (mod {_ERASURE_MOD})`` is erased through the real
    file-surgical delete (locate-prune → journaled swap → manifest
    commit → vacuum), and the query reports exact per-source integers
    over what remains.  The oracle computes the same aggregates from
    the ORIGINAL fixture with the tombstone predicate inverted — so a
    single surviving erased row, a lost survivor row, or a
    double-counted duplicate anywhere in the erasure machinery shifts a
    sum and fails the hash.  (The reference's closest shape is the SQL
    DELETE its data tooling runs; here it is the warehouse-scale form:
    only files containing a tombstoned id were rewritten.)"""
    t = spark.read.parquet(_ensure_erased_table(spark, sf_dir))
    return (
        t.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.length("text")).cast("long").alias("chars"),
            F.sum("doc_id").cast("long").alias("id_sum"),
        )
        .orderBy("source")
    )


_ERASURE_AUDIT_SQL = f"""
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS chars,
       CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM documents
WHERE doc_id IS NULL OR doc_id % {_ERASURE_MOD} <> 0
GROUP BY source
ORDER BY source
"""


def q_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN top-5 against a MATERIALIZED index — the production
    search tier: quantizers are trained and the corpus encoded ONCE
    (:func:`streaming.vector_ingest.vector_ingest_batch`, the same
    frozen-quantizer ingest the streaming path uses); the query measures
    what an interactive vector search actually costs — probe-bounded
    integer-code ADC + exact re-rank over the stored tiers, never a
    training pass.  ``q_ivfpq_topk`` (build + search fused) and this
    query share every quantization/tie-break rule, so one DuckDB oracle
    (`_IVFPQ_SQL`) covers both: the ingest trains on its first batch =
    the full embeddings table here, which is bit-identical to the
    in-session build."""
    from ..streaming.vector_ingest import search_materialized

    root = _ensure_ivfpq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    # pin_codes: this query models the long-lived SERVING tier, which
    # keeps the compressed codes resident (PQ's design premise); the
    # per-micro-batch ingest dedup path leaves it off to stay O(batch)
    return search_materialized(
        spark, root, emb.filter(F.col("vec_id") < 8),
        k=5, nprobe=IVFPQ_NPROBE, dim=64,
        id_col="vec_id", vec_col="embedding", rerank=IVFPQ_RERANK,
        pin_codes=True,
    )


def q_ivfpq_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-balance report over the MATERIALIZED IVF-PQ index's
    coarse-assignment tier — THE operational metric for an IVF index:
    probe cost is driven by the largest buckets, and a skewed coarse
    quantizer silently degrades either latency (hot buckets) or recall
    (starved buckets).  One row per bucket: exact vector count and
    integer parts-per-million share (``(n·10⁶) div total`` — pure
    integer arithmetic, engine-independent).  Reads only the
    ``assignments`` table the ingest maintains; the oracle re-derives
    the same assignment from scratch, so a drift between the
    materialized tier and the definition fails the differential."""
    asg = spark.read.parquet(f"{_ensure_ivfpq_index(spark, sf_dir)}/assignments")
    per = asg.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors")
    )
    tot = per.agg(F.sum("n_vectors").alias("total"))
    return per.crossJoin(F.broadcast(tot)).select(
        F.col("bucket").cast("long").alias("bucket"),
        "n_vectors",
        F.expr("n_vectors * 1000000 div total").cast("long").alias("share_ppm"),
    )


#: Index-stats twin: the shared coarse assignment (rounded-cosine
#: argmax over the 16 hash-picked centroids — same CTE text as
#: _IVFPQ_SQL / _CLUSTER_BALANCE_SQL) grouped by bucket; integer ppm.
_IVFPQ_INDEX_STATS_SQL = """
WITH n AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        for x in embedding])) AS nrm
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
  ORDER BY (CAST(vec_id AS BIGINT) * 2654435761) % 2147483648, vec_id
  LIMIT 16
), assigned AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT c.vec_id, ct.cid,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY round(list_sum([c.v[i] * ct.cv[i]
                        for i in generate_series(1, len(c.v))])
                        / (c.nrm * ct.cnrm), 6) DESC, ct.cid ASC) AS rn
    FROM n c CROSS JOIN cent ct)
  WHERE rn = 1)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST((count(*) * 1000000) // (SELECT count(*) FROM assigned)
            AS BIGINT) AS share_ppm
FROM assigned GROUP BY bucket
"""


def _drift_index_root(sf_dir: str) -> str:
    """Digest-keyed /tmp root for the DRIFT-DEMO IVF-PQ index: trained
    on the first half of ``embeddings`` (by vec_id), then the second
    half ingested against the frozen quantizers — the two-epoch shape
    that makes assignment-share drift a real, non-vacuous signal."""
    from ..operators.llm.pq import PQ_K, PQ_M
    from .fixture_roots import digest_root

    return digest_root(
        "sfspark_drift_idx",
        [os.path.join(sf_dir, "embeddings.parquet")],
        ["drift", _IVFPQ_IDX_CENTROIDS, PQ_M, PQ_K, 64],
    )


def _ensure_drift_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the two-epoch drift index at most once per testdata
    generation (shared claim/stage/rename protocol).  Epoch 1
    (vec_id < mid) TRAINS the quantizers and freezes the seed
    distribution; epoch 2 is assigned/encoded against them — a real
    frozen-quantizer ingest whose live distribution has drifted from
    its training epoch."""
    from ..streaming.vector_ingest import vector_ingest_batch
    from .fixture_roots import ensure_built

    def build(staging: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        # 1-row anchor: the epoch boundary (same split rule in the oracle)
        mid = (emb.agg(F.max("vec_id")).first()[0] + 1) // 2
        for epoch in (
            emb.filter(F.col("vec_id") < mid),
            emb.filter(F.col("vec_id") >= mid),
        ):
            vector_ingest_batch(
                epoch, staging, id_col="vec_id", vec_col="embedding",
                num_centroids=_IVFPQ_IDX_CENTROIDS, dim=64,
            )

    return ensure_built(_drift_index_root(sf_dir), "_INDEX_COMPLETE", build)


def q_index_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-drift observability over a frozen-quantizer ANN index
    (streaming/vector_ingest.index_drift): per-bucket assignment share
    of the LIVE corpus vs the distribution at training time, as exact
    integer ppm, over a two-epoch index (quantizers trained on the
    first half of the vectors, the second half ingested frozen).  At
    100 TB this is THE signal that schedules ``retrain_index``: recall
    degrades silently as buckets overfill/starve, and this query reads
    ONLY the assignments + seed_stats tiers — bytes per million
    vectors, never the vectors or codes.  The oracle re-derives both
    epochs' assignments from scratch (shared hash-picked-centroid +
    rounded-cosine-argmax CTE text), so a drift between the
    materialized tiers and the definition fails the hash."""
    from ..streaming.vector_ingest import index_drift

    root = _ensure_drift_index(spark, sf_dir)
    return index_drift(spark, root).orderBy("bucket")


_INDEX_DRIFT_SQL = f"""
WITH n AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        for x in embedding])) AS nrm
  FROM embeddings
), mid AS (SELECT (max(vec_id) + 1) // 2 AS m FROM embeddings),
cent AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
  WHERE vec_id < (SELECT m FROM mid)
  ORDER BY (CAST(vec_id AS BIGINT) * 2654435761) % 2147483648, vec_id
  LIMIT {_IVFPQ_IDX_CENTROIDS}
), assigned AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT c.vec_id, ct.cid,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY round(list_sum([c.v[i] * ct.cv[i]
                        for i in generate_series(1, len(c.v))])
                        / (c.nrm * ct.cnrm), 6) DESC, ct.cid ASC) AS rn
    FROM n c CROSS JOIN cent ct)
  WHERE rn = 1),
seed_counts AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_seed FROM assigned
  WHERE vec_id < (SELECT m FROM mid) GROUP BY 1),
cur_counts AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_current
  FROM assigned GROUP BY 1),
tot AS (SELECT (SELECT sum(n_seed) FROM seed_counts) AS ts,
               (SELECT sum(n_current) FROM cur_counts) AS tc)
SELECT CAST(c.bucket AS BIGINT) AS bucket,
       CAST(coalesce(s.n_seed, 0) AS BIGINT) AS n_seed,
       c.n_current,
       CAST(coalesce(s.n_seed, 0) * 1000000 // tot.ts AS BIGINT)
         AS seed_ppm,
       CAST(c.n_current * 1000000 // tot.tc AS BIGINT) AS cur_ppm,
       CAST(c.n_current * 1000000 // tot.tc
            - coalesce(s.n_seed, 0) * 1000000 // tot.ts AS BIGINT)
         AS drift_ppm
FROM cur_counts c LEFT JOIN seed_counts s USING (bucket), tot
ORDER BY bucket
"""


#: Drift threshold for the retrain-demo fixture, tuned to the synthetic
#: embeddings' drift scale (max |drift| is 1-3% across SFs — the vectors
#: are near-uniform, so epoch splits move shares gently).  Production
#: keeps maybe_retrain's 10% default; the POLICY under test is the same.
_RETRAIN_DEMO_PPM = 5_000


def _retrained_index_root(sf_dir: str) -> str:
    """Digest-keyed /tmp root for the POST-RETRAIN index: the drift-demo
    two-epoch index after ``maybe_retrain`` crossed the demo threshold
    and ``retrain_index`` swapped all five tiers."""
    from ..operators.llm.pq import PQ_K, PQ_M
    from .fixture_roots import digest_root

    return digest_root(
        "sfspark_retrained_idx",
        [os.path.join(sf_dir, "embeddings.parquet")],
        ["retrain", _IVFPQ_IDX_CENTROIDS, PQ_M, PQ_K, 64, _RETRAIN_DEMO_PPM],
    )


def _ensure_retrained_index(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the drift→retrain closure at most once per testdata
    generation: rebuild the SAME two-epoch drifted index as
    ``_ensure_drift_index`` (epoch 1 trains, epoch 2 ingests frozen),
    then run the real maintenance tick — ``maybe_retrain`` measures
    drift, crosses the demo threshold, and ``retrain_index`` rebuilds
    the quantizers from the full corpus and swaps all five tiers through
    the crash-healing journal.  The build REFUSES to complete unless the
    retrain genuinely fired (no dead-code fixtures)."""
    from ..streaming.vector_ingest import maybe_retrain, vector_ingest_batch
    from .fixture_roots import ensure_built

    def build(staging: str) -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        mid = (emb.agg(F.max("vec_id")).first()[0] + 1) // 2
        for epoch in (
            emb.filter(F.col("vec_id") < mid),
            emb.filter(F.col("vec_id") >= mid),
        ):
            vector_ingest_batch(
                epoch, staging, id_col="vec_id", vec_col="embedding",
                num_centroids=_IVFPQ_IDX_CENTROIDS, dim=64,
            )
        out = maybe_retrain(
            spark, staging,
            drift_threshold_ppm=_RETRAIN_DEMO_PPM,
            num_centroids=_IVFPQ_IDX_CENTROIDS, dim=64,
        )
        if not out.get("retrained"):
            raise RuntimeError(
                f"retrain-demo fixture did not fire: {out} "
                f"(threshold {_RETRAIN_DEMO_PPM} ppm)"
            )

    return ensure_built(
        _retrained_index_root(sf_dir), "_INDEX_COMPLETE", build
    )


def q_index_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``q_index_drift``'s closure (VERDICT r8 #8): the SAME two-epoch
    drifted index after the maintenance tick — ``maybe_retrain`` crossed
    the threshold, ``retrain_index`` retrained the quantizers on the
    full corpus and swapped every tier — re-measured with the SAME
    ``index_drift`` operator.  Post-retrain, seed_stats IS the live
    distribution, so every bucket's ``drift_ppm`` must be exactly 0 and
    seed == current counts; the oracle re-derives the retrained
    assignment from scratch (full-corpus hash-picked centroids +
    rounded-cosine argmax), so a wrong retrain — stale tier, mixed swap,
    wrong training set — fails the hash, not just a zero-check.  The
    decayed-counters serving pattern applied to the vector index."""
    from ..streaming.vector_ingest import index_drift

    root = _ensure_retrained_index(spark, sf_dir)
    return index_drift(spark, root).orderBy("bucket")


#: Post-retrain twin of _INDEX_DRIFT_SQL: centroids hash-picked from the
#: FULL corpus (retrain_index trains on the whole vectors tier), seed ==
#: current by construction, drift identically 0.
_INDEX_RETRAIN_SQL = f"""
WITH n AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        for x in embedding])) AS nrm
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
  ORDER BY (CAST(vec_id AS BIGINT) * 2654435761) % 2147483648, vec_id
  LIMIT {_IVFPQ_IDX_CENTROIDS}
), assigned AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT c.vec_id, ct.cid,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY round(list_sum([c.v[i] * ct.cv[i]
                        for i in generate_series(1, len(c.v))])
                        / (c.nrm * ct.cnrm), 6) DESC, ct.cid ASC) AS rn
    FROM n c CROSS JOIN cent ct)
  WHERE rn = 1),
counts AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS nb FROM assigned GROUP BY 1),
tot AS (SELECT sum(nb) AS t FROM counts)
SELECT CAST(bucket AS BIGINT) AS bucket,
       nb AS n_seed, nb AS n_current,
       CAST(nb * 1000000 // tot.t AS BIGINT) AS seed_ppm,
       CAST(nb * 1000000 // tot.t AS BIGINT) AS cur_ppm,
       CAST(0 AS BIGINT) AS drift_ppm
FROM counts, tot ORDER BY bucket
"""


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking of the media BLOBs: per-chunk rows with
    content-derived boundaries + hex-md5 digests (operators/llm/cdc.py).
    ``sf_dir`` unused — the committed BLOB fixture is the input, as for
    the other media queries."""
    from ..operators.llm.cdc import cdc_chunks

    return cdc_chunks(media_assets_fixture(spark))


def q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-modality CDC dedup rollup: total vs distinct chunks/bytes."""
    from ..operators.llm.cdc import cdc_dedup_stats

    return cdc_dedup_stats(media_assets_fixture(spark))


def _cdc_poly(p: str) -> str:
    """Unrolled byte-valued Karp-Rabin over the 8-byte window starting at
    0-based position ``p`` of hex column ``h`` — step-for-step the numpy
    kernel: ``h = (h*257 + b) % (2^31-1)`` per byte."""
    expr = "CAST(0 AS BIGINT)"
    for j in range(8):
        byte = f"CAST('0x' || substr(a.h, 2*(({p}) + {j}) + 1, 2) AS BIGINT)"
        expr = f"(({expr}) * 257 + {byte}) % 2147483647"
    return expr


_CDC_CHUNKS_SQL = f"""
WITH a AS (
  -- NULL / zero-length blobs produce no chunks (the kernel contract:
  -- cdc.py skips both), so exclude them from every downstream CTE
  SELECT asset_id, modality, lower(hex(content)) AS h,
         octet_length(content) AS n
  FROM read_parquet('{MEDIA_FIXTURE_PATH}/*.parquet')
  WHERE content IS NOT NULL AND octet_length(content) > 0),
pos AS (
  SELECT asset_id, p FROM a,
  LATERAL unnest(generate_series(0, n - 8)) AS t(p) WHERE n >= 8),
gram AS (
  SELECT pos.asset_id, pos.p, {{poly}} AS rh
  FROM pos JOIN a USING (asset_id)),
ends AS (SELECT asset_id, p + 7 AS e FROM gram WHERE rh % 16 = 0),
starts AS (
  SELECT DISTINCT asset_id, s FROM (
    SELECT asset_id, 0 AS s FROM a
    UNION ALL
    SELECT ends.asset_id, e + 1 AS s
    FROM ends JOIN a USING (asset_id) WHERE e + 1 < n)),
chunks AS (
  SELECT st.asset_id, st.s,
         coalesce(lead(st.s) OVER (PARTITION BY st.asset_id ORDER BY st.s),
                  a.n) AS e,
         row_number() OVER (PARTITION BY st.asset_id ORDER BY st.s) - 1
           AS chunk_idx
  FROM starts st JOIN a USING (asset_id))
SELECT c.asset_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(e - s AS INTEGER) AS chunk_len,
       md5(substr(a.h, 2*s + 1, 2*(e - s))) AS chunk_digest
FROM chunks c JOIN a USING (asset_id)
""".replace("{poly}", _cdc_poly("pos.p"))

_CDC_DEDUP_SQL = f"""
WITH chunked AS ({_CDC_CHUNKS_SQL}),
j AS (SELECT c.*, a.modality FROM chunked c JOIN
      (SELECT asset_id, modality
       FROM read_parquet('{MEDIA_FIXTURE_PATH}/*.parquet')) a
      USING (asset_id)),
per_digest AS (
  SELECT modality AS grp, chunk_digest, count(*) AS refs,
         min(chunk_len) AS clen
  FROM j GROUP BY 1, 2),
apg AS (SELECT modality AS grp, count(DISTINCT asset_id) AS n_assets
        FROM read_parquet('{MEDIA_FIXTURE_PATH}/*.parquet') GROUP BY 1),
agg AS (
  SELECT grp, CAST(sum(refs) AS BIGINT) AS n_chunks,
         CAST(count(*) AS BIGINT) AS n_distinct_chunks,
         CAST(sum(refs * clen) AS BIGINT) AS total_bytes,
         CAST(sum(clen) AS BIGINT) AS distinct_bytes
  FROM per_digest GROUP BY 1)
SELECT agg.grp AS modality, CAST(apg.n_assets AS BIGINT) AS n_assets,
       n_chunks, n_distinct_chunks, total_bytes, distinct_bytes,
       round(distinct_bytes / (total_bytes * 1.0), 6) AS dedup_ratio
FROM agg JOIN apg USING (grp)
"""


def _mp_byte(p: str) -> str:
    """Byte at 0-based position ``p`` of hex column ``h``."""
    return f"CAST('0x' || substr(h, 2*({p}) + 1, 2) AS BIGINT)"


def _mp_u32(off: int) -> str:
    """Little-endian u32 at byte offset ``off`` of hex column ``h``."""
    return " + ".join(
        f"{_mp_byte(str(off + k))} * {256 ** k}" for k in range(4)
    )


def _media_phash_sql(*, with_padded: bool) -> str:
    """DuckDB twin of perceptual_hashes: BMP pixel-grid + WAV
    sample-stream decode from the raw BLOB hex, identical floor-boundary
    cells and cross-multiplied gradient bits.  ``with_padded`` adds the
    byte-padded twin assets (ids +1000) for the pairs query.

    CANONICAL-CONTAINER ASSUMPTION (fixture-bound oracle, like the CDC
    twins): this SQL decodes only the layouts the committed fixture
    emits — BMP height as unsigned LE u32 with bottom-up row order, and
    the WAV sample count/data at fixed offsets 40/44 (canonical
    fmt-then-data chunk order).  The OPERATOR is more general (signed /
    negative top-down BMP heights, chunk-walked WAV); a fixture asset
    using those forms would be a false differential mismatch here, so
    any future fixture change must keep canonical containers or extend
    this twin in lockstep."""
    base = (
        "SELECT asset_id, modality, lower(hex(content)) AS h "
        f"FROM read_parquet('{MEDIA_FIXTURE_PATH}/*.parquet')"
    )
    padded = (
        "SELECT asset_id + 1000, modality, lower(hex(content)) || '00' "
        f"FROM read_parquet('{MEDIA_FIXTURE_PATH}/*.parquet')"
    )
    src = f"{base} UNION ALL {padded}" if with_padded else base
    gray = " + ".join(
        _mp_byte(f"m.off + m.stride * (m.hh - 1 - y) + 3 * x + {k}")
        for k in range(3)
    )
    return f"""
WITH a AS ({src}),
img AS (
  SELECT asset_id, h, {_mp_u32(10)} AS off,
         {_mp_u32(18)} AS w, {_mp_u32(22)} AS hh
  FROM a WHERE modality = 'image'),
img2 AS (SELECT *, (3 * w + 3) // 4 * 4 AS stride FROM img),
ri AS (SELECT unnest(generate_series(0, 7)) AS i),
cj AS (SELECT unnest(generate_series(0, 8)) AS j),
cellpix AS (
  SELECT m.asset_id, r.i, c.j, {gray} AS g
  FROM img2 m, ri r, cj c,
  LATERAL unnest(generate_series(r.i * m.hh // 8,
                                 (r.i + 1) * m.hh // 8 - 1)) t(y),
  LATERAL unnest(generate_series(c.j * m.w // 9,
                                 (c.j + 1) * m.w // 9 - 1)) s(x)),
cellsum AS (SELECT asset_id, i, j, sum(g) AS s, count(*) AS cnt
            FROM cellpix GROUP BY 1, 2, 3),
imggrid AS (
  SELECT m.asset_id, r.i, c.j,
         coalesce(cs.s, 0) AS s, coalesce(cs.cnt, 0) AS cnt
  FROM img2 m CROSS JOIN ri r CROSS JOIN cj c
  LEFT JOIN cellsum cs
    ON cs.asset_id = m.asset_id AND cs.i = r.i AND cs.j = c.j),
imgbits AS (
  SELECT g1.asset_id, g1.i * 8 + g1.j AS k,
         (g2.s * g1.cnt > g1.s * g2.cnt) AS bit
  FROM imggrid g1 JOIN imggrid g2
    ON g2.asset_id = g1.asset_id AND g2.i = g1.i AND g2.j = g1.j + 1
  WHERE g1.j < 8),
aud AS (SELECT asset_id, h, {_mp_u32(40)} AS ns
        FROM a WHERE modality = 'audio'),
bj AS (SELECT unnest(generate_series(0, 64)) AS j),
blkpix AS (
  SELECT d.asset_id, b.j, {_mp_byte("44 + p")} AS v
  FROM aud d, bj b,
  LATERAL unnest(generate_series(b.j * d.ns // 65,
                                 (b.j + 1) * d.ns // 65 - 1)) t(p)),
blkagg AS (SELECT asset_id, j, sum(v) AS s, count(*) AS cnt
           FROM blkpix GROUP BY 1, 2),
blkgrid AS (
  SELECT d.asset_id, b.j, coalesce(g.s, 0) AS s, coalesce(g.cnt, 0) AS cnt
  FROM aud d CROSS JOIN bj b
  LEFT JOIN blkagg g ON g.asset_id = d.asset_id AND g.j = b.j),
audbits AS (
  SELECT b1.asset_id, b1.j AS k, (b2.s * b1.cnt > b1.s * b2.cnt) AS bit
  FROM blkgrid b1 JOIN blkgrid b2
    ON b2.asset_id = b1.asset_id AND b2.j = b1.j + 1
  WHERE b1.j < 64),
allbits AS (SELECT * FROM imgbits UNION ALL SELECT * FROM audbits),
hsh AS (
  SELECT asset_id,
    CAST(sum(CASE WHEN bit AND k >= 32
             THEN CAST(1 AS BIGINT) << (k - 32) ELSE 0 END) AS BIGINT) AS hi,
    CAST(sum(CASE WHEN bit AND k < 32
             THEN CAST(1 AS BIGINT) << k ELSE 0 END) AS BIGINT) AS lo
  FROM allbits GROUP BY asset_id)
SELECT a.asset_id, a.modality,
       hsh.hi, hsh.lo, printf('%08x%08x', hsh.hi, hsh.lo) AS phash_hex
FROM a JOIN hsh USING (asset_id)
"""


_MEDIA_PHASH_SQL = f"""
SELECT asset_id, modality, phash_hex
FROM ({_media_phash_sql(with_padded=False)})
"""

_MEDIA_PHASH_PAIRS_SQL = f"""
WITH hashes AS ({_media_phash_sql(with_padded=True)})
SELECT h1.modality, h1.asset_id AS id_a, h2.asset_id AS id_b,
       CAST(bit_count(xor(h1.hi, h2.hi))
            + bit_count(xor(h1.lo, h2.lo)) AS INTEGER) AS hamming
FROM hashes h1 JOIN hashes h2
  ON h1.modality = h2.modality AND h1.asset_id < h2.asset_id
WHERE bit_count(xor(h1.hi, h2.hi)) + bit_count(xor(h1.lo, h2.lo)) <= 3
"""


def q_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced subset: nearest-centroid cluster assignment + cap
    of 20 per cluster by salted-md5 rank
    (operators/llm/embedsim.cluster_balanced_sample)."""
    from ..operators.llm.embedsim import cluster_balanced_sample

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_balanced_sample(emb, cap=20, num_centroids=16)


#: Balance twin: the shared assignment CTE (rounded-cosine argmax, cid
#: tie-break) + salted-md5 window rank per cluster.
_CLUSTER_BALANCE_SQL = """
WITH n AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        for x in embedding])) AS nrm
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
  ORDER BY (CAST(vec_id AS BIGINT) * 2654435761) % 2147483648, vec_id
  LIMIT 16
), assigned AS (
  SELECT vec_id, cid AS cluster FROM (
    SELECT c.vec_id, ct.cid,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY round(list_sum([c.v[i] * ct.cv[i]
                        for i in generate_series(1, len(c.v))])
                        / (c.nrm * ct.cnrm), 6) DESC, ct.cid ASC) AS rn
    FROM n c CROSS JOIN cent ct)
  WHERE rn = 1)
SELECT vec_id, cluster, CAST(rank AS INTEGER) AS rank FROM (
  SELECT vec_id, cluster,
         row_number() OVER (PARTITION BY cluster
           ORDER BY md5('balance' || CAST(vec_id AS VARCHAR)) ASC,
                    vec_id ASC) AS rank
  FROM assigned)
WHERE rank <= 20
"""


def q_ann_recall_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-method ANN recall@5 vs the exact cosine top-k for EVERY
    approximate tier (srp / ivf / pq / ivfpq) — the eval table that
    justifies picking a tier at a given recall budget.  Output:
    ``method, q_id, k, n_hits, recall``.

    The five pipelines share a prefix — the normalized corpus
    (``_prepared``) and the query subset — which every tier used to
    re-derive from its own parquet scan (12 scans of ``embeddings`` in
    the r9 audit).  Persisting both ONCE here lets Spark's cache
    substitution rewrite each tier's semantically-equal subtree to the
    single materialization (VERDICT r9 #7); at cluster scale the same
    two frames are the materialized eval tables an offline recall audit
    would stage first.  The five-tier union is ~1.9 s of pure plan
    construction; the registry plan cache (``cache.registry_plan``)
    serves a repeat call without rebuilding it."""
    from ..operators.llm.embedsim import _prepared

    emb = load_table(spark, sf_dir, "embeddings")
    persist_slot(
        "annrecall.prepared_corpus", _prepared(emb, "vec_id", "embedding")
    )
    persist_slot("annrecall.queries", emb.filter(F.col("vec_id") < 8))
    exact = registry_plan("q_embed_topk", spark, sf_dir, q_embed_topk)
    exact = exact.select("q_id", "nn_id")
    methods = {
        "srp": q_embed_srp_topk,
        "ivf": q_embed_ivf_topk,
        "pq": q_pq_topk,
        "ivfpq": q_ivfpq_topk,
    }
    out = None
    for name, fn in sorted(methods.items()):
        approx = registry_plan(fn.__name__, spark, sf_dir, fn)
        approx = approx.select("q_id", "nn_id", F.lit(1).alias("hit"))
        scored = (
            exact.join(approx, ["q_id", "nn_id"], "left")
            .groupBy("q_id")
            .agg(
                F.count(F.lit(1)).cast("int").alias("k"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("int").alias("n_hits"),
            )
            .select(
                F.lit(name).alias("method"),
                "q_id",
                "k",
                "n_hits",
                F.round(F.col("n_hits") / F.col("k"), 6).alias("recall"),
            )
        )
        out = scored if out is None else out.unionByName(scored)
    return out


def _ann_recall_all_sql() -> str:
    """Composed oracle: each tier's full oracle embedded as a derived
    table (DuckDB scopes a subquery's WITH locally, so the tiers' CTE
    names cannot collide), unioned and joined against the exact tier."""
    methods = {
        "srp": _EMBED_SRP_SQL,
        "ivf": _EMBED_IVF_SQL,
        "pq": _PQ_SQL,
        "ivfpq": _IVFPQ_SQL,
    }
    unions = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS method, q_id, nn_id FROM (\n{sql}\n)"
        for name, sql in sorted(methods.items())
    )
    return f"""
WITH exact AS (SELECT q_id, nn_id FROM (\n{_EMBED_TOPK_SQL}\n)),
apx AS ({unions}),
-- literal method list: a tier that returns ZERO rows must still appear
-- with recall 0 (DISTINCT over apx would drop it while the Spark side
-- still emits its rows)
meths AS (SELECT * FROM (VALUES ('ivf'), ('ivfpq'), ('pq'), ('srp'))
          AS t(method)),
pairs AS (SELECT m.method, e.q_id, e.nn_id FROM exact e CROSS JOIN meths m)
SELECT p.method, p.q_id, CAST(count(*) AS INTEGER) AS k,
       CAST(sum(CASE WHEN a.nn_id IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
         AS n_hits,
       round(sum(CASE WHEN a.nn_id IS NOT NULL THEN 1 ELSE 0 END)
             / (count(*) * 1.0), 6) AS recall
FROM pairs p LEFT JOIN apx a
  ON a.method = p.method AND a.q_id = p.q_id AND a.nn_id = p.nn_id
GROUP BY 1, 2
"""


def q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-aware negative mining: 4 deterministic negatives per
    vector from other clusters' md5-ranked pools
    (operators/llm/embedsim.contrastive_negatives)."""
    from ..operators.llm.embedsim import contrastive_negatives

    emb = load_table(spark, sf_dir, "embeddings")
    return contrastive_negatives(
        emb, k_neg=4, pool_per_cluster=4, num_centroids=16
    )


#: Negatives twin: shared assignment CTE + the two salted-md5 ranking
#: windows, pools restricted per cluster, candidates cross-cluster only.
_NEGATIVES_SQL = """
WITH n AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                        for x in embedding])) AS nrm
  FROM embeddings
), cent AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n
  ORDER BY (CAST(vec_id AS BIGINT) * 2654435761) % 2147483648, vec_id
  LIMIT 16
), assigned AS (
  SELECT vec_id AS vid, cid AS cluster FROM (
    SELECT c.vec_id, ct.cid,
           row_number() OVER (PARTITION BY c.vec_id
             ORDER BY round(list_sum([c.v[i] * ct.cv[i]
                        for i in generate_series(1, len(c.v))])
                        / (c.nrm * ct.cnrm), 6) DESC, ct.cid ASC) AS rn
    FROM n c CROSS JOIN cent ct)
  WHERE rn = 1
), pool AS (
  SELECT vid AS neg_id, cluster AS neg_cluster FROM (
    SELECT vid, cluster,
           row_number() OVER (PARTITION BY cluster
             ORDER BY md5('negatives:pool' || CAST(vid AS VARCHAR)) ASC,
                      vid ASC) AS rk
    FROM assigned)
  WHERE rk <= 4)
SELECT vid AS vec_id, neg_id, neg_cluster, CAST(rank AS INTEGER) AS rank
FROM (
  SELECT a.vid, p.neg_id, p.neg_cluster,
         row_number() OVER (PARTITION BY a.vid
           ORDER BY md5('negatives:pair' || CAST(a.vid AS VARCHAR) || ':'
                        || CAST(p.neg_id AS VARCHAR)) ASC,
                    p.neg_id ASC) AS rank
  FROM assigned a JOIN pool p ON a.cluster <> p.neg_cluster)
WHERE rank <= 4
"""


def q_span_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption masks over the documents corpus:
    deterministic blocked span selection
    (operators/llm/curation.span_corruption_masks)."""
    from ..operators.llm.curation import span_corruption_masks

    return span_corruption_masks(load_table(spark, sf_dir, "documents"))


#: Span-mask twin: identical blocked selection — block pick and within-
#: block argmin both via the salted-md5 60-bit integers.
_SPAN_H = (
    "CAST('0x' || substr(md5('spans:{tag}:' || CAST(doc_id AS VARCHAR)"
    " || ':' || CAST({v} AS VARCHAR)), 1, 15) AS BIGINT)"
)
_SPAN_SQL = f"""
WITH t AS (
  SELECT doc_id, CASE WHEN length({_NORM}) = 0 THEN 0
                      ELSE len({_TOKS}) END AS n
  FROM documents),
base AS (SELECT doc_id, n FROM t WHERE n > 0),
blocks AS (
  SELECT doc_id, n, b FROM base,
  LATERAL unnest(generate_series(0, CAST(ceil(n / 5.0) AS BIGINT) - 1)) AS g(b)
  WHERE {_SPAN_H.format(tag="b", v="b")} % 4 = 0),
cand AS (
  SELECT doc_id, n, b, p,
         {_SPAN_H.format(tag="p", v="p")} AS h
  FROM blocks,
  LATERAL unnest(generate_series(b * 5, least(b * 5 + 4, n - 1))) AS g(p)),
starts AS (
  SELECT doc_id, n, b, p FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id, b
              ORDER BY h ASC, p ASC) AS rk FROM cand)
  WHERE rk = 1)
SELECT doc_id, CAST(p AS BIGINT) AS span_start,
       CAST(least(3, (b + 1) * 5 - p, n - p) AS INTEGER) AS span_len
FROM starts
"""


def q_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: subtokens-per-word ratio per
    lang — the number tokenizer teams watch per language when a shared
    vocabulary under-serves some scripts (fertility ≫ 1 ⇒ that
    language pays more sequence length per word).  Exact integer sums,
    one division, 6 digits."""
    docs = load_table(spark, sf_dir, "documents")
    toks = token_count(docs)
    subs = subtoken_count(docs)
    j = toks.select("doc_id", "lang", "n_tokens").join(
        subs.select("doc_id", "n_subtokens"), "doc_id"
    )
    return (
        j.groupBy("lang")
        .agg(
            F.sum("n_tokens").cast("long").alias("n_words"),
            F.sum("n_subtokens").cast("long").alias("n_subtokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_subtokens",
            F.round(F.col("n_subtokens") / F.col("n_words"), 6).alias("fertility"),
        )
    )


_FERTILITY_SQL = f"""
WITH per_doc AS (
  SELECT lang,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS w,
         len(regexp_extract_all({_NORM}, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS s
  FROM documents)
SELECT lang, CAST(sum(w) AS BIGINT) AS n_words,
       CAST(sum(s) AS BIGINT) AS n_subtokens,
       round(sum(s) / (sum(w) * 1.0), 6) AS fertility
FROM per_doc GROUP BY lang
"""


QUERIES: dict[str, QueryDef] = {
    "q_dsir_select": QueryDef(q_dsir_select, _DSIR_SQL),
    "q_lm_quality": QueryDef(q_lm_quality, _LMQ_SQL),
    "q_pq_topk": QueryDef(q_pq_topk, _PQ_SQL),
    "q_cdc_chunks": QueryDef(q_cdc_chunks, _CDC_CHUNKS_SQL),
    "q_cdc_dedup": QueryDef(q_cdc_dedup, _CDC_DEDUP_SQL),
    # governed-table erasure audited end-to-end: the Spark side reads a
    # materialized copy that went through the REAL surgical delete +
    # snapshot commit + vacuum; the oracle recomputes from the original
    # fixture with the tombstone rule inverted
    "q_erasure_audit": QueryDef(q_erasure_audit, _ERASURE_AUDIT_SQL),
    "q_cluster_balance": QueryDef(q_cluster_balance, _CLUSTER_BALANCE_SQL),
    "q_ann_recall_all": QueryDef(q_ann_recall_all, _ann_recall_all_sql()),
    "q_contrastive_negatives": QueryDef(q_contrastive_negatives, _NEGATIVES_SQL),
    "q_span_masks": QueryDef(q_span_masks, _SPAN_SQL),
    "q_fertility": QueryDef(q_fertility, _FERTILITY_SQL),
    "q_ivfpq_topk": QueryDef(q_ivfpq_topk, _IVFPQ_SQL),
    # same oracle as q_ivfpq_topk by construction: the materialized
    # index's frozen quantizers are trained from its first (= only)
    # batch, bit-identical to the in-session build (see the docstring)
    "q_ivfpq_search": QueryDef(q_ivfpq_search, _IVFPQ_SQL),
    "q_ivfpq_index_stats": QueryDef(q_ivfpq_index_stats, _IVFPQ_INDEX_STATS_SQL),
    "q_index_drift": QueryDef(q_index_drift, _INDEX_DRIFT_SQL),
    "q_index_retrain": QueryDef(q_index_retrain, _INDEX_RETRAIN_SQL),
    "q_pq_distortion": QueryDef(q_pq_distortion, _PQ_DISTORTION_SQL),
    "q_triangle_stats": QueryDef(q_triangle_stats, _TRIANGLE_SQL),
    "q_bloom_prefilter": QueryDef(q_bloom_prefilter, _BLOOM_SQL),
    "q_salted_join": QueryDef(q_salted_join, _SALTED_SQL),
    "q_adaptive_salted_join": QueryDef(
        q_adaptive_salted_join, _ADAPTIVE_SALTED_SQL
    ),
    "q_hot_keys": QueryDef(q_hot_keys, _HOTKEYS_SQL),
    "q_stratified_sample": QueryDef(q_stratified_sample, _STRAT_SQL),
    "q_dedup_exact": QueryDef(
        q_dedup_exact,
        f"SELECT md5({_NORM}) AS fingerprint, min(doc_id) AS keep_id,"
        " count(*) AS n_dups FROM documents GROUP BY 1",
    ),
    "q_token_count": QueryDef(
        q_token_count,
        "SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0"
        " ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens"
        " FROM documents",
    ),
    "q_token_count_bpe": QueryDef(
        q_token_count_bpe,
        f"SELECT doc_id, len(regexp_extract_all({_NORM},"
        " '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_subtokens FROM documents",
    ),
    "q_fingerprint": QueryDef(
        q_fingerprint,
        f"SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents",
    ),
    # the oracle restates the Karp-Rabin polynomial over ascii() code
    # points — exact int64 arithmetic, bit-identical to the numpy kernel
    "q_winnow_fingerprint": QueryDef(
        q_winnow_fingerprint,
        f"""
WITH norm AS (SELECT doc_id, {_NORM} AS norm FROM documents),
grams AS (
  SELECT doc_id, p AS pos, {_winnow_poly('p')} AS gh,
         greatest(length(norm) - {_WINNOW_K - 1}, 0) AS n
  FROM norm, LATERAL unnest(generate_series(1,
       greatest(length(norm) - {_WINNOW_K - 1}, 0))) AS t(p)),
wins AS (
  SELECT doc_id, pos, n,
         min(gh) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING
                       ) AS fingerprint
  FROM grams),
fps AS (SELECT DISTINCT doc_id, fingerprint FROM wins
        WHERE pos <= n - {_WINNOW_W - 1})
SELECT doc_id, count(*) AS n_fingerprints,
       md5(array_to_string(list_sort(list(fingerprint)), ',')) AS fp_digest
FROM fps GROUP BY doc_id
""",
    ),
    "q_tfidf_terms": QueryDef(q_tfidf_terms, _TFIDF_SQL),
    "q_chunk_documents": QueryDef(q_chunk_documents, _CHUNK_SQL),
    "q_mix_weights": QueryDef(q_mix_weights, _MIX_SQL),
    "q_text_quality": QueryDef(q_text_quality, _QUALITY_SQL),
    "q_lang_id": QueryDef(q_lang_id, _LANG_SQL),
    "q_pii_redact": QueryDef(q_pii_redact, _PII_SQL),
    "q_url_domains": QueryDef(q_url_domains, _URL_SQL),
    "q_para_dedup": QueryDef(q_para_dedup, _PARA_SQL),
    "q_line_repetition": QueryDef(q_line_repetition, _LINE_REP_SQL),
    "q_top_bigram": QueryDef(q_top_bigram, _TOP_BIGRAM_SQL),
    "q_contamination": QueryDef(q_contamination, _CONTAM_SQL),
    "q_dup_span": QueryDef(q_dup_span, _DUPSPAN_SQL),
    "q_domain_quality": QueryDef(q_domain_quality, _DOMAIN_QUALITY_SQL),
    "q_bpe_pairs": QueryDef(q_bpe_pairs, _BPE_PAIRS_SQL),
    "q_bpe_encode": QueryDef(q_bpe_encode, _bpe_encode_sql()),
    "q_dedup_summary": QueryDef(q_dedup_summary, _dedup_summary_sql()),
    "q_split_leakage": QueryDef(q_split_leakage, _split_leakage_sql()),
    "q_ngram_jaccard": QueryDef(q_ngram_jaccard, _JACCARD_SQL),
    # LSH affects recall only; on these fixtures every true pair sits at
    # J ≥ 0.8 where 16×4 banding recall is ≈ 1 (verified at sf0.01 and
    # sf0.1), so the exact-Jaccard SQL is a valid oracle for the LSH path.
    "q_minhash_dedup": QueryDef(
        q_minhash_dedup,
        f"WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),"
        f"sh AS (SELECT doc_id AS doc, unnest({_SHINGLES}) AS s FROM t),"
        "sz AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),"
        "inter AS (SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_common"
        "  FROM sh a JOIN sh b ON a.s = b.s AND a.doc < b.doc GROUP BY 1, 2)"
        "SELECT id_a, id_b,"
        "  round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) AS jaccard"
        " FROM inter JOIN sz sa ON id_a = sa.doc JOIN sz sb ON id_b = sb.doc"
        " WHERE round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) >= 0.5",
    ),
    # same LSH-recall argument as q_minhash_dedup: the exact cross-side
    # Jaccard pairs are the valid oracle for the banded-LSH candidates
    "q_minhash_incremental": QueryDef(
        q_minhash_incremental,
        f"WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),"
        f"sh AS (SELECT doc_id AS doc, unnest({_SHINGLES}) AS s FROM t),"
        "sz AS (SELECT doc, count(*) AS sz FROM sh GROUP BY doc),"
        "inter AS (SELECT a.doc AS new_id, b.doc AS corpus_id, count(*) AS n_common"
        "  FROM sh a JOIN sh b ON a.s = b.s AND a.doc % 10 = 0 AND b.doc % 10 != 0"
        "  GROUP BY 1, 2)"
        "SELECT new_id, corpus_id,"
        "  round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) AS jaccard"
        " FROM inter JOIN sz sa ON new_id = sa.doc JOIN sz sb ON corpus_id = sb.doc"
        " WHERE round(n_common * 1.0 / (sa.sz + sb.sz - n_common), 6) >= 0.5",
    ),
    "q_simhash_pairs": QueryDef(q_simhash_pairs, _SIMHASH_SQL),
    # the LSH pair set equals the exact-Jaccard pair set on these fixtures
    # (see q_minhash_dedup note), so the closure over the exact pairs is a
    # valid oracle for the clustering; the recursive CTE computes the
    # same min-per-component fixpoint as the label propagation.
    "q_dedup_clusters": QueryDef(q_dedup_clusters, _CLUSTER_SQL),
    "q_kmv_distinct": QueryDef(q_kmv_distinct, _KMV_SQL),
    "q_quantile_sketch": QueryDef(q_quantile_sketch, _QSKETCH_SQL),
    "q_weighted_sample": QueryDef(q_weighted_sample, _WSAMPLE_SQL),
    "q_kmv_overlap": QueryDef(q_kmv_overlap, _KMV_OVERLAP_SQL),
    "q_sample_deterministic": QueryDef(
        q_sample_deterministic,
        "SELECT doc_id, source, lang FROM documents"
        " WHERE substr(md5('sample' || CAST(doc_id AS VARCHAR)), 1, 8)"
        f" < '{sample_threshold_hex(0.25)}'",
    ),
    "q_source_cap": QueryDef(
        q_source_cap,
        "SELECT doc_id, source FROM ("
        "  SELECT doc_id, source,"
        "         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn"
        "  FROM documents) WHERE rn <= 8",
    ),
    "q_pack_shards": QueryDef(
        q_pack_shards,
        "WITH tc AS (SELECT doc_id, lang,"
        "  CASE WHEN length(trim(text)) = 0 THEN 0"
        "       ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens"
        "  FROM documents),"
        " w AS (SELECT doc_id, lang, n_tokens,"
        "  greatest(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id"
        "    ROWS UNBOUNDED PRECEDING), 1) AS cum FROM tc)"
        " SELECT doc_id, lang, n_tokens,"
        " CAST((cum - 1) // 2000 AS BIGINT) AS shard FROM w",
    ),
    "q_curation": QueryDef(
        q_curation,
        f"""
WITH q AS ({_QUALITY_SQL}),
fp AS (SELECT doc_id, md5({_NORM}) AS f FROM documents),
km AS (SELECT f, min(doc_id) AS kid FROM fp GROUP BY f),
dup AS (SELECT fp.doc_id FROM fp JOIN km USING (f) WHERE fp.doc_id <> km.kid),
base AS (SELECT d.doc_id, d.source, d.lang, q.quality_score,
         EXISTS (SELECT 1 FROM dup WHERE dup.doc_id = d.doc_id) AS is_dup,
         d.lang IN ('en', 'de', 'fr') AS lang_ok,
         q.quality_score >= 0.65 AS qual_ok
         FROM documents d JOIN q ON d.doc_id = q.doc_id),
r AS (SELECT *, (NOT is_dup AND lang_ok AND qual_ok) AS surv FROM base),
rk AS (SELECT *, row_number() OVER (PARTITION BY source, surv ORDER BY doc_id) AS rn
       FROM r)
SELECT doc_id, (surv AND rn <= 8) AS keep,
       CASE WHEN is_dup THEN 'duplicate'
            WHEN NOT lang_ok THEN 'language'
            WHEN NOT qual_ok THEN 'quality'
            WHEN rn > 8 THEN 'source_cap'
            ELSE 'kept' END AS reason
FROM rk
""",
    ),
    "q_cms_heavy": QueryDef(q_cms_heavy, _CMS_SQL),
    "q_bm25_topk": QueryDef(q_bm25_topk, _BM25_SQL),
    "q_hybrid_rrf": QueryDef(q_hybrid_rrf, _HYBRID_RRF_SQL),
    "q_embed_topk": QueryDef(q_embed_topk, _EMBED_TOPK_SQL),
    "q_embed_ivf_topk": QueryDef(q_embed_ivf_topk, _EMBED_IVF_SQL),
    "q_embed_srp_topk": QueryDef(q_embed_srp_topk, _EMBED_SRP_SQL),
    "q_ann_recall": QueryDef(
        q_ann_recall,
        # composed verbatim from the two tiers' oracles: exact top-k as
        # ground truth, SRP candidates as retrieved set
        f"""
WITH exact AS ({_EMBED_TOPK_SQL}),
approx AS ({_EMBED_SRP_SQL})
SELECT e.q_id,
       CAST(count(*) AS INTEGER) AS k,
       CAST(sum(CASE WHEN a.nn_id IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
         AS n_hits,
       round(sum(CASE WHEN a.nn_id IS NOT NULL THEN 1 ELSE 0 END)
             / count(*), 6) AS recall
FROM exact e LEFT JOIN approx a ON a.q_id = e.q_id AND a.nn_id = e.nn_id
GROUP BY e.q_id
""",
    ),
    "q_semantic_dedup": QueryDef(q_semantic_dedup, _SEMANTIC_DEDUP_SQL),
    "q_embed_neardup": QueryDef(
        q_embed_neardup,
        """
WITH n AS (
  SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v,
         sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) for x in embedding])) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))])
             / (a.nrm * b.nrm), 6) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE round(list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))])
            / (a.nrm * b.nrm), 6) >= 0.4
""",
    ),
    # the mapInPandas decode path, differentially checked end to end:
    # DuckDB re-parses the BMP/WAV headers from the identical BLOBs
    # (little-endian fields via hex() arithmetic, payload byte-sum via a
    # list fold over the hex string) — see _MEDIA_FEATURES_SQL
    "q_media_features": QueryDef(q_media_features, _MEDIA_FEATURES_SQL),
    "q_media_phash": QueryDef(q_media_phash, _MEDIA_PHASH_SQL),
    "q_media_phash_pairs": QueryDef(q_media_phash_pairs, _MEDIA_PHASH_PAIRS_SQL),
    "q_media_frames": QueryDef(
        q_media_frames,
        f"""
WITH v AS (
  SELECT asset_id, duration_ms, sha256(lower(hex(content))) AS content_digest
  FROM read_parquet('{MEDIA_FIXTURE_PATH}/*.parquet')
  WHERE modality = 'video' AND duration_ms IS NOT NULL AND duration_ms >= 0),
f AS (
  SELECT asset_id, content_digest,
         unnest(generate_series(0, CAST(floor(duration_ms / 1000.0) AS BIGINT))) AS frame_idx
  FROM v),
d AS (
  SELECT asset_id, frame_idx, CAST(frame_idx * 1000 AS BIGINT) AS ts_ms,
         md5(content_digest || '-' || CAST(frame_idx AS VARCHAR)) AS frame_digest
  FROM f)
SELECT asset_id, frame_idx, ts_ms, frame_digest,
       list_transform(range(4), i -> round(
         CAST('0x' || substr(frame_digest, i * 2 + 1, 2) AS BIGINT) / 255.0, 6)
       ) AS frame_features
FROM d
""",
    ),
    "q_media_dedup": QueryDef(
        q_media_dedup,
        f"WITH a AS (SELECT asset_id, content"
        f"  FROM read_parquet('{MEDIA_FIXTURE_PATH}/*.parquet')),"
        f" everything AS (SELECT * FROM a"
        f"  UNION ALL SELECT asset_id + 1000, content FROM a)"
        f" SELECT sha256(lower(hex(content))) AS content_digest,"
        f" min(asset_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups"
        f" FROM everything GROUP BY 1",
    ),
}

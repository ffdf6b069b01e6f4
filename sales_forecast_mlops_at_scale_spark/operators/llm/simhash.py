"""SimHash near-duplicate detection: 64-bit locality-sensitive token
fingerprints + pigeonhole candidate generation.

Each document's 64-bit SimHash has bit ``i`` set when the weighted sum of
``±1`` votes (from bit ``i`` of the token's 64-bit hash, weight = term
frequency) is positive.  Documents with small Hamming distance share most
token mass.

The token hash is the first 64 bits of ``md5(token)`` (two 32-bit halves
via ``conv(hex, 16, 10)``) rather than ``xxhash64``: identical LSH
properties, but md5 exists in every engine, so the whole operator —
signatures, bucketing, Hamming verify — has an exact cross-engine SQL
twin (see ``plans/llm_queries._SIMHASH_SQL``) and the differential
correctness gate covers it end to end.

Pairing uses the pigeonhole principle: split 64 bits into 4 chunks of 16;
any pair within Hamming distance ≤ 3 must agree on ≥ 1 whole chunk, so a
join on (chunk index, chunk value) finds all of them — #docs × 4 bucket
rows instead of a quadratic scan — followed by an exact
``bit_count(a XOR b)`` verification (JVM built-ins).

The signature is stored as two unsigned 32-bit halves (``sim_hi``,
``sim_lo``, each a BIGINT in [0, 2^32)): assembling bits never overflows
under ANSI mode (Spark 4 default), and the nonnegative halves compare
identically across engines (no signed-wraparound mismatch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ...cache import _plan_key, derived_key, persist_slot

from .textstats import normalized_text, tokens

CHUNKS = 4
CHUNK_BITS = 16


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc SimHash as two int halves: ``doc, sim_hi, sim_lo``."""
    tok = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(tokens(normalized_text(F.col(text_col)))).alias("t"),
        )
        .withColumn("m", F.md5("t"))
        # first 64 md5 bits as two unsigned 32-bit halves (big-endian:
        # hex char 1 is the most significant nibble → bits 63..60)
        .select(
            "doc",
            F.conv(F.substring("m", 1, 8), 16, 10).cast("long").alias("hhi"),
            F.conv(F.substring("m", 9, 8), 16, 10).cast("long").alias("hlo"),
        )
    )
    # vote for bit i: +1 if bit set else -1, summed over tokens (with
    # multiplicity = term frequency weighting).  Each aggregate is ONE
    # parsed SQL string instead of ~6 nested Column calls — the py4j
    # round-trip economy of minhash_signatures / pq._subspaces; the
    # parsed tree is identical (parens force the Column form's
    # ((x & 1) * 2) - 1 association), so signatures cannot move.
    votes = tok.groupBy("doc").agg(
        *[
            F.expr(
                "sum((shiftright({src}, {s}) & 1) * 2 - 1) AS v{i}".format(
                    src="hhi" if i >= 32 else "hlo", s=i % 32, i=i
                )
            )
            for i in range(64)
        ]
    )

    def half(lo_bit: int) -> F.Column:
        # the 32-term left-associated chain as one parsed expression —
        # token-identical to the Column-loop form it replaces
        terms = " + ".join(
            "CASE WHEN v{v} > 0 THEN shiftleft(CAST(1 AS BIGINT), {k}) "
            "ELSE 0 END".format(v=lo_bit + k, k=k)
            for k in range(32)
        )
        return F.expr(f"CAST(0 AS BIGINT) + {terms}")

    return votes.select(
        "doc", half(32).alias("sim_hi"), half(0).alias("sim_lo")
    )


def _chunk(col_hi: F.Column, col_lo: F.Column, j: int) -> F.Column:
    """16-bit chunk j (0..3) of the 64-bit signature, low chunks first."""
    src = col_lo if j < 2 else col_hi
    return F.shiftright(src, (j % 2) * CHUNK_BITS).bitwiseAND(F.lit(0xFFFF))


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """All pairs (``id_a < id_b``) within Hamming distance ``max_hamming``.

    Columns: ``id_a, id_b, hamming``.  Exact for ``max_hamming ≤ 3`` with
    the 4×16 chunking (pigeonhole guarantee); raise CHUNKS for looser
    budgets.

    The signature frame feeds both sides of the bucket self-join, so it
    is persisted — without the cache the tokenize+md5+64-vote pipeline
    (the expensive stage) executes once per side (measured 2× query
    cost at sf0.1).  Cache lifetime is caller-owned, as in
    ``minhash_lsh_pairs``: long-lived sessions should
    ``spark.catalog.clearCache()`` when done or materialize signatures
    as a table.
    """
    # the slot key derives from the input's key: keying the signature
    # plan itself would walk its canonicalized() tree
    sigs = persist_slot(
        "simhash.sigs",
        simhash_signatures(df, text_col, id_col),
        key=derived_key(_plan_key(df), "simhash.sigs", text_col, id_col),
    )
    chunked = sigs.select(
        "doc",
        "sim_hi",
        "sim_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _chunk(F.col("sim_hi"), F.col("sim_lo"), j).alias("cv"),
                    )
                    for j in range(CHUNKS)
                ]
            )
        ).alias("c"),
    ).select(
        "doc", "sim_hi", "sim_lo",
        F.col("c.j").alias("j"), F.col("c.cv").alias("cv"),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    hamming = F.bit_count(
        F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi"))
    ) + F.bit_count(F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo")))
    return (
        a.join(
            b,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )

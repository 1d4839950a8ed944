"""SimHash near-exact candidate path.

Second blocking family alongside MinHash/LSH — the analog of the
reference's dual-key emission where one record emits blocking keys under
two normalizations (house_number_base, lib/lieu/dedupe.py:276-325): every
conversation emits both its LSH band keys and its SimHash chunk keys.

Pigeonhole blocking: the 64-bit simhash splits into ``simhash_chunks``
equal-width chunks; any two hashes within hamming distance
``simhash_chunks - 1`` collide on >= 1 chunk. Candidates are confirmed
JVM-side with ``bit_count(a XOR b) <= simhash_hamming_max``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupeConfig
from ..functions.simhash import hamming64


def _chunk_structs(cfg: DedupeConfig):
    """The shared chunk-split expression: array of (chunk, chunk_bits)
    structs — ONE formula for the plain chunk table and the
    simhash-carrying candidate path so the two can never drift."""
    width = cfg.simhash_bits // cfg.simhash_chunks
    mask = (1 << width) - 1
    return F.array(
        *[
            F.struct(
                F.lit(i).cast("long").alias("chunk"),
                F.shiftrightunsigned(F.col("simhash"), i * width)
                .bitwiseAND(F.lit(mask))
                .alias("chunk_bits"),
            )
            for i in range(cfg.simhash_chunks)
        ]
    )


def _chunk_rows(features: DataFrame, cfg: DedupeConfig, id_col: str) -> DataFrame:
    """(id, simhash) -> (id, simhash, chunk, chunk_bits). The full
    simhash rides the chunk rows (+8 bytes/row), so a chunk join yields
    BOTH sides' hashes directly and the hamming confirmation runs on
    the joined row — no enrichment joins back onto the feature table."""
    return features.select(
        F.col(id_col).alias("id"), F.col("simhash"),
        F.explode(_chunk_structs(cfg)).alias("ck"),
    ).select(
        "id", "simhash",
        F.col("ck.chunk").alias("chunk"), F.col("ck.chunk_bits").alias("chunk_bits"),
    )


def simhash_chunk_table(features: DataFrame, cfg: DedupeConfig, id_col: str = "conv_id") -> DataFrame:
    """(id, simhash) -> (id, chunk, chunk_bits)."""
    return _chunk_rows(features, cfg, id_col).drop("simhash")


def simhash_chunk_stats(features: DataFrame, cfg: DedupeConfig, id_col: str = "conv_id") -> DataFrame:
    """Per-chunk-group metrics (size + hot flag) — the SimHash analog of
    lsh.band_stats. When ``simhash_hot_chunk_cap`` is set, rows with
    is_hot=True mark the groups whose pigeonhole guarantee degraded to
    probabilistic (split groups can lose a pair whose only collision was
    this chunk)."""
    cap = cfg.simhash_hot_chunk_cap if cfg.simhash_hot_chunk_cap is not None else (1 << 62)
    return (
        simhash_chunk_table(features, cfg, id_col)
        .groupBy("chunk", "chunk_bits")
        .agg(F.count("*").alias("bsize"))
        .withColumn("is_hot", F.col("bsize") > cap)
    )


def simhash_candidate_pairs(
    features: DataFrame,
    cfg: DedupeConfig,
    id_col: str = "conv_id",
    distinct: bool = True,
) -> DataFrame:
    """Chunk-collision self-join filtered by exact hamming distance.

    Returns (id_a, id_b, hamming) with id_a < id_b, distinct.
    ``distinct=False`` keeps one row per colliding chunk (hamming is a
    pure function of the pair, so duplicate rows are value-identical) —
    for callers that re-aggregate on the pair key anyway (the pipeline's
    source-tag groupBy) and would otherwise pay the dedup exchange
    twice.
    """
    from .lsh import salted_groups

    # Hot-chunk salting is OPT-IN here (cfg.simhash_hot_chunk_cap,
    # default None = never split), unlike the LSH band path where it is
    # always on: the pigeonhole guarantee is >=1 colliding chunk for
    # hamming<=chunks-1, and "exactly 1" is realizable — splitting that
    # single group loses the pair with no other chunk to recover it.
    # With a cap set, the guarantee becomes probabilistic for split
    # groups; the hot groups are surfaced in simhash_chunk_stats.
    cap = (
        cfg.simhash_hot_chunk_cap
        if cfg.simhash_hot_chunk_cap is not None
        else (1 << 62)  # effectively "never split"; keeps one plan shape
    )
    # Hamming is filtered BEFORE the pair dedup: duplicates of a pair
    # (multi-chunk collisions) carry the identical hamming value, so
    # the deduped output is row-identical to a join-after-dedup shape.
    tbl = salted_groups(
        _chunk_rows(features, cfg, id_col),
        ["chunk", "chunk_bits"],
        cap,
    ).filter(F.col("bsize") > 1).select("chunk", "chunk_bits", "sub", "id", "simhash")
    left = tbl.select(
        "chunk", "chunk_bits", "sub",
        F.col("id").alias("id_a"), F.col("simhash").alias("simhash_a"),
    )
    right = tbl.select(
        "chunk", "chunk_bits", "sub",
        F.col("id").alias("id_b"), F.col("simhash").alias("simhash_b"),
    )
    pairs = (
        left.join(right, ["chunk", "chunk_bits", "sub"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", hamming64(F.col("simhash_a"), F.col("simhash_b")))
        .filter(F.col("hamming") <= cfg.simhash_hamming_max)
        .select("id_a", "id_b", "hamming")
    )
    return pairs.dropDuplicates(["id_a", "id_b"]) if distinct else pairs


def simhash_match_pairs(
    canonical: DataFrame,
    incoming: DataFrame,
    cfg: DedupeConfig,
) -> DataFrame:
    """Cross-dataset twin of simhash_candidate_pairs (snapshot refresh:
    incoming reps vs standing reps) -> distinct (canonical_id,
    incoming_id) within cfg.simhash_hamming_max. Unsalted: the
    pigeonhole guarantee needs every chunk group whole."""
    c = _chunk_rows(canonical, cfg, "conv_id").withColumnsRenamed(
        {"id": "canonical_id", "simhash": "h_a"}
    )
    i = _chunk_rows(incoming, cfg, "conv_id").withColumnsRenamed(
        {"id": "incoming_id", "simhash": "h_b"}
    )
    return (
        c.join(i, ["chunk", "chunk_bits"])
        .filter(hamming64(F.col("h_a"), F.col("h_b")) <= cfg.simhash_hamming_max)
        .select("canonical_id", "incoming_id")
        .dropDuplicates()
    )

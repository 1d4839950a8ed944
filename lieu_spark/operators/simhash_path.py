"""SimHash near-exact blocking family.

Second blocking family alongside MinHash/LSH — the analog of the
reference's dual-key emission where one record emits blocking keys under
two normalizations into ONE key stream (house_number_base,
lib/lieu/dedupe.py:276-325): every content-bearing representative emits
its LSH band keys and its SimHash chunk keys into one band table
(lsh.band_table_dual), and the one band self-join / cross join
(lsh.band_pairs / lsh.match_pairs) pairs every family. The pipeline, the
stream (across micro-batches, from the stored band state), refresh and
api.match therefore all pair SimHash the way they pair bands.

Pigeonhole blocking: the 64-bit simhash splits into ``simhash_chunks``
equal-width chunks; any two hashes within hamming distance
``simhash_chunks - 1`` collide on >= 1 chunk. A chunk key is band row
``2*lsh_bands + chunk`` with ``band_hash = chunk_bits``, carrying the
full simhash; the band joins confirm chunk-family pairs JVM-side with
``bit_count(a XOR b) <= simhash_hamming_max`` (``confirmed``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DedupeConfig


def _chunk_structs(cfg: DedupeConfig):
    """The one chunk-split expression: array of (chunk, chunk_bits)
    structs."""
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


def is_chunk_band(cfg: DedupeConfig) -> Column:
    """True on band-table rows of the chunk family (band numbers past
    the two MinHash gram families, 0..2*lsh_bands-1)."""
    return F.col("band") >= F.lit(2 * cfg.lsh_bands)


def chunk_band_table(
    features: DataFrame, cfg: DedupeConfig, id_col: str = "conv_id"
) -> DataFrame:
    """(id, simhash) -> (id, band, band_hash, simhash): the chunk family
    as band rows. The full simhash rides each row (+8 bytes), so a band
    join yields BOTH sides' hashes and the hamming confirmation runs on
    the joined row — no enrichment joins back onto the feature table."""
    return features.select(
        F.col(id_col).alias("id"), "simhash", F.explode(_chunk_structs(cfg)).alias("ck")
    ).select(
        "id",
        (F.col("ck.chunk") + F.lit(2 * cfg.lsh_bands)).alias("band"),
        F.col("ck.chunk_bits").alias("band_hash"),
        "simhash",
    )


def confirmed(hamming: Column, cfg: DedupeConfig) -> Column:
    """The one confirmation of a band-join row: MinHash-family rows pass
    (their verdict comes from verify), chunk-family rows need
    ``hamming <= simhash_hamming_max``. Keyed on the band number, so a
    chunk row read without its simhash (null hamming) yields no pair."""
    return ~is_chunk_band(cfg) | (hamming <= cfg.simhash_hamming_max)


def simhash_candidate_pairs(
    features: DataFrame, cfg: DedupeConfig, id_col: str = "conv_id"
) -> DataFrame:
    """Chunk-family self-join of ``features``' (id, simhash) ->
    distinct (id_a, id_b, hamming), id_a < id_b, hamming within
    cfg.simhash_hamming_max: lsh.band_pairs over the chunk band rows
    alone. Hot-chunk salting follows cfg.simhash_hot_chunk_cap (None =
    never split, the exact pigeonhole guarantee)."""
    from .lsh import band_pairs

    return (
        band_pairs(chunk_band_table(features, cfg, id_col), cfg)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )

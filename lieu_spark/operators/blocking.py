"""Blocking — the one candidate-generation policy of run_pipeline, the
streaming ingest, the snapshot refresh and api.match: lieu's blocking
keys feed both a self-pairing (``dupe_sims``) and a cross-dataset
``match()`` (reference lib/lieu/spark/dedupe.py:24-88).

  * ``representatives`` — similarity blocking runs on ONE content-
    bearing representative per text_sha (window min conv_id);
  * ``within_candidates`` — inside one set: LSH bands over the reps ∪
    the exact-sha star over every member ∪ SimHash over the reps;
  * ``cross_candidates`` — standing vs incoming set: hot-capped band
    equi-join ∪ text_sha equi-join.

Banding (lsh.band_table_dual) is a layer of its own — its output is the
band state the stream and refresh store — so callers pass bands in.

Rep-blocking closure argument: identical texts have identical shingles,
so every member edge is implied by (rep edge + exact star edge) and is
recovered exactly by connected components. Boilerplate-heavy corpora
stay linear — a 5k-copy group would otherwise flood every band (the
100 TB version of lieu's two-pass star trick, spark/dedupe.py:63-88).
Content-empty conversations never band (P3 parity: the reference drops
geo-less docs, spark/tfidf.py:67; their all-sentinel signatures would
collide in every band); byte-identical ones pair via the star/sha join.

Aux-rule mode (cfg.asymmetry_field / revision_field): identical text no
longer implies identical verdicts, so the caller keys reps per
(text_sha, aux signature) subgroup via ``extra_keys`` and passes the
subgrouped star (exact.exact_star_pairs_grouped) as ``star``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..config import DedupeConfig
from .exact import exact_star_pairs
from .lsh import candidate_pairs, match_pairs
from .simhash_path import simhash_candidate_pairs


def tag_reps(features: DataFrame, extra_keys: Sequence[str] = ()) -> DataFrame:
    """``features`` + ``_rep``, the min conv_id of the row's
    (text_sha, *extra_keys) group: one window exchange, measured cheaper
    than a min-agg + semi-join back (OPTIMIZATION_r06.md)."""
    w = Window.partitionBy("text_sha", *extra_keys)
    return features.withColumn("_rep", F.min("conv_id").over(w))


def representatives(features: DataFrame, extra_keys: Sequence[str] = ()) -> DataFrame:
    """The content-bearing rep row of each (text_sha, *extra_keys) group."""
    return (
        tag_reps(features.filter(F.size("shingle_hashes") > 0), extra_keys)
        .filter(F.col("conv_id") == F.col("_rep"))
        .drop("_rep")
    )


def within_candidates(
    reps: DataFrame,
    bands: DataFrame,
    members: DataFrame,
    cfg: DedupeConfig,
    star: DataFrame | None = None,
) -> DataFrame:
    """Self-pairing inside one set -> (id_a, id_b, source), id_a < id_b:
    LSH over ``bands`` (lsh.band_table_dual of the reps, which every
    caller also stages, persists or stores) ∪ ``star`` (default the
    exact star over ``members``) ∪ SimHash over ``reps`` when
    cfg.with_simhash_path is on.

    NOT deduplicated (distinct=False on both similarity families): every
    caller re-aggregates on (id_a, id_b) — the pipeline's source-tag
    collect_set, the others' dropDuplicates — so a family-internal pair
    dedup would shuffle the pair set twice."""
    if star is None:
        star = exact_star_pairs(members)
    merged = candidate_pairs(bands, cfg, distinct=False).withColumn(
        "source", F.lit("minhash_lsh")
    ).unionByName(star.withColumn("source", F.lit("exact_sha")))
    if cfg.with_simhash_path:
        sim = simhash_candidate_pairs(reps, cfg, distinct=False)
        merged = merged.unionByName(
            sim.select("id_a", "id_b").withColumn("source", F.lit("simhash"))
        )
    return merged


def cross_candidates(
    standing_bands: DataFrame,
    standing_shas: DataFrame,
    incoming_bands: DataFrame,
    incoming_shas: DataFrame,
    cfg: DedupeConfig,
    broadcast_incoming: bool = False,
) -> DataFrame:
    """Standing vs incoming set -> (standing_id, incoming_id), not
    deduplicated: band match ∪ text_sha equi-join of the (conv_id,
    text_sha) frames. The sha join carries the exact star across sets
    and pairs content-empty docs, which never band. hot_cap bounds the
    fanout of near-identical boilerplate bands (distinct shas, shared
    bands), which rep-dedup does not collapse. ``broadcast_incoming``
    is the micro-batch shape: the standing side never shuffles (see
    lsh.capped_group_join)."""
    lsh = match_pairs(
        standing_bands, incoming_bands, cfg,
        broadcast_incoming=broadcast_incoming, hot_cap=cfg.hot_band_cap,
    ).select(F.col("canonical_id").alias("standing_id"), "incoming_id")
    inc = incoming_shas.select(F.col("conv_id").alias("incoming_id"), "text_sha")
    if broadcast_incoming:
        inc = F.broadcast(inc)
    sha = (
        standing_shas.select(F.col("conv_id").alias("standing_id"), "text_sha")
        .join(inc, "text_sha")
        .select("standing_id", "incoming_id")
    )
    return lsh.unionByName(sha)

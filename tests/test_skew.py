"""Boilerplate-skew stress: a giant identical-text group must stay
LINEAR through candidate generation (rep-per-sha banding + exact star),
never quadratic — the failure mode that kills 100 TB dedupe runs."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from lieu_spark import corpus
from lieu_spark.config import DedupeConfig
from lieu_spark.pipeline import run_pipeline

CFG = DedupeConfig()


@pytest.mark.slow
def test_boilerplate_group_stays_linear(spark):
    n_copies, n_bg = 3000, 200
    ts = datetime(2025, 1, 1)
    boiler = "thank you for contacting support your ticket has been received " * 6
    rows = [(f"b{i:06d}", 0, "user", boiler, "", ts) for i in range(n_copies)]
    bg = corpus.generate_rows(7, n_bg)
    rows += [(r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts) for r in bg]
    tdf = spark.createDataFrame(rows, corpus.TRANSCRIPT_SCHEMA)

    res = run_pipeline(spark, tdf, CFG, with_spans=False)
    n_candidates = res.candidates.count()
    # linear: 2999 exact-star edges + background LSH pairs; a quadratic
    # regression would be ~4.5M pairs
    assert n_candidates < n_copies + 5 * n_bg, n_candidates

    clusters = {r.conv_id: r.cluster_id for r in res.clusters.collect()}
    boiler_clusters = {clusters[f"b{i:06d}"] for i in range(n_copies)}
    assert boiler_clusters == {"b000000"}
    # every boilerplate member pairs exactly once (to the rep)
    star = res.verified.filter(F.col("status") == "exact_duplicate").count()
    assert star >= n_copies - 1


@pytest.mark.parametrize(
    "path, cfg, n",
    [
        # opt-in chunk salting on the primitive and on the entry-point
        # path (band_table_dual + within_candidates)
        ("simhash_candidate_pairs", DedupeConfig(simhash_hot_chunk_cap=50), 800),
        ("within_candidates", DedupeConfig(simhash_hot_chunk_cap=50), 800),
        # chunk cap None: a chunk group larger than hot_band_cap must NOT
        # be split (the MinHash cap must not leak onto the chunk family)
        ("within_candidates", DedupeConfig(hot_band_cap=10), 200),
    ],
    ids=["primitive-capped", "entry-capped", "entry-uncapped"],
)
def test_simhash_hot_chunk_stays_bounded(spark, path, cfg, n):
    """NEAR-identical (not byte-identical) boilerplate shares simhash
    chunk values; the salted sub-split (simhash_hot_chunk_cap) must keep
    the chunk self-join from going quadratic while still surfacing
    near-dup pairs — and with the cap unset, every pair within
    simhash_hamming_max must surface, however large the chunk group."""
    from lieu_spark.operators.blocking import within_candidates
    from lieu_spark.operators.lsh import band_stats, band_table_dual
    from lieu_spark.operators.simhash_path import (
        is_chunk_band,
        simhash_candidate_pairs,
    )
    from lieu_spark.pipeline import build_features

    boiler = "thank you for contacting support your ticket has been received " * 6
    # unique suffix token => distinct text_sha, near-identical simhash
    rows = [(f"c{i:05d}", 1, boiler + f" case{i}") for i in range(n)]
    convs = spark.createDataFrame(rows, "conv_id string, n_turns int, doc string")
    feats = build_features(
        convs.withColumn("text_sha", F.sha2("doc", 256)), cfg
    ).persist()

    if path == "simhash_candidate_pairs":
        pairs = simhash_candidate_pairs(feats, cfg)
        # pairs that survive are genuinely near-exact (hamming filter)
        assert pairs.filter(F.col("hamming") > cfg.simhash_hamming_max).count() == 0
    else:
        # the chunk family alone: the MinHash bands of this corpus are
        # one quadratic group per band, which is not under test here
        bands = band_table_dual(feats, cfg).filter(is_chunk_band(cfg))
        stats = band_stats(bands, cfg).agg(
            F.max("bsize").alias("largest"), F.max("is_hot").alias("hot")
        ).first()
        # is_hot is per family: a chunk group is hot only past its own
        # cap, never past hot_band_cap
        if cfg.simhash_hot_chunk_cap is None:
            assert stats.largest > cfg.hot_band_cap and not stats.hot
        else:
            assert stats.largest > cfg.simhash_hot_chunk_cap and stats.hot
        pairs = within_candidates(bands, feats, cfg).filter(
            F.col("source") == "simhash"
        ).dropDuplicates(["id_a", "id_b"])
    got = {(r.id_a, r.id_b) for r in pairs.collect()}

    sims = sorted((r.conv_id, r.simhash) for r in feats.collect())
    feats.unpersist()
    near = {
        (a, b)
        for i, (a, ha) in enumerate(sims)
        for b, hb in sims[i + 1:]
        if bin((ha ^ hb) & ((1 << 64) - 1)).count("1") <= cfg.simhash_hamming_max
    }
    assert got <= near
    if cfg.simhash_hot_chunk_cap is None:
        assert got == near
    else:
        # unsalted would be ~800*799/2 = 319,600 per colliding chunk; the
        # cap bounds each sub-group to ~50 members -> ~20k pairs max
        assert 0 < len(got) < 50_000, len(got)

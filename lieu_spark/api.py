"""Public library API — parity with the reference's embeddable surface
``AddressDeduperSpark.{dupe_sims, match, unique}`` and
``NameAddressDeduperSpark.dupe_sims``
(/root/reference/lib/lieu/spark/dedupe.py:24-48,100-115,235-313), rebuilt
on DataFrames. ``match`` blocks through operators/blocking.py, the policy
``dedupe`` runs (see it for the rep-blocking closure argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .config import DEFAULT_CONFIG, DedupeConfig
from .operators.assemble import assemble_conversations
from .operators.blocking import cross_candidates, tag_reps
from .operators.lsh import band_table_dual
from .operators.verify import verify_pairs
from .pipeline import PipelineResult, build_features, run_pipeline


def dedupe(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: DedupeConfig = DEFAULT_CONFIG,
    **kwargs,
) -> PipelineResult:
    """Full pipeline: transcripts -> pairs + clusters + spans.

    Reference: NameAddressDeduperSpark.dupe_sims (spark/dedupe.py:235).
    """
    return run_pipeline(spark, transcripts, cfg, **kwargs)


def match(
    spark: SparkSession,
    canonical_transcripts: DataFrame,
    incoming_transcripts: DataFrame,
    cfg: DedupeConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Dedupe an incoming batch against a canonical set: returns verified
    (canonical_id=id_a side, incoming_id=id_b side) pairs.

    Reference: AddressDeduperSpark.match (spark/dedupe.py:24-48).

    Blocking (operators/blocking.py): the canonical side bands one rep
    per text_sha, the incoming side (small; each id must appear in the
    output) bands every content-bearing doc, and ``cross_candidates``
    pairs them over every band family, SimHash chunks included.
    Verified rep pairs are expanded back to every identical-text
    canonical member — exact, because identical text implies identical
    features, hence identical verdicts.
    """
    # both feature tables fan out to several consumers below (banding,
    # sha equi-join, verify features, member expansion) — persist so the
    # assembly shuffle + MinHash/SimHash UDF pass over each corpus runs
    # ONCE per action, not once per consumer subtree (column pruning
    # gives each branch a different subtree, so Catalyst cannot reuse
    # the exchange on its own). Lazy markers: populated at the caller's
    # first action, evicted LRU; long-lived drivers running many
    # match() calls can spark.catalog.clearCache() between them.
    # max_turns flows through exactly as in run_pipeline/refresh: a
    # capped conv must get the SAME doc/text_sha here as in the
    # pipeline-built state it is matched against, and the cap is also
    # what bounds the collect_list buffer against a pathological conv
    canon = build_features(
        assemble_conversations(
            canonical_transcripts, max_turns=cfg.max_turns_per_conv
        ),
        cfg,
    )
    inc = build_features(
        assemble_conversations(
            incoming_transcripts, max_turns=cfg.max_turns_per_conv
        ),
        cfg,
    ).persist()
    # reps over ALL canonical docs: content-empty ones still sha-join
    # and expand (content is sha-determined, so the banded subset is
    # exactly blocking.representatives(canon))
    canon_tag = tag_reps(canon).persist()
    canon_reps = canon_tag.filter(F.col("conv_id") == F.col("_rep")).drop("_rep")
    content = F.size("shingle_hashes") > 0
    cand = (
        cross_candidates(
            band_table_dual(canon_reps.filter(content), cfg),
            canon_reps,
            band_table_dual(inc.filter(content), cfg),
            inc,
            cfg,
        )
        .select(
            F.col("standing_id").alias("id_a"), F.col("incoming_id").alias("id_b")
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # cross-set verification: union the two feature tables (ids disjoint
    # by construction; caller guarantees distinct key spaces). Only rep
    # ids appear on the canonical side of cand, so reps suffice.
    feats = canon_reps.unionByName(inc)
    v = verify_pairs(cand, feats, cfg, method="match")
    # expand each rep verdict to the rep's identical-text members
    members = canon_tag.select(
        F.col("_rep").alias("id_a"), F.col("conv_id").alias("canonical_id")
    )
    out = v.join(members, "id_a").select(
        "canonical_id",
        F.col("id_b").alias("incoming_id"),
        "jaccard",
        "is_exact",
        "status",
        "method",
    )
    # P8 guard / F10 revision applied AFTER member expansion: identical
    # text does NOT imply identical auxiliary fields (two byte-equal
    # convs can differ in tool usage), so each expanded member pair is
    # judged on its OWN conversation's field signature, not its rep's.
    from .operators.asymmetry import apply_aux_rules

    if cfg.asymmetry_field is not None or cfg.revision_field is not None:
        out = apply_aux_rules(
            out,
            canonical_transcripts.unionByName(incoming_transcripts),
            cfg.asymmetry_field,
            cfg.revision_field,
            id_a="canonical_id",
            id_b="incoming_id",
        )
    return out


def responses(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: DedupeConfig = DEFAULT_CONFIG,
    **kwargs,
) -> DataFrame:
    """Full pipeline + per-record DedupeResponse assembly: one row per
    conversation with (is_dupe, is_canonical, cluster_id, same_as,
    possibly_same_as) — the reference job's output record
    (lib/lieu/api.py:48-144, scripts/jobs/dedupe_geojson.py:179-198).
    """
    from .operators.response import dedupe_responses

    res = run_pipeline(spark, transcripts, cfg, with_spans=False, **kwargs)
    return dedupe_responses(res.conversations, res.verified, res.clusters)


def unique(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: DedupeConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Conversations that are their cluster's canonical representative —
    one row per distinct conversation (AddressDeduperSpark.unique,
    spark/dedupe.py:109-115: left_anti of dupes).
    """
    res = run_pipeline(spark, transcripts, cfg, with_spans=False)
    canon = res.clusters.filter(F.col("conv_id") == F.col("cluster_id")).select("conv_id")
    return res.conversations.join(canon, "conv_id", "left_semi")

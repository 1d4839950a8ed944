"""Cross-snapshot dedupe refresh — incremental maintenance of the
dedupe state (features, bands, verified pairs, cluster map) between two
corpus snapshots.

Web-scale corpora are rebuilt per crawl; re-running the full pipeline
re-shingles 100 TB to process a 0.1 % delta. The streaming fold
(streaming/ingest.py) solves the APPEND-only case; this operator solves
the general snapshot-to-snapshot case — documents are also REMOVED,
CHANGED, and RENAMED — and its output is a complete state for the next
refresh, so snapshots chain.

The invariant (asserted in tests/test_refresh.py): the refreshed
cluster map equals a from-scratch run over the new snapshot, for every
edit mix. Verified-pair sets may differ in which member of an
identical-text (same text_sha) group carries an edge — rep-blocking
picks different representatives on the two paths — but every such edge
closes through the exact-sha star, so connected components agree
exactly (the rep-blocking closure argument of operators/blocking.py,
whose functions build both paths' candidates).
Caveat: parity is exact only while no band group exceeds
cfg.hot_band_cap. On hot (boilerplate) bands BOTH paths are lossy by
design — candidate_pairs salts the scratch self-join, and the cross
path here applies the same sub-bucket rule via cross_candidates —
but the two runs can salt a hot group differently, so individual
dropped-pair sets (recovered by the other b-1 bands, as always) may
differ there.

What is incremental (the scale story):
  - The unavoidable floor is assembling + content-hashing the NEW
    snapshot (one scan, no shuffle beyond assembly) — CDC needs it.
  - Shingling/MinHash (the expensive pass) runs ONLY on delta docs
    whose text_sha is genuinely new: renamed/moved docs reuse the old
    snapshot's feature row content-addressed by text_sha, so a mass
    re-keying costs nothing.
  - Old state is pruned by anti-joining the SMALL gone set (removed ∪
    changed ids — broadcast anti-join at steady-state sizes, so the
    corpus side never shuffles; the hint is GATED on the measured CDC
    count, see refresh_dedupe, so a mass-removal snapshot degrades to
    a shuffle join instead of a driver OOM).
  - Candidate generation joins the small incoming band table (every
    blocking family: MinHash bands and SimHash chunks) against the
    standing band state. The state tables are the pipeline's
    persisted stage tables, plain parquet with no bucketing, so the
    standing side is shuffled for the join unless AQE broadcasts the
    other side.
  - Connected components re-runs over the merged PAIR set — pairs are
    a vanishing fraction of the corpus, so full CC is not the
    bottleneck (it is linear in dup pairs, not in documents).

Rep-blocking repair: the band state holds one representative per
text_sha group (blocking.representatives). Removing a representative would
silently unband its surviving group and drop the star edges that hang
off the group minimum, splitting clusters. Both are repaired from the
(small) set of sha groups that lost a member: the minimum surviving
member is promoted — re-starred against the surviving members and
re-banded on the incoming side. Promotion is computed ONLY for the
shas of gone docs (semi-join off that small set), never by
re-aggregating the corpus.

No lieu analog (the reference dedupes one snapshot at a time); this is
the beyond-reference incremental-corpus operator pairing with
operators/diff.snapshot_diff (which classifies the delta; this one
re-derives the dedupe state from it).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DedupeConfig
from .cluster import clusters_with_singletons, connected_components
from . import blocking
from .lsh import band_table_dual
from .verify import dupe_pairs, verify_pairs

# Above this many CDC rows the broadcast hints on delta/gone-derived
# prunes switch off (a ~1M-id broadcast is tens of MB — fine; a
# mass-removal snapshot is not). See the gating comment in
# refresh_dedupe.
REFRESH_BROADCAST_CAP = 1_000_000


@dataclass
class RefreshResult:
    """Complete next-round state: feed ``features``/``bands``/
    ``verified`` back into refresh_dedupe for the following snapshot."""

    conversations: DataFrame  # the new snapshot, as passed in
    features: DataFrame       # full new feature state (survivors ∪ delta)
    bands: DataFrame          # full new band state (standing ∪ incoming)
    verified: DataFrame       # full new verified pair set (kept ∪ fresh)
    clusters: DataFrame       # (conv_id, cluster_id) over the new corpus
    delta: DataFrame          # CDC ids: (conv_id, change ∈ {gone, delta})


def _pair(u, v):
    return [F.least(u, v).alias("id_a"), F.greatest(u, v).alias("id_b")]


def refresh_dedupe(
    new_conversations: DataFrame,
    old_features: DataFrame,
    old_bands: DataFrame,
    old_verified: DataFrame,
    cfg: DedupeConfig,
    featurize: Callable[[DataFrame], DataFrame],
    checkpoint_state: bool = True,
    old_clusters: DataFrame | None = None,
) -> RefreshResult:
    """Refresh the dedupe state onto a new snapshot.

    ``new_conversations``: the new snapshot with at least (conv_id,
    text_sha) plus whatever ``featurize`` needs (typically ``doc``).
    ``old_features``/``old_bands``/``old_verified``: the previous run's
    stage tables (run_pipeline's, or a previous RefreshResult's).
    ``featurize`` maps a subset of ``new_conversations`` to feature
    rows; its output must cover ``old_features``' columns (it is only
    ever called on content the old snapshot has never seen).

    The blocking families are the band state's: banding
    (lsh.band_table_dual, the one place the SimHash switch is read)
    adds the chunk family when the features carry ``simhash``, and the
    band joins pair whatever families the tables hold — a featurizer
    without ``simhash`` simply bands without the family.

    Auxiliary-field pair rules (cfg.asymmetry_field / revision_field)
    are REFUSED here: refresh's rep selection, star repair, and
    promotion rules all key on per-sha minima, which is only
    verdict-sound when identical text implies identical verdicts —
    under aux rules the scratch pipeline subgroups by (sha, signature)
    (pipeline.py / exact_star_pairs_grouped), and a refresh that kept
    the per-sha shape would silently break refresh-vs-scratch cluster
    parity (e.g. classify exact a pair the scratch run refuses as
    null_dupe). Until the subgrouped shape is carried through refresh,
    an aux-enabled config must run from scratch.

    ``old_clusters`` (optional, (conv_id, cluster_id) over the OLD
    corpus incl. singletons — run_pipeline's clusters stage table):
    enables INCREMENTAL connected components. Clusters untouched by the
    delta keep their assignment; CC re-runs only over the affected
    subgraph. Sound because components are closed under edges: an old
    pair's endpoints share an old cluster, so "affected" (= old cluster
    of any gone doc or fresh-pair endpoint) is closed too — an
    unaffected cluster keeps its exact member set and edge set, hence
    its component and its min-id. Without it (None), CC re-runs over
    the full merged pair set (still linear in dup pairs, not docs).
    """
    idc = "conv_id"
    if cfg.asymmetry_field is not None or cfg.revision_field is not None:
        raise ValueError(
            "refresh_dedupe: auxiliary-field pair rules "
            "(cfg.asymmetry_field/revision_field) are not supported on "
            "the refresh path — per-sha rep/star/promotion rules are "
            "verdict-unsound under per-pair aux signatures and would "
            "break refresh-vs-scratch cluster parity. Run the pipeline "
            "from scratch for aux-enabled configs."
        )
    if "text_sha" not in new_conversations.columns:
        raise ValueError("new_conversations must carry text_sha")

    # ---- CDC on (id, content hash) --------------------------------
    new_keys = new_conversations.select(idc, "text_sha")
    old_keys = old_features.select(idc, F.col("text_sha").alias("__osha"))
    j = new_keys.join(old_keys, idc, "full_outer")
    # gone = removed ∪ changed(old side); delta = added ∪ changed(new
    # side). Both are the small sides at steady state. Every multiply-
    # consumed internal frame here is EAGERLY localCheckpointed, not
    # persisted: each is referenced by several downstream subtrees, and
    # persist-only lineage nests the full upstream plan into every
    # consumer — Catalyst's plan-string materialization OOMs on the
    # composition (the curate stage() lesson, see CLAUDE.md). All of
    # them are delta-scale, so the eager materialization is cheap.
    # ONE checkpoint materializes the CDC join; gone/delta are narrow
    # filters over it (checkpointing each separately ran the corpus-
    # scale assembly + full-outer join twice).
    cdc = (
        j.filter(~F.col("text_sha").eqNullSafe(F.col("__osha")))
        .select(idc, "text_sha", "__osha")
        .localCheckpoint()
    )
    gone = cdc.filter(F.col("__osha").isNotNull()).select(idc)
    delta = cdc.filter(F.col("text_sha").isNotNull()).select(idc)

    # Broadcast hints on the gone/delta-derived prunes are GATED on the
    # measured delta size: cdc is already materialized (localCheckpoint
    # above), so this count re-runs no lineage — it just reads the size
    # of the in-memory delta. At steady state (small CDC) the hints keep
    # the corpus side un-shuffled (measured: the unhinted plan cost the
    # sf0.1 refresh probe 15.1 s -> 20.6 s — pre-AQE SortMergeJoin
    # exchanges materialize even when AQE later re-plans); on a
    # mass-removal snapshot (site purge, re-crawl) the hints switch OFF
    # and the joins degrade to slow-but-correct shuffles instead of a
    # driver OOM (same reasoning as the never-hinted `members` join in
    # incremental CC).
    small_delta = cdc.count() <= REFRESH_BROADCAST_CAP
    bc = F.broadcast if small_delta else (lambda df: df)
    surv_feats = old_features.join(bc(gone), idc, "left_anti")
    standing_bands = old_bands.join(
        bc(gone.select(F.col(idc).alias("id"))), "id", "left_anti"
    )

    # ---- delta features: content-addressed reuse, then featurize --
    delta_convs = new_conversations.join(bc(delta), idc, "left_semi")
    # reuse candidates = old rows whose sha appears in the delta — the
    # broadcast semi-join keeps this a scan of the state, never a
    # corpus-wide shuffle of the wide feature rows (delta shas are small)
    reuse_src = (
        old_features.join(
            bc(delta_convs.select("text_sha").distinct()),
            "text_sha",
            "left_semi",
        )
        .dropDuplicates(["text_sha"])
        .localCheckpoint()
    )
    # a renamed doc's similarity columns are pure functions of its text
    # — copy the old row, swap the id (n_turns, if present, is advisory
    # on reused rows: same text can assemble from different turn splits)
    reused = delta_convs.select(idc, "text_sha").join(
        reuse_src.drop(idc), "text_sha", "inner"
    )
    fresh_convs = delta_convs.join(
        bc(reuse_src.select("text_sha")), "text_sha", "left_anti"
    )
    fresh_feats = featurize(fresh_convs)
    cols = old_features.columns
    delta_feats = (
        reused.select(*cols).unionByName(fresh_feats.select(*cols)).localCheckpoint()
    )

    # ---- repair sha groups that lost a member ---------------------
    # Only shas of gone docs can need repair — everything is a
    # broadcast semi-join off that small set, never a corpus agg.
    gone_shas = (
        old_features.join(bc(gone), idc, "left_semi")
        .select("text_sha")
        .distinct()
    )
    touched = old_features.join(bc(gone_shas), "text_sha", "left_semi").select(
        idc, "text_sha", (F.size("shingle_hashes") > 0).alias("__content")
    )
    surv_touched = touched.join(bc(gone), idc, "left_anti")
    o_cent = touched.groupBy("text_sha").agg(
        F.min(idc).alias("__o_star"),
        F.min(F.when(F.col("__content"), F.col(idc))).alias("__o_rep"),
    )
    s_cent = surv_touched.groupBy("text_sha").agg(
        F.min(idc).alias("__s_star"),
        F.min(F.when(F.col("__content"), F.col(idc))).alias("__s_rep"),
    )
    cent = o_cent.join(s_cent, "text_sha").localCheckpoint()
    # star repair: the group minimum (exact_star center) is gone but
    # members survive — re-star the survivors onto the new minimum
    star_repair = (
        surv_touched.join(
            bc(
                cent.filter(F.col("__o_star") != F.col("__s_star")).select(
                    "text_sha", "__s_star"
                )
            ),
            "text_sha",
        )
        .filter(F.col(idc) != F.col("__s_star"))
        .select(*_pair(F.col("__s_star"), F.col(idc)))
    )
    # band repair: the banded representative (min CONTENT member) is
    # gone but a content survivor exists — promote it onto the incoming
    # side so its group keeps colliding with the standing state
    promoted = cent.filter(
        F.col("__s_rep").isNotNull() & (F.col("__o_rep") != F.col("__s_rep"))
    ).select("text_sha", F.col("__s_rep").alias(idc))
    promoted_feats = old_features.join(bc(promoted), [idc, "text_sha"], "left_semi")

    # ---- incoming side: delta reps ∪ promoted reps ----------------
    incoming_feats = (
        blocking.representatives(delta_feats).select(*cols)
        .unionByName(promoted_feats.select(*cols))
        .localCheckpoint()
    )
    incoming_bands = band_table_dual(incoming_feats, cfg)

    # ---- candidates (operators/blocking.py) -----------------------
    # within the incoming set: the incoming reps' band self-join ∪ the
    # delta's exact star
    within = blocking.within_candidates(
        incoming_bands, delta_feats, cfg
    ).select("id_a", "id_b")
    # incoming vs standing: band match (every family) ∪ an edge from
    # each delta doc joining an EXISTING identical-text group to the
    # minimum surviving member of the shared sha (connectivity — the
    # survivors' own stars do the rest)
    delta_shas = delta_feats.select("text_sha").distinct()
    surv_sha_min = (
        surv_feats.join(bc(delta_shas), "text_sha", "left_semi")
        .groupBy("text_sha")
        .agg(F.min(idc).alias(idc))
    )
    cross = blocking.cross_candidates(
        standing_bands, surv_sha_min, incoming_bands, delta_feats, cfg
    ).select(*_pair(F.col("standing_id"), F.col("incoming_id")))
    cand = (
        within.unionByName(cross)
        .unionByName(star_repair)
        .filter(F.col("id_a") != F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .localCheckpoint()
    )

    # ---- verify fresh candidates, merge with kept pairs -----------
    cand_ids = (
        cand.select(F.col("id_a").alias(idc))
        .unionByName(cand.select(F.col("id_b").alias(idc)))
        .distinct()
    )
    feats_for_verify = delta_feats.unionByName(
        surv_feats.join(cand_ids, idc, "left_semi").select(*cols)
    )
    fresh_verified = verify_pairs(
        cand, feats_for_verify, cfg, method=f"refresh_{cfg.verify_mode}"
    )
    kept = old_verified.join(
        bc(gone.select(F.col(idc).alias("id_a"))), "id_a", "left_anti"
    ).join(bc(gone.select(F.col(idc).alias("id_b"))), "id_b", "left_anti")
    common = [c for c in old_verified.columns if c in fresh_verified.columns]
    # fresh_part is delta-scale and feeds BOTH verified_new and (on the
    # incremental-CC path) fresh_dupes — one checkpoint here stops the
    # cand⋈features⋈features verify join from executing twice
    fresh_part = (
        fresh_verified.join(
            kept.select("id_a", "id_b"), ["id_a", "id_b"], "left_anti"
        )
        .select(*common)
        .localCheckpoint()
    )
    verified_new = kept.select(*common).unionByName(fresh_part)

    # State-boundary lineage truncation (the curate stage() recipe —
    # see CLAUDE.md): the next refresh references each returned state
    # frame several times, so without a checkpoint here a CHAIN of
    # refreshes nests every prior refresh's full plan inside the next
    # one's — Catalyst analysis (plan-string materialization) OOMs on
    # the second link. Production callers write state to stage tables
    # (parquet round-trip truncates the same way); checkpoint_state
    # covers the in-memory chaining path.
    features_new = surv_feats.select(*cols).unionByName(delta_feats.select(*cols))
    # allowMissingColumns: hand-built state banded without the chunk
    # family (no simhash column) may meet incoming bands that carry it
    bands_new = standing_bands.unionByName(
        incoming_bands, allowMissingColumns=True
    ).dropDuplicates(["id", "band", "band_hash"])
    if checkpoint_state:
        features_new = features_new.localCheckpoint()
        bands_new = bands_new.localCheckpoint()
        verified_new = verified_new.localCheckpoint()
    # checkpoint_state=False: verified_new stays a shallow plan — kept
    # is two anti-joins over the parquet state and fresh_part is
    # checkpointed above, so each consumer re-runs only a cheap scan.
    # (A persist() here leaked one cached corpus-scale pair table per
    # refresh in chained sessions, with no handle to unpersist it.)

    if old_clusters is None:
        comp = connected_components(dupe_pairs(verified_new))
    else:
        # ---- incremental CC over the affected subgraph only --------
        # fresh edges are delta-scale by construction; everything
        # driven off them is small at steady state. (star_repair edges
        # connect only SURVIVORS — those endpoints enter the affected
        # set via the gone star-center's old cluster, which contains
        # every survivor of its sha group, not via the edge itself.)
        fresh_dupes = dupe_pairs(fresh_part).select("id_a", "id_b")
        # the cdc-count gate does NOT bound this section: touched_ids
        # carries the STANDING-side endpoints of fresh pairs, and a
        # boilerplate template inside a small delta can fan out to
        # hot_cap partners per band — |touched| <= |cdc| + 2|fresh
        # pairs|, so gate the CC broadcasts on BOTH measured counts
        # (fresh_part is localCheckpointed above: the count is a cheap
        # scan, no lineage re-run)
        cc_small = (
            small_delta
            and fresh_dupes.count() <= REFRESH_BROADCAST_CAP
        )
        cc_bc = F.broadcast if cc_small else (lambda df: df)
        touched_ids = (
            gone.select(idc)
            .unionByName(fresh_dupes.select(F.col("id_a").alias(idc)))
            .unionByName(fresh_dupes.select(F.col("id_b").alias(idc)))
            .distinct()
        )
        oc = old_clusters.select(idc, "cluster_id")
        affected = (
            oc.join(cc_bc(touched_ids), idc, "left_semi")
            .select("cluster_id")
            .distinct()
            .localCheckpoint()
        )
        # members of affected clusters: NOT force-broadcast — one
        # pathological mega-cluster in the delta's blast radius would
        # OOM a hinted broadcast; the optimizer picks per run
        members = oc.join(cc_bc(affected), "cluster_id", "left_semi").select(
            F.col(idc).alias("id_a")
        )
        # an old pair's endpoints share an old cluster => id_a ∈ members
        # iff id_b ∈ members; one semi-join selects the whole subgraph
        kept_affected = dupe_pairs(kept).join(members, "id_a", "left_semi")
        comp_aff = connected_components(
            kept_affected.select("id_a", "id_b").unionByName(fresh_dupes)
        )
        unaffected = oc.join(cc_bc(affected), "cluster_id", "left_anti")
        comp = unaffected.select(idc, "cluster_id").unionByName(
            comp_aff.select(idc, "cluster_id")
        )

    clusters = clusters_with_singletons(new_conversations, comp)
    delta_map = gone.select(idc, F.lit("gone").alias("change")).unionByName(
        delta.select(idc, F.lit("delta").alias("change"))
    )
    return RefreshResult(
        conversations=new_conversations,
        features=features_new,
        bands=bands_new,
        verified=verified_new,
        clusters=clusters,
        delta=delta_map,
    )


def refresh_pipeline(
    spark,
    store,
    new_transcripts: DataFrame,
    cfg: DedupeConfig,
) -> RefreshResult:
    """Refresh from a run_pipeline (or previous refresh job) StageStore.

    Loads the previous run's ``features`` / ``bands`` / ``verified``
    stage tables — the parquet round-trip already truncated their
    lineage — assembles the new snapshot, and featurizes the fresh
    delta with the full pipeline feature pass (``build_features``), so
    the refreshed state is drop-in compatible with the pipeline's.
    ``cfg`` must match the config the store was written with — ENFORCED
    here against the stage metadata's recorded fingerprint (a mismatch
    would silently merge pairs verified under different thresholds; it
    raises instead). The SimHash family switch is a DedupeConfig field
    (fingerprint-captured), so the matched cfg bands the delta with
    exactly the families the stored band state holds.

    checkpoint_state is OFF on this path: the returned state frames are
    shallow plans over the parquet state (one anti-join / one union),
    and the caller's own parquet write is their materialization —
    eagerly localCheckpointing them here would pay a second full
    corpus-scale materialization for nothing (measured: it put the
    refresh wall ABOVE the from-scratch wall at sf0.1). The in-memory
    chaining default stays True on refresh_dedupe, where plans nest."""
    from pyspark.errors import AnalysisException

    from ..operators.assemble import assemble_conversations
    from ..pipeline import build_features

    # config gate: stage fingerprints are f"{cfg.fingerprint()}[-in{sig}]"
    # (pipeline.py / run_refresh.py); a store written under a different
    # config must be a hard error, not a silent threshold mix. strict=
    # True: an UNREADABLE marker raises here instead of degrading to
    # "no metadata, proceed" — a gate that silently skips itself on a
    # transient store error is no gate.
    meta = store.meta("features", spark, strict=True)
    if not (meta and meta.get("fingerprint")):
        # every store this engine writes carries the marker (save()'s
        # atomic rename is the commit point) — a features stage with
        # no/empty marker is a partial copy or a foreign tool's output,
        # and proceeding would skip the very check this gate enforces
        raise ValueError(
            "refresh_pipeline: the store's 'features' stage has no "
            "fingerprint marker; refusing to refresh unverifiable "
            "state (partial store copy?)"
        )
    stored = str(meta["fingerprint"]).split("-in")[0]
    if stored != cfg.fingerprint():
        raise ValueError(
            "refresh_pipeline: store was written under a different "
            f"DedupeConfig (stage fingerprint {stored!r} != "
            f"{cfg.fingerprint()!r}); refusing to merge pairs "
            "verified under different thresholds"
        )
    old_features = store.load(spark, "features")
    old_bands = store.load(spark, "bands")
    old_verified = store.load(spark, "verified")
    try:
        # run_pipeline stores the clusters stage; a chained refresh
        # store may lack it — fall back to full CC (still correct).
        # Only the missing-path error falls back: a corrupt stage table
        # must surface, not silently degrade to full CC.
        old_clusters = store.load(spark, "clusters")
    except AnalysisException:
        old_clusters = None
    new_convs = assemble_conversations(
        new_transcripts, max_turns=cfg.max_turns_per_conv
    )
    return refresh_dedupe(
        new_convs,
        old_features,
        old_bands,
        old_verified,
        cfg,
        lambda convs: build_features(convs, cfg),
        checkpoint_state=False,
        old_clusters=old_clusters,
    )

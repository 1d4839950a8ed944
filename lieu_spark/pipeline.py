"""End-to-end dedupe pipeline orchestration.

Stage DAG (each checkpointable, each recorded in the metrics table):

  transcripts
    -> assemble   (conv_id, turns, doc, text_sha)            [1 shuffle]
    -> features   (+tokens, shingle_hashes, sig, simhash)    [narrow]
    -> bands      (id, band, band_hash, simhash): MinHash bands
                  ∪ SimHash chunks                           [narrow]
    -> candidates (band self-join ∪ exact star, tagged)     [2-3 shuffles]
    -> verified   (jaccard, status, method)                  [2 join shuffles]
    -> clusters   (connected components + singletons)        [iterative]
    -> spans      (copied-span stage on mid-similarity pairs)[mapInPandas]

Lifecycle parity with the reference's DedupeGeoJSONJob.spark()
(/root/reference/scripts/jobs/dedupe_geojson.py:117-201) — see
SURVEY.md §3.1 for the stage-by-stage mapping.

Representative selection and candidate generation (bands, candidates)
are the shared blocking policy of operators/blocking.py — see its
docstring for the rep-blocking closure argument; the stream, refresh and
api.match build their candidates from the same functions.
"""

from __future__ import annotations

import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .checkpoint import StageStore, input_signature
from .config import DEFAULT_CONFIG, DedupeConfig
from .functions.minhash import with_minhash_dual
from .functions.simhash import make_simhash_udf
from .functions.text import (
    canon_nospace,
    char_fallback_band_len,
    char_fallback_cond_len,
    char_kgram_hash_set,
    shingle_hash_set,
    token_char_len,
    token_hashes,
    tokenize,
)
from .metrics import record_stages
from .operators.assemble import assemble_conversations
from .operators.cluster import clusters_with_singletons, connected_components
from .operators.blocking import representatives, within_candidates
from .operators.lsh import band_stats, band_table_dual
from .operators.spans import copied_spans, span_candidates, winnow_span_candidates
from .operators.verify import dupe_pairs, verify_pairs


@dataclass
class PipelineResult:
    conversations: DataFrame
    features: DataFrame
    candidates: DataFrame
    verified: DataFrame
    clusters: DataFrame
    spans: DataFrame
    band_stats: DataFrame
    stage_wall: dict = field(default_factory=dict)
    run_id: str = ""


def build_features(conversations: DataFrame, cfg: DedupeConfig) -> DataFrame:
    """doc -> tokens, shingle_hashes (JVM), sig + simhash (pandas UDFs).

    Explicit repartition first: AQE coalesces the upstream groupBy output
    by shuffle BYTES (~64 MB advisory), which would funnel the CPU-heavy
    signature UDFs into 1-2 tasks. AQE never coalesces an explicit
    numPartitions repartition, so parallelism here tracks cores, not
    bytes — the single biggest local-scaling lever we found (BENCH.md).

    ONE wave (1x parallelism), unlike the span stage's 2x: signature
    cost per row is near-uniform (doc lengths are tightly distributed),
    so a second wave only doubles scheduling + Arrow batch overhead —
    measured 7.2 s vs 8.2-11.7 s at 32 threads. Spans keep 2x because
    per-pair LCS cost varies wildly and stragglers need rebalancing.
    """
    sc = conversations.sparkSession.sparkContext
    df = conversations.repartition(max(sc.defaultParallelism, 8))
    df = df.withColumn("tokens", tokenize(F.col("doc")))
    # one string-hash pass feeds both shingling and SimHash
    df = df.withColumn("token_hashes", token_hashes(F.col("tokens")))
    # no-space-script (CJK) docs fall back to char k-grams — staged
    # column per the HOF re-evaluation rule; CASE WHEN evaluates only
    # the taken branch, so latin rows never pay the char-gram pass.
    # The ratio tests use token_char_len (== length(canon_nospace(doc))
    # character-for-character — see its docstring), so the canonical
    # no-space STRING (two extra full-doc regex passes) is built only
    # for the rows whose branch consumes it: char-primary docs and
    # hysteresis-band docs, a tiny fraction of a latin corpus.
    df = df.withColumn("_nchars", token_char_len(F.col("tokens")))
    df = df.withColumn(
        "char_primary",
        char_fallback_cond_len(
            F.col("_nchars"), F.col("tokens"), cfg.char_fallback_avg_len
        ),
    )
    df = df.withColumn(
        "_in_band",
        char_fallback_band_len(
            F.col("_nchars"), F.col("tokens"),
            cfg.char_fallback_avg_len, cfg.char_fallback_hysteresis,
        ),
    )
    df = df.withColumn(
        "_canon_ns",
        F.when(
            F.col("char_primary") | F.col("_in_band"), canon_nospace(F.col("doc"))
        ).otherwise(F.lit("")),
    )
    df = df.withColumn(
        "shingle_hashes",
        F.when(
            F.col("char_primary"),
            char_kgram_hash_set(F.col("_canon_ns"), cfg.char_kgram_k),
        ).otherwise(shingle_hash_set(F.col("token_hashes"), cfg.shingle_k)),
    )
    # hysteresis band: docs near the fallback boundary ALSO carry the
    # other family (alt_hashes/alt_sig), so a near-dup pair straddling
    # the boundary still shares a family end-to-end (banding via
    # band_table_dual, verification via the family-aligned jaccard).
    # Out-of-band docs (virtually the whole corpus) carry empty arrays:
    # near-zero extra shuffle bytes, and the alt signature rides the
    # SAME fused Arrow pass as the primary (with_minhash_dual) so there
    # is no second per-row python round trip — the kernel itself runs
    # only on in-band rows.
    df = df.withColumn(
        "alt_hashes",
        F.when(
            F.col("_in_band"),
            F.when(
                F.col("char_primary"),
                shingle_hash_set(F.col("token_hashes"), cfg.shingle_k),
            ).otherwise(char_kgram_hash_set(F.col("_canon_ns"), cfg.char_kgram_k)),
        ).otherwise(F.array().cast("array<long>")),
    )
    df = with_minhash_dual(df, cfg)
    df = df.withColumn("simhash", make_simhash_udf()(F.col("token_hashes")))
    keep = [
        "conv_id", "n_turns", "text_sha", "shingle_hashes", "sig", "simhash",
        "char_primary", "alt_hashes", "alt_sig",
    ]
    if cfg.verify_mode == "soft_tfidf":
        # the soft verifier needs raw tokens; other modes keep the
        # feature table narrow (shuffle volume at scale)
        keep.insert(3, "tokens")
    return df.select(*keep)


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: DedupeConfig = DEFAULT_CONFIG,
    store: StageStore | None = None,
    metrics_dir: str | None = None,
    run_id: str | None = None,
    with_spans: bool = True,
    eager: bool = False,
) -> PipelineResult:
    """``eager=True`` materializes (persist + count) every stage as it is
    built, so ``PipelineResult.stage_wall`` attributes wall-clock to the
    stage that actually did the work. Without it the DAG is lazy and the
    first downstream action (usually the connected-components driver
    loop) absorbs every upstream stage's cost — fine for production, but
    useless for benchmarking attribution (bench.py runs eager)."""
    run_id = run_id or uuid.uuid4().hex[:12]
    walls: dict[str, float] = {}
    # checkpoint fingerprint = config + INPUT signature: resuming the
    # same checkpoint dir against a different --input must recompute,
    # not reuse the old corpus's stages (checkpoint.input_signature —
    # metadata-only; in-memory inputs contribute nothing and fall back
    # to config-only addressing, as the tests' generated frames do)
    fp = cfg.fingerprint()
    in_sig = input_signature(transcripts)
    if in_sig:
        fp = f"{fp}-in{in_sig}"

    def stage(name: str, build, cache: bool = False) -> DataFrame:
        t0 = time.time()
        if store is not None and store.has(name, fp, spark):
            df = store.load(spark, name)
            walls[name] = 0.0  # resumed, not recomputed
            return df
        df = build()
        if store is not None:
            df = store.save(spark, name, df, fp)
        elif cache or eager:
            df = df.persist()
        elif metrics_dir is not None:
            # metrics imply persist: record_stages' lineage pass is an
            # action over this plan — unpersisted, it would execute the
            # stage once for metrics and AGAIN for the first downstream
            # consumer (doubling the heavy candidate/span stages). With
            # a store the save/load round-trip is the materialization,
            # so the lineage pass only rescans the written table.
            # DISK_ONLY, not the MEMORY_AND_DISK default: a store-less
            # production job with metrics on would otherwise pin EVERY
            # stage's deserialized rows on the executor heap for the
            # whole app — the profile that GC-locks large corpora under
            # modest heaps (see CLAUDE.md eager-mode note).
            df = df.persist(StorageLevel.DISK_ONLY)
        if eager:
            df.count()
        wall = time.time() - t0
        walls[name] = wall
        record_stages(spark, metrics_dir, run_id, [(name, df, wall)], fp)
        return df

    conversations = stage(
        "conversations",
        lambda: assemble_conversations(
            transcripts, max_turns=cfg.max_turns_per_conv
        ),
        cache=True,
    )
    features = stage("features", lambda: build_features(conversations, cfg), cache=True)

    slim_cols = [
        "conv_id", "text_sha", "shingle_hashes", "sig", "simhash",
        "char_primary", "alt_hashes", "alt_sig",
    ]
    if cfg.verify_mode == "soft_tfidf":
        slim_cols.insert(2, "tokens")
    feat_slim = features.select(*slim_cols)
    # rep-blocking (operators/blocking.py); in aux-rule mode reps and
    # star are per (text_sha, combined aux signature) subgroup
    aux_fields = sorted(
        {f for f in (cfg.asymmetry_field, cfg.revision_field) if f is not None}
    )
    if aux_fields:
        from .operators.asymmetry import combined_field_signatures
        from .operators.exact import exact_star_pairs_grouped

        # lazy localCheckpoint: the narrow (conv_id, aux_sig, aux_class)
        # frame feeds rep selection, banding, simhash, winnowing AND the
        # grouped star — unpersisted, each consumer would re-run the
        # transcripts-wide signature aggregation (the multi-consumer
        # trap in CLAUDE.md); checkpointing truncates the lineage to a
        # one-pass materialization on first use.
        # DELIBERATE: signatures aggregate over the RAW transcript rows,
        # not the max_turns_per_conv-capped prefix the compared text is
        # assembled from — auxiliary evidence on truncated turns still
        # refuses/revises the pair (evidence the similarity tiers never
        # saw is exactly what the guard exists for), and run_pipeline
        # and api.match make the same choice so verdicts agree across
        # entry points (r5 advisory: documented, not changed).
        aux_sigs = combined_field_signatures(
            transcripts, aux_fields, presence_field=cfg.asymmetry_field
        ).localCheckpoint(eager=False)
        feat_reps = representatives(
            feat_slim.join(
                aux_sigs.select("conv_id", F.col("aux_sig").alias("_aux")),
                "conv_id",
                "left",
            ).withColumn("_aux", F.coalesce(F.col("_aux"), F.lit(""))),
            ["_aux"],
        ).drop("_aux")
        # hub edges starred per verdict-equivalence class (the
        # asymmetry field's presence flag): linear in subgroups
        star = exact_star_pairs_grouped(
            feat_slim.select("conv_id", "text_sha")
            .join(aux_sigs, "conv_id", "left")
            .withColumn("aux_sig", F.coalesce(F.col("aux_sig"), F.lit("")))
            .withColumn(
                "aux_class",
                F.coalesce(
                    F.col("aux_class"),
                    F.lit("0" if cfg.asymmetry_field else ""),
                ),
            ),
            "aux_sig",
            class_col="aux_class",
        )
    else:
        feat_reps = representatives(feat_slim)
        star = None

    bands = stage("bands", lambda: band_table_dual(feat_reps, cfg))
    bstats = stage("band_stats", lambda: band_stats(bands, cfg))

    def build_candidates() -> DataFrame:
        # multi-band/multi-chunk duplicates collapse in collect_set's
        # map-side partial
        return within_candidates(
            bands, feat_slim, cfg, star=star
        ).groupBy("id_a", "id_b").agg(
            F.array_sort(F.collect_set("source")).alias("sources")
        )

    candidates = stage("candidates", build_candidates)

    def build_verified() -> DataFrame:
        v = verify_pairs(
            candidates, feat_slim, cfg, method=f"jaccard_{cfg.verify_mode}"
        )
        # P8 guard / F10 revision (operators/asymmetry.py) run INSIDE the
        # verified stage so downstream consumers (clustering via
        # dupe_pairs, responses, refresh parity) all see the final
        # verdicts, and the stage checkpoint fingerprint (cfg) captures
        # whether the rules were active. Default-off: byte-identical
        # verified frame when both fields are None.
        from .operators.asymmetry import apply_aux_rules

        return apply_aux_rules(
            v, transcripts, cfg.asymmetry_field, cfg.revision_field
        )

    verified = stage("verified", build_verified, cache=True)

    def build_clusters() -> DataFrame:
        comp = connected_components(dupe_pairs(verified))
        return clusters_with_singletons(conversations, comp)

    clusters = stage("clusters", build_clusters)

    def build_spans() -> DataFrame:
        # span blocking: winnowing inverted index ∪ mid-similarity verified
        # pairs, minus pairs already classified whole-doc duplicates.
        # Refused (null_dupe) pairs are excluded with the dupes: in aux
        # mode a refused pair is typically a byte-identical or near-
        # identical text the guard declined to CLASSIFY — span-scanning
        # it would push full-length identical docs through the
        # quadratic LCS kernel for no signal (the whole doc is the span)
        winnow = winnow_span_candidates(feat_reps, cfg)
        mid = span_candidates(verified, cfg)
        from .operators.verify import STATUS_EXACT, STATUS_LIKELY, STATUS_NULL

        dupes = verified.filter(
            F.col("status").isin(STATUS_EXACT, STATUS_LIKELY, STATUS_NULL)
        ).select("id_a", "id_b")
        cand = (
            winnow.unionByName(mid)
            .dropDuplicates(["id_a", "id_b"])
            .join(dupes, ["id_a", "id_b"], "left_anti")
        )
        # byte-identical pairs never reach the LCS kernel, by KEY, not
        # by materialized-verdict: under aux rules winnow runs over
        # per-(sha, aux_sig) subgroup reps, so byte-identical texts can
        # pair via shared fingerprints while verified materializes only
        # the class-star hub edges — such a pair would survive the
        # left_anti above and push two full-length identical docs
        # through the quadratic kernel only to report the whole doc as
        # a span (r5 advisory). The sha equi-check closes every such
        # path; in plain mode it matches nothing (one rep per sha, and
        # same-sha non-rep pairs are already excluded as exact dupes).
        sha_a = feat_slim.select(
            F.col("conv_id").alias("id_a"), F.col("text_sha").alias("_sha_a")
        )
        sha_b = feat_slim.select(
            F.col("conv_id").alias("id_b"), F.col("text_sha").alias("_sha_b")
        )
        cand = (
            cand.join(sha_a, "id_a")
            .join(sha_b, "id_b")
            .filter(F.col("_sha_a") != F.col("_sha_b"))
            .drop("_sha_a", "_sha_b")
        )
        docs = conversations.select("conv_id", "doc")
        pa = docs.select(F.col("conv_id").alias("id_a"), F.col("doc").alias("doc_a"))
        pb = docs.select(F.col("conv_id").alias("id_b"), F.col("doc").alias("doc_b"))
        joined = cand.join(pa, "id_a").join(pb, "id_b")
        return copied_spans(joined, cfg)

    spans = (
        stage("spans", build_spans)
        if with_spans
        else spark.createDataFrame([], "id_a string, id_b string, start_a int, start_b int, length int")
    )

    return PipelineResult(
        conversations=conversations,
        features=features,
        candidates=candidates,
        verified=verified,
        clusters=clusters,
        spans=spans,
        band_stats=bstats,
        stage_wall=walls,
        run_id=run_id,
    )

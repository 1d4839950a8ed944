"""End-to-end training-data curation: the composed pipeline a corpus
actually runs before pretraining.

    annotate -> quality/repetition filter -> PII scrub ->
    [C4 line dedup] -> [bigram-LM quality gate] ->
    [DSIR top-k selection vs a target corpus] ->
    decontaminate (vs a holdout/eval set) ->
    near-dup dedupe -> cluster representatives -> [per-group cap] ->
    [mixture sampling] -> leakage-safe split ->
    [sliding-window chunking] -> sequence packing ->
    [training-order shuffle]

Every stage flows through the same checkpoint/metrics recipe as
``pipeline.run_pipeline`` (StageStore fingerprint = config + input
signature; per-partition lineage via metrics.record_stages), so a 100 TB
curation run resumes mid-funnel without recomputing completed stages.
The dedupe stage IS run_pipeline — documents enter as one-turn
transcripts, so the full blocking/verify/CC machinery (salted hot
bands, sha-rep blocking, one-wave repartition policy) is reused rather
than re-implemented.

Scale notes per stage: annotate is pure Catalyst except the repetition
agg (explode + two-level combinable agg, shuffles on doc_id);
decontamination is a shingle equi-join — plus an optional exact
n-token-window verbatim rule on md5-prefix keys (never a cross join,
and never shuffling n-word strings); splits are
assigned at the CLUSTER level so no near-dup pair straddles train/test;
packing is next-fit per (split, shard) — one shuffle, sequences never
mix splits.
"""

from __future__ import annotations

import hashlib
import json
import time
import uuid
import weakref
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .checkpoint import StageStore, input_signature
from .config import DedupeConfig
from .functions import text as T
from .functions.analysis import (
    bigram_lm_scores,
    lang_guess,
    quality_score6,
    repetition_signals,
    ws_token_count,
)
from .functions.redact import redact_pii
from .functions.sampling import (
    cap_per_group,
    corpus_shuffle,
    mixture_sample,
    split_assign,
)
from .metrics import record_stages
from .operators.packing import pack_sequences
from .pipeline import run_pipeline

# per-session memo for _content_sig (keyed by live DataFrame identity;
# weakref guards against id() reuse after garbage collection)
_CONTENT_SIG_CACHE: dict[int, tuple] = {}


@dataclass
class CurateConfig:
    """Thresholds are 1e6-quantized to match the analysis columns."""

    min_tokens: int = 5
    min_quality6: int = 250000
    max_top_bigram_ratio6: int = 300000
    max_dup_bigram_ratio6: int = 500000
    contamination_min_shared: int = 3
    contamination_min_containment6: int = 500000
    # GPT-3-style VERBATIM decontamination rule, alongside the
    # containment rule above: when set (canonically 13), any surviving
    # doc that shares an exact n-token window with a holdout doc is
    # also removed — catches short verbatim quotes of a long eval doc
    # whose shingle containment never reaches the threshold. Joined on
    # fixed-width md5-prefix keys (text.verbatim_ngram_keys), never on
    # the n-word strings. None = containment rule only.
    decon_verbatim_ngram: int | None = None
    # Bloom prefilter for the verbatim rule's TRAINING side
    # (operators/bloom.py): when set, the holdout's n-gram keys fold
    # into an m-bit broadcast bitmap and every training gram is
    # screened map-side BEFORE the equi-join, so the join's shuffle
    # carries only the (rare) survivors instead of the whole training
    # gram stream. Bloom has no false negatives — the decon OUTPUT is
    # byte-identical with or without it; only the physical plan
    # changes. Value = number of bits m (size it ~10x the expected
    # distinct holdout grams; the broadcast is m/8 bytes regardless of
    # corpus size). None = join all grams. Ignored unless
    # decon_verbatim_ngram is set.
    decon_bloom_m: int | None = None
    # model-based quality gate (the CCNet-style perplexity-proxy
    # filter): a bigram LM is trained on the scrubbed survivors
    # themselves and docs whose mean bigram log-likelihood
    # (1e6-scaled, analysis.bigram_lm_scores) falls below the
    # threshold are dropped. None = skip the stage entirely (no LM is
    # trained). Scoreless docs (< 2 tokens) pass — the gate acts only
    # on evidence.
    min_lm_score6: int | None = None
    # DSIR data selection (Xie et al. 2023) against a target corpus:
    # keep only the dsir_top_k most target-like survivors by
    # hashed-ngram importance logweight (weighting.dsir_logweights,
    # fit jointly on the scrubbed survivors and the PII-scrubbed
    # target). Runs after the LM gate, before decontamination.
    # None = skip; requires the ``dsir_target`` DataFrame when set.
    dsir_top_k: int | None = None
    # C4-style corpus-wide line dedup of the scrubbed survivors: every
    # repeated line (split on '\n') is removed except its first
    # (doc_id, position) occurrence, docs rebuilt in original order,
    # fully-deduped docs dropped, n_tokens recomputed on the text that
    # actually ships. Runs BEFORE the bigram-LM gate so model-based
    # quality scores the deduped text. False = skip the stage.
    line_dedup: bool = False
    # per-group cap on the kept representatives (the domain-cap step:
    # at most N docs per group so no single source dominates);
    # None = skip
    group_cap: int | None = None
    group_cap_col: str = "lang"
    group_cap_salt: str = "cap"
    # data-mixing weights applied to the kept corpus before packing:
    # group value -> target rate (sampling.mixture_sample); None = skip
    mixture_rates: dict[str, float] | None = None
    mixture_group_col: str = "lang"
    mixture_default_rate: float = 1.0
    mixture_salt: str = "mix"
    split_salt: str = "curate"
    # sliding-window chunking of the kept docs BEFORE packing
    # (operators/chunking.py, HF convention): docs longer than
    # chunk_max_tokens are split into overlapping windows so no packed
    # unit exceeds the model context — without it the packer gives an
    # oversize doc its own (overflowing) bin. None = pack whole docs.
    chunk_max_tokens: int | None = None
    chunk_overlap: int = 0
    pack_capacity: int = 2048
    pack_nshards: int = 64
    # training-order shuffle of the PACKED SEQUENCES (sampling.
    # corpus_shuffle over the (split, shard, seq) key): None = skip;
    # a salt makes the order reproducible and a new salt reshuffles
    shuffle_salt: str | None = None
    shuffle_nshards: int = 64
    dedupe: DedupeConfig = field(default_factory=DedupeConfig)

    def fingerprint(self) -> str:
        payload = json.dumps(asdict(self), sort_keys=True).encode()
        return hashlib.sha256(payload).hexdigest()[:16]


@dataclass
class CurateResult:
    annotated: DataFrame  # every input doc + lang/quality/tokens/repetition
    filtered: DataFrame  # survivors of the quality/repetition gate,
    #   scrubbed (and past the bigram-LM gate when cfg.min_lm_score6
    #   is set)
    decon: DataFrame  # filtered minus holdout-contaminated docs
    clusters: DataFrame  # (doc_id, cluster_id) over the filtered survivors
    splits: DataFrame  # (doc_id, cluster_id, split) — cluster-level split
    kept: DataFrame  # scrubbed cluster reps; per-group-capped and/or
    #   mixture-sampled if configured
    packed: DataFrame  # (doc_id, split, shard, seq, n_tokens)
    #   + chunk_idx when cfg.chunk_max_tokens is set (packed units are
    #   then sliding-window chunks, each one context-bounded)
    #   + (order_shard, order_pos) when cfg.shuffle_salt is set: the
    #   reproducible training order of each packed sequence — read
    #   order_shard-major, order_pos ascending
    stage_wall: dict[str, float]
    funnel: dict[str, int] | None  # rows per stage; eager runs only
    chunked: DataFrame | None = None  # (doc_id, chunk_idx, start_tok,
    #   n_chunk_tokens, chunk_text) when cfg.chunk_max_tokens is set


def _doc_shingles(docs: DataFrame, cfg: DedupeConfig, id_alias: str) -> DataFrame:
    t = docs.select(F.col("doc_id").alias(id_alias), T.tokenize(F.col("text")).alias("tokens"))
    t = t.withColumn("th", T.token_hashes(F.col("tokens")))
    return t.select(id_alias, T.shingle_hash_set(F.col("th"), cfg.shingle_k).alias("sh"))


def curate(
    spark: SparkSession,
    documents: DataFrame,
    cfg: CurateConfig | None = None,
    holdout: DataFrame | None = None,
    dsir_target: DataFrame | None = None,
    store: StageStore | None = None,
    metrics_dir: str | None = None,
    run_id: str | None = None,
    eager: bool = False,
) -> CurateResult:
    """``documents``: (doc_id, text). ``holdout``: optional (doc_id,
    text) eval set; any surviving doc containing >= min_shared of a
    holdout doc's shingles at containment >= threshold is removed.
    ``eager`` materializes each stage (persist + count) for wall/funnel
    attribution, exactly like run_pipeline's eager mode."""
    cfg = cfg or CurateConfig()
    run_id = run_id or uuid.uuid4().hex[:12]
    walls: dict[str, float] = {}
    funnel: dict[str, int] | None = {} if eager else None

    fp = cfg.fingerprint()
    in_sig = input_signature(documents)
    if in_sig:
        fp = f"{fp}-in{in_sig}"
    def _content_sig(df: DataFrame) -> str:
        # content-address an IN-MEMORY input when a store is in play: a
        # constant 'mem' marker let a store-backed resume with a
        # DIFFERENT eval set silently serve the stale decontaminated
        # stage (contaminated docs passing into training). One tiny
        # order-insensitive agg job (the repo's bit_xor checksum
        # recipe) — runs only for store-backed runs with file-less
        # inputs; parquet-backed inputs keep the free file signature.
        # NOTE: this is a DELIBERATE eager Spark action during plan
        # construction (an exception to the repo's no-actions rule):
        # staleness beats speed for a correctness fingerprint, and it
        # fires even when every stage is a checkpoint hit. The result
        # is memoized per live DataFrame object, so chained curate()
        # calls in one session re-scan the holdout once, not per call
        # (a MUTATED-in-place frame cannot exist — DataFrames are
        # immutable plans, so object identity implies same content).
        key = id(df)
        hit = _CONTENT_SIG_CACHE.get(key)
        if hit is not None and hit[0]() is df:
            return hit[1]
        row = df.select(
            F.bit_xor(
                F.xxhash64(F.col("doc_id").cast("string"), F.col("text"))
            ).alias("h"),
            F.count("*").alias("n"),
        ).collect()[0]
        sig = f"mem{(row['h'] or 0) & (2**64 - 1):016x}n{row['n']}"
        # eviction on GC: without the callback a long-lived driver
        # accumulates one dead entry per collected holdout frame
        _CONTENT_SIG_CACHE[key] = (
            weakref.ref(df, lambda _r, _k=key: _CONTENT_SIG_CACHE.pop(_k, None)),
            sig,
        )
        return sig

    if holdout is not None:
        # the holdout is an input too: resuming with a different (or
        # newly added) eval set must recompute decontamination, not
        # serve the stale stage
        ho_sig = input_signature(holdout)
        if not ho_sig and store is not None:
            ho_sig = _content_sig(holdout)
        fp = f"{fp}-ho{ho_sig or 'mem'}"
    if cfg.dsir_top_k is not None and dsir_target is None:
        raise ValueError("cfg.dsir_top_k is set but no dsir_target was given")
    if dsir_target is not None:
        # same reasoning as the holdout: the target corpus shapes the
        # selection, so it belongs in the resume fingerprint
        dt_sig = input_signature(dsir_target)
        if not dt_sig and store is not None:
            dt_sig = _content_sig(dsir_target)
        fp = f"{fp}-dt{dt_sig or 'mem'}"

    def stage(name: str, build, cache: bool = False) -> DataFrame:
        # same recipe as pipeline.run_pipeline.stage (kept in sync):
        # store hit -> load; else build, checkpoint/persist, record
        t0 = time.time()
        if store is not None and store.has(name, fp, spark):
            df = store.load(spark, name)
            walls[name] = 0.0
            if funnel is not None:
                funnel[name] = df.count()
            return df
        df = build()
        if store is not None:
            df = store.save(spark, name, df, fp)
        elif cache or eager:
            # localCheckpoint, NOT bare persist: funnel stages reference
            # their predecessor 2-3x (filtered ⋈ scores(filtered), the
            # dsir self-join), so with persist alone the LOGICAL plan
            # doubles per stage and Catalyst analysis OOMs the driver
            # once enough optional stages are enabled (measured: lm_gate
            # + dsir_top_k at sf0.001 exhausted an 8g heap before any
            # data moved). Checkpointing truncates the plan to the
            # materialized RDD; blocks are non-resilient to executor
            # loss, which is the documented cache-mode trade — store
            # mode (parquet round-trip) stays the production path.
            df = df.localCheckpoint(eager=False)
        elif metrics_dir is not None:
            df = df.persist(StorageLevel.DISK_ONLY)
        if eager:
            n = df.count()
            if funnel is not None:
                funnel[name] = n
        wall = time.time() - t0
        walls[name] = wall
        record_stages(spark, metrics_dir, run_id, [(name, df, wall)], fp)
        return df

    def build_annotated() -> DataFrame:
        # audit columns ONLY — no text column, so neither the stage
        # store nor a job's annotated/ output ever persists raw
        # (unscrubbed) PII-bearing text; scrubbed text first
        # materializes in the filtered stage
        base = documents.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            lang_guess(F.col("text")).alias("lang"),
            quality_score6(F.col("text")).alias("quality6"),
            ws_token_count(F.col("text")).alias("n_tokens"),
        )
        # cast the id BEFORE repetition_signals so both join sides share
        # the declared long type (an int32/string parquet id would
        # otherwise join through implicit coercion)
        rep = repetition_signals(
            documents.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        ).select("doc_id", "top_bigram_ratio6", "dup_bigram_ratio6")
        return base.join(rep, "doc_id", "left").na.fill(
            {"top_bigram_ratio6": 0, "dup_bigram_ratio6": 0}
        )

    annotated = stage("annotated", build_annotated, cache=True)

    def build_filtered() -> DataFrame:
        keep = (
            (F.col("n_tokens") >= cfg.min_tokens)
            & (F.col("quality6") >= cfg.min_quality6)
            & (F.col("top_bigram_ratio6") <= cfg.max_top_bigram_ratio6)
            & (F.col("dup_bigram_ratio6") <= cfg.max_dup_bigram_ratio6)
        )
        survivors = annotated.filter(keep).select("doc_id", "lang", "quality6")
        # scrub AFTER the filter: the regex chain runs only on
        # survivors. n_tokens is recomputed on the SCRUBBED text —
        # thresholds above judged the raw doc, but the count that flows
        # into sequence packing must describe the text actually shipped
        # (redaction can shrink it: alice@example.com = 3 canonical
        # tokens, <EMAIL> = 1)
        scrubbed = (
            documents.select(
                F.col("doc_id").cast("long").alias("doc_id"), "text"
            )
            .join(survivors, "doc_id")
            .withColumn("text", redact_pii(F.col("text")))
        )
        return scrubbed.select(
            "doc_id",
            "text",
            "lang",
            "quality6",
            ws_token_count(F.col("text")).alias("n_tokens"),
        )

    filtered = stage("filtered", build_filtered, cache=True)

    if cfg.line_dedup:
        src_filtered = filtered

        def build_line_deduped() -> DataFrame:
            from .operators.linededup import dedupe_lines_text

            lined = src_filtered.select(
                "doc_id",
                F.posexplode(F.split(F.col("text"), "\n")).alias(
                    "line_idx", "line"
                ),
            )
            new_text = dedupe_lines_text(lined)
            # trim: blank lines are dedup-exempt, so a doc whose every
            # NON-blank line was seen earlier rebuilds to separators
            # only — that's an empty doc for the funnel's purposes
            return (
                src_filtered.drop("text", "n_tokens")
                .join(new_text, "doc_id")
                .filter(F.length(F.trim(F.col("text"))) > 0)
                .select(
                    "doc_id",
                    "text",
                    "lang",
                    "quality6",
                    ws_token_count(F.col("text")).alias("n_tokens"),
                )
            )

        filtered = stage("line_deduped", build_line_deduped, cache=True)

    if cfg.min_lm_score6 is not None:

        def build_lm_gate() -> DataFrame:
            # trained on the survivors, scored on the survivors — two
            # combinable count aggs + a join, linear and skew-free
            scores = bigram_lm_scores(filtered).select("doc_id", "lm_score6")
            return (
                filtered.join(scores, "doc_id", "left")
                .filter(
                    F.col("lm_score6").isNull()
                    | (F.col("lm_score6") >= cfg.min_lm_score6)
                )
                .drop("lm_score6")
            )

        filtered = stage("lm_gate", build_lm_gate, cache=True)

    if cfg.dsir_top_k is not None:
        src_dsir = filtered

        def build_dsir_selected() -> DataFrame:
            from .functions.redact import redact_pii as _scrub
            from .functions.weighting import dsir_logweights

            # fit the target/raw hashed-ngram models on one combined
            # frame (ids prefixed so the two corpora can't collide);
            # the target is PII-scrubbed like every other side input so
            # both distributions are compared post-redaction
            raw = src_dsir.select(
                F.concat(F.lit("r:"), F.col("doc_id").cast("string")).alias("k"),
                F.col("text"),
                F.lit(False).alias("tgt"),
            )
            tgt = dsir_target.select(
                F.concat(F.lit("t:"), F.col("doc_id").cast("string")).alias("k"),
                _scrub(F.col("text")).alias("text"),
                F.lit(True).alias("tgt"),
            )
            scored = dsir_logweights(
                raw.unionByName(tgt), F.col("tgt"), id_col="k"
            )
            # top-k of the RAW side by target-likeness: per-partition
            # top-k + k-row driver merge (TakeOrderedAndProject), the
            # scale-safe shape for small k
            kept_ids = (
                scored.filter(F.col("is_target") == 0)
                .orderBy(F.desc("logw6"), "k")
                .limit(cfg.dsir_top_k)
                .select(F.expr("substring(k, 3)").alias("__kid"))
            )
            return src_dsir.join(
                F.broadcast(kept_ids),
                src_dsir["doc_id"].cast("string") == F.col("__kid"),
            ).drop("__kid")

        filtered = stage("dsir_selected", build_dsir_selected, cache=True)

    def build_decontaminated() -> DataFrame:
        # holdout text is scrubbed with the SAME redaction as the
        # training side: the filtered docs are post-scrub, so verbatim
        # contamination whose span contains PII must match shingle-for-
        # shingle on the redacted form of both sides
        ho = holdout.select("doc_id", redact_pii(F.col("text")).alias("text"))
        ev = _doc_shingles(ho, cfg.dedupe, "eval_id").select(
            "eval_id", F.size("sh").alias("eval_sh"), F.explode("sh").alias("h")
        )
        tr = _doc_shingles(filtered, cfg.dedupe, "train_id").select(
            "train_id", F.explode("sh").alias("h")
        )
        # per-(eval doc, train doc) counts — grouping without eval_id
        # would merge shared-shingle counts across different holdout
        # docs and over-remove (same key shape as q_contamination_pairs)
        hits = (
            ev.join(tr, "h")
            .groupBy("eval_id", "train_id", "eval_sh")
            .agg(F.count("*").alias("shared"))
            .filter(
                (F.col("shared") >= cfg.contamination_min_shared)
                & (
                    F.round(
                        F.col("shared").cast("double")
                        / F.col("eval_sh").cast("double")
                        * 1e6
                    ).cast("long")
                    >= cfg.contamination_min_containment6
                )
            )
            .select(F.col("train_id").alias("doc_id"))
            .distinct()
        )
        if cfg.decon_verbatim_ngram is not None:
            # verbatim rule: ANY shared exact n-token window flags the
            # training doc, regardless of containment. Both sides are
            # the same scrubbed text the containment rule sees; keys
            # are 16-char md5 prefixes so the equi-join shuffle never
            # carries n-word strings. Eval side collapses to a distinct
            # key set first (holdouts are small; the optimizer picks
            # broadcast when it fits — not forced, same policy as the
            # boilerplate anti-join).
            n = cfg.decon_verbatim_ngram

            def _keys(df: DataFrame, id_alias: str) -> DataFrame:
                toks = df.select(
                    F.col("doc_id").alias(id_alias),
                    T.tokenize(F.col("text")).alias("toks"),
                )
                return toks.select(
                    id_alias,
                    F.explode(T.verbatim_ngram_keys(F.col("toks"), n)).alias("g"),
                )

            ev_keys = _keys(ho, "eval_id").select("g").distinct()
            tr_keys = _keys(filtered, "train_id")
            if cfg.decon_bloom_m is not None:
                # zero-shuffle screen: the holdout keys fold into a
                # fixed m-bit bitmap broadcast onto the training gram
                # stream; only bloom survivors reach the exact join.
                # No false negatives -> identical decon output.
                from .operators.bloom import bloom_screen, bloom_words

                bloom = bloom_words(ev_keys, "g", m=cfg.decon_bloom_m)
                tr_keys = (
                    bloom_screen(tr_keys, bloom, "g", m=cfg.decon_bloom_m)
                    .filter("might_contain")
                    .drop("might_contain")
                )
            verbatim = (
                tr_keys.join(ev_keys, "g")
                .select(F.col("train_id").alias("doc_id"))
                .distinct()
            )
            hits = hits.unionByName(verbatim).distinct()
        return filtered.join(hits, "doc_id", "left_anti")

    if holdout is None:
        # no eval set: the stage would be a byte-identical copy of
        # filtered — skip the redundant checkpoint/persist entirely
        # (copy the count from whichever gate actually fed it)
        decon = filtered
        walls["decontaminated"] = 0.0
        if funnel is not None:
            if cfg.dsir_top_k is not None:
                src = "dsir_selected"
            elif cfg.min_lm_score6 is not None:
                src = "lm_gate"
            elif cfg.line_dedup:
                src = "line_deduped"
            else:
                src = "filtered"
            if src in funnel:
                funnel["decontaminated"] = funnel[src]
    else:
        decon = stage("decontaminated", build_decontaminated, cache=True)

    # dedupe = the full production pipeline over one-turn transcripts
    tx = decon.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit("user").alias("role"),
        "text",
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    # sub-store root separator is format-specific: parquet roots are
    # paths ('/dedupe'), Iceberg roots are namespaces whose stage tables
    # resolve as f"{root}.{stage}" — a slash inside that identifier is
    # an AnalysisException mid-funnel, a '.dedupe' nested namespace is
    # valid multi-level Iceberg
    sub_store = (
        StageStore(
            f"{store.root}/dedupe"
            if store.fmt == "parquet"
            else f"{store.root}.dedupe",
            store.fmt,
        )
        if store
        else None
    )
    pres = run_pipeline(
        spark,
        tx,
        cfg.dedupe,
        store=sub_store,
        metrics_dir=metrics_dir,
        run_id=run_id,
        with_spans=False,
        eager=eager,
    )
    walls.update({f"dedupe_{k}": v for k, v in pres.stage_wall.items()})
    clusters = pres.clusters.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )

    def build_splits() -> DataFrame:
        return clusters.withColumn(
            "split", split_assign(F.col("cluster_id"), salt=cfg.split_salt)
        )

    splits = stage("splits", build_splits)

    def build_kept() -> DataFrame:
        # one representative per cluster: argmax quality6, lowest-id tie
        scored = clusters.join(decon.select("doc_id", "quality6"), "doc_id")
        reps = (
            scored.groupBy("cluster_id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("quality6")).alias("neg_quality6"),
                        F.col("doc_id").alias("doc_id"),
                    )
                ).alias("best")
            )
            .select(F.col("best.doc_id").alias("doc_id"))
        )
        return decon.join(reps, "doc_id")

    kept = stage("kept", build_kept, cache=True)

    if cfg.group_cap is not None:

        def build_capped() -> DataFrame:
            return cap_per_group(
                kept,
                group_col=cfg.group_cap_col,
                id_col="doc_id",
                cap=cfg.group_cap,
                salt=cfg.group_cap_salt,
            )

        kept = stage("capped", build_capped, cache=True)

    if cfg.mixture_rates is not None:

        def build_mixed() -> DataFrame:
            return mixture_sample(
                kept,
                cfg.mixture_rates,
                group_col=cfg.mixture_group_col,
                id_col="doc_id",
                salt=cfg.mixture_salt,
                default_rate=cfg.mixture_default_rate,
            )

        kept = stage("mixed", build_mixed, cache=True)

    chunked: DataFrame | None = None
    if cfg.chunk_max_tokens is not None:

        def build_chunked() -> DataFrame:
            from .operators.chunking import chunk_documents

            # chunk AFTER selection/cap/mix (those reason about docs)
            # and BEFORE packing (which must see context-bounded
            # units). Chunks inherit the doc's cluster-level split, so
            # leakage safety is preserved — every window of a doc lands
            # on the doc's side of the train/test wall.
            return chunk_documents(
                kept.select("doc_id", "text"),
                max_tokens=cfg.chunk_max_tokens,
                overlap=cfg.chunk_overlap,
            )

        chunked = stage("chunked", build_chunked, cache=True)

    def build_packed() -> DataFrame:
        if chunked is not None:
            # pack chunks, not docs: the unit id is doc_id:chunk_idx
            # (chunk_idx zero-padded so the packer's within-shard id
            # order is well-defined lexicographically), re-split into
            # columns after packing
            units = (
                chunked.join(splits.select("doc_id", "split"), "doc_id")
                .select(
                    F.format_string(
                        "%d:%06d", F.col("doc_id"), F.col("chunk_idx")
                    ).alias("unit_id"),
                    "split",
                    F.col("n_chunk_tokens").alias("n_tokens"),
                )
            )
            # the packer keeps string ids as-is under the name doc_id;
            # split the unit id back into (doc_id, chunk_idx) columns
            return pack_sequences(
                units,
                capacity=cfg.pack_capacity,
                nshards=cfg.pack_nshards,
                id_col="unit_id",
                group_cols=("split",),
            ).select(
                F.split(F.col("doc_id"), ":").getItem(0).cast("long").alias(
                    "doc_id"
                ),
                F.split(F.col("doc_id"), ":").getItem(1).cast("long").alias(
                    "chunk_idx"
                ),
                "split",
                "shard",
                "seq",
                "n_tokens",
            )
        return pack_sequences(
            kept.join(splits.select("doc_id", "split"), "doc_id").select(
                "doc_id", "split", "n_tokens"
            ),
            capacity=cfg.pack_capacity,
            nshards=cfg.pack_nshards,
            group_cols=("split",),
        )

    # cache only when the ordered stage exists: build_ordered consumes
    # packed TWICE (the distinct-sequence derivation and the final
    # join) — differently-pruned consumers get no exchange reuse, so an
    # uncached lazy run would execute the applyInPandas packer twice
    # (and double the logical plan, the stage() comment's explosion
    # mode). Without the ordered stage packed is terminal — no cache.
    packed = stage("packed", build_packed, cache=cfg.shuffle_salt is not None)

    if cfg.shuffle_salt is not None:

        def build_ordered() -> DataFrame:
            # shuffle SEQUENCES, not docs: every doc of a packed
            # sequence must land at the same training position. The
            # distinct sequence table is |packed| / ~docs-per-seq rows;
            # corpus_shuffle adds (shard, pos) so the packer's own
            # shard is aliased out of the way first.
            seqs = (
                packed.select(
                    "split", F.col("shard").alias("pack_shard"), "seq"
                )
                .dropDuplicates(["split", "pack_shard", "seq"])
                .withColumn(
                    "seq_key",
                    F.concat_ws(
                        "-", F.col("split"), F.col("pack_shard"), F.col("seq")
                    ),
                )
            )
            ordered = corpus_shuffle(
                seqs,
                id_col="seq_key",
                salt=cfg.shuffle_salt,
                nshards=cfg.shuffle_nshards,
            ).select(
                "split",
                F.col("pack_shard").alias("shard"),
                "seq",
                F.col("shard").alias("order_shard"),
                F.col("pos").alias("order_pos"),
            )
            return packed.join(ordered, ["split", "shard", "seq"])

        packed = stage("ordered", build_ordered)

    return CurateResult(
        annotated=annotated,
        filtered=filtered,
        decon=decon,
        clusters=clusters,
        splits=splits,
        kept=kept,
        packed=packed,
        stage_wall=walls,
        funnel=funnel,
        chunked=chunked,
    )

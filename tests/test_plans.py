"""Catalyst physical-plan assertions — the scale behaviors the engine
relies on must be visible in the plan, not assumed (task brief:
'.explain the plan and iterate until it's the plan you'd want').
"""

from pyspark.sql import functions as F

from lieu_spark import corpus
from lieu_spark.config import DedupeConfig
from lieu_spark.operators.assemble import assemble_conversations
from lieu_spark.operators.lsh import band_table, candidate_pairs
from lieu_spark.operators.verify import verify_pairs
from lieu_spark.pipeline import build_features

CFG = DedupeConfig()
SF_DIR = "/root/testdata/sf0.01"


def plan_of(df, mode: str = "formatted") -> str:
    jqe = df._jdf.queryExecution()
    try:
        return df.sparkSession._jvm.PythonSQLUtils.explainString(jqe, mode)
    except Exception:
        return jqe.explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        )


def test_parquet_pushdown_and_pruning(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.filter(F.col("n_chars") > 300).select("doc_id", "lang")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,300)]" in plan
    # column pruning: text (the big column) must NOT be read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read_schema
    assert "doc_id" in read_schema and "n_chars" in read_schema


def _transcripts(spark, n=60):
    rows = corpus.generate_rows(42, n)
    return spark.createDataFrame(
        [(r.conv_id, r.turn_idx, r.role, r.text, r.tool, r.ts) for r in rows],
        corpus.TRANSCRIPT_SCHEMA,
    )


def _feats(spark, n=60):
    return build_features(assemble_conversations(_transcripts(spark, n)), CFG)


def _plan_nodes(df) -> list:
    """Operators of the frame's own current physical plan. Cached
    relations are leaves here, so persisted upstream stages (features,
    conversations) do not count toward the frame's exchanges."""
    out = []
    stack = [df._jdf.queryExecution().executedPlan().executedPlan()]
    while stack:
        node = stack.pop()
        out.append(node)
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return out


def test_pipeline_candidates_plan_pinned(spark):
    """run_pipeline's candidates stage (operators/blocking.py) keeps the
    plan of the inline assembly it replaced, measured on this corpus:
    12 hash exchanges — 7 on text_sha (the rep window under each of the
    6 rep consumers, plus the exact star), one salt window per side of
    each similarity self-join, one for the source-tag groupBy — and the
    two self-joins keyed on plain (key, sub) attributes."""
    import re
    from collections import Counter

    from lieu_spark.pipeline import run_pipeline

    res = run_pipeline(spark, _transcripts(spark), CFG, with_spans=False)
    nodes = _plan_nodes(res.candidates)

    def keys(s: str) -> str:
        return re.sub(r"#\d+L?", "", s)

    def part_keys(node) -> str:
        part = keys(node.outputPartitioning().toString())
        return re.sub(r"^hashpartitioning\((.*), \d+\)$", r"\1", part)

    exchanges = Counter(part_keys(n) for n in nodes if n.nodeName() == "Exchange")
    assert exchanges == {
        "text_sha": 7,
        "band, band_hash": 2,
        "chunk, chunk_bits": 2,
        "id_a, id_b": 1,
    }, exchanges
    join_keys = sorted(
        keys(n.leftKeys().toString()) for n in nodes if "Join" in n.nodeName()
    )
    assert join_keys == [
        "List(band, band_hash, sub)",
        "List(chunk, chunk_bits, sub)",
    ], join_keys


def test_verify_plan_shape(spark):
    """Pair enrichment = equi joins on id (reference join_pairs shape);
    never a cartesian. Static plan shows SMJ (no stats on derived
    plans); AQE converts to broadcast at runtime when a side is small —
    which is the correct 100 TB default (both sides huge -> SMJ)."""
    feats = _feats(spark)
    pairs = candidate_pairs(band_table(feats, CFG), CFG)
    v = verify_pairs(pairs, feats, CFG)
    plan = plan_of(v)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_candidates_plan_shape(spark):
    """Self-join keys must be the PLAIN attribute columns
    (band, band_hash, sub) with only the id ordering as residual — not
    an inlined salt CASE expression (an earlier plan regression caught
    and fixed via this inspection)."""
    feats = _feats(spark)
    cand = candidate_pairs(band_table(feats, CFG), CFG)
    plan = plan_of(cand)
    assert "CartesianProduct" not in plan
    # WSCG spans only appear in the FINAL adaptive plan: execute, then
    # inspect the materialized plan tree
    cand.collect()
    final = cand._jdf.queryExecution().executedPlan().toString()
    # "*(n)" operator prefixes are the WholeStageCodegen spans
    assert "*(" in final
    key_lines = [ln for ln in plan.splitlines() if "Left keys" in ln]
    assert key_lines and "band" in key_lines[0] and "sub" in key_lines[0]
    cond_lines = [ln for ln in plan.splitlines() if "Join condition" in ln]
    assert any("id_a" in ln and "<" in ln for ln in cond_lines)
    assert not any("CASE WHEN" in ln for ln in cond_lines)


def test_star_join_broadcasts_dims(spark):
    """revenue_by_nation: the dimension joins (nation, region) must be
    broadcast (no shuffle for tiny sides); fact-fact joins keep their
    keyed exchanges; no cartesian anywhere."""
    from lieu_spark.queries import q_revenue_by_nation

    q = q_revenue_by_nation(spark, SF_DIR)
    plan = plan_of(q)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    # the order-date range predicate reaches the orders parquet scan
    assert any(
        "PushedFilters" in ln and "GreaterThanOrEqual(o_orderdate" in ln
        for ln in plan.splitlines()
    ), plan[:2000]


def test_ivf_candidate_plan_no_cartesian(spark):
    """IVF candidate generation must be an equi-join on cell (probe
    rows x inverted list), never a cross of the embedding table."""
    from lieu_spark.operators.ann import ivf_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    t = ivf_topk(e, k=3, ncentroids=8, nprobe=3)
    plan = plan_of(t)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_plan_construction_runs_no_action(spark, monkeypatch):
    """Building the hyperplane-LSH plan must not trigger a Spark action
    (.first()/.collect()/.count()): hyperplanes derive from (seed, dim)
    inside the UDF, so plan construction is pure. (IVF's bounded
    4096-row training collect is the documented exception.)"""
    from pyspark.sql import DataFrame

    from lieu_spark.operators.ann import embedding_neardup_pairs, hyperplane_lsh_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    def _boom(name):
        def inner(self, *a, **k):
            raise AssertionError(f"driver action {name}() during plan construction")
        return inner

    for name in ("first", "collect", "count", "head", "take"):
        monkeypatch.setattr(DataFrame, name, _boom(name))
    t = hyperplane_lsh_topk(e, k=3)
    nd = embedding_neardup_pairs(e)
    monkeypatch.undo()
    assert t.columns == ["id_a", "id_b", "cosine", "rank"]
    assert nd.columns == ["id_a", "id_b", "cosine"]
    plan = plan_of(t)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnow_plan_reuses_exchange(spark):
    """The winnow stop-filter is a window count over h whose exchange is
    REUSED by both sides of the fingerprint self-join — one hash
    partitioning of the exploded table, not four recomputes of the
    explode lineage (the pre-rewrite plan; see BENCH.md)."""
    from lieu_spark.operators.spans import winnow_span_candidates

    feats = _feats(spark)
    cand = winnow_span_candidates(feats, CFG)
    plan = plan_of(cand)
    assert "CartesianProduct" not in plan
    # exchange reuse is decided in the final adaptive plan
    cand.collect()
    final = cand._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final or "TableCacheQueryStage" in final, final[:2000]


def test_simhash_candidates_salted_plan(spark):
    """SimHash chunk self-join keys must include the salt attribute (same
    skew policy as the LSH path), with no cartesian product."""
    from lieu_spark.operators.simhash_path import simhash_candidate_pairs

    feats = _feats(spark)  # build_features output already carries simhash
    cand = simhash_candidate_pairs(feats, CFG)
    plan = plan_of(cand)
    assert "CartesianProduct" not in plan
    key_lines = [ln for ln in plan.splitlines() if "Left keys" in ln]
    assert key_lines and any(
        "chunk" in ln and "sub" in ln for ln in key_lines
    ), key_lines


def test_assemble_single_shuffle(spark):
    tdf = corpus.generate_df(spark, 42, 30)
    conv = assemble_conversations(tdf)
    plan = plan_of(conv, "simple")
    # default path: ONE exchange — duplicate rows are dropped inside the
    # aggregation (adjacent-dedupe on the sorted array), not by a
    # separate dropDuplicates shuffle
    assert plan.count("Exchange") == 1, plan[:1500]
    assert "SortAggregate" not in plan or "ObjectHashAggregate" in plan


def test_pii_scrub_projection_no_shuffle(spark):
    """The scrub itself is a narrow Catalyst projection: no Exchange, no
    Python eval, and column pruning still reaches the scan."""
    from lieu_spark.functions import redact as R

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    c = R.pii_counts(F.col("text"))
    q = docs.select(
        "doc_id", c["email"].alias("n_emails"),
        R.redact_pii(F.col("text")).alias("redacted"),
    )
    plan = plan_of(q, "simple")
    assert "Exchange" not in plan, plan[:1500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read_schema = [ln for ln in plan_of(q).splitlines() if "ReadSchema" in ln][0]
    assert "lang" not in read_schema  # unused columns pruned


def test_cluster_representatives_agg_not_window(spark):
    """Representative selection must be the map-side-combinable struct-min
    agg — a per-cluster Window sort would serialize hot clusters and add
    an extra exchange at 100 TB."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["cluster_representatives"](spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert "Window" not in plan, plan[:2000]
    assert "partial_min" in plan or "partial" in plan, plan[:2000]


def test_doc_repetition_partial_agg(spark):
    """Bigram stats: both aggregation levels must have a map-side partial
    phase (combinable counts), and no Python eval in the plan."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["doc_repetition"](spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert "partial_count" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_modality_decoders_no_shuffle(spark):
    """The audio/video/image decode paths are embarrassingly parallel:
    one MapInPandas over the scan, NO Exchange anywhere — per-payload
    decode never forces a shuffle, which is the property that makes
    these linear at 100 TB (partition count == input splits)."""
    from lieu_spark.functions.audio import (
        decode_audio_meta,
        synthetic_audio_payloads,
    )
    from lieu_spark.functions.multimodal import (
        decode_image_metadata,
        synthetic_image_payloads,
    )
    from lieu_spark.functions.video import (
        decode_video_meta,
        extract_frames,
        synthetic_video_payloads,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    for q in (
        decode_audio_meta(synthetic_audio_payloads(docs)),
        decode_video_meta(synthetic_video_payloads(docs)),
        extract_frames(synthetic_video_payloads(docs)),
        decode_image_metadata(synthetic_image_payloads(docs), decoder="real"),
    ):
        plan = plan_of(q, "simple")
        assert "Exchange" not in plan, plan[:1500]
        assert "MapInPandas" in plan
        read_schema = [
            ln for ln in plan_of(q).splitlines() if "ReadSchema" in ln
        ][0]
        assert "text" not in read_schema  # only doc_id leaves the scan


def test_line_dedup_partial_agg_no_global_sort(spark):
    """C4 line dedup: the first-occurrence reduction must run a map-side
    partial min (hot boilerplate lines pre-reduce per map task — the
    skew IS the workload), every Exchange must be hash partitioning
    (never range), there is no corpus-wide Sort outside the final
    orderBy, and no Python eval anywhere."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["line_dedup"](spark, SF_DIR)
    plan = plan_of(df, "simple")
    assert "partial_min" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # exactly one range exchange (the presentation orderBy); every other
    # Exchange is an equi-hash shuffle
    assert plan.lower().count("rangepartitioning") <= 1, plan[:3000]


def test_dsir_plan_broadcasts_weights_no_cartesian(spark):
    """DSIR logweights scale shape: the m-row bucket-weight table
    attaches via BroadcastHashJoin (never shuffling the feature
    stream on the bucket), aggregations are hash (map-side combinable),
    the only nested-loop is the 1-row lazy totals scalar (repo
    convention for broadcast scalars), and nothing is a cartesian
    product. The final doc-level left join IS allowed to sort-merge —
    both sides are corpus-sized, which is the correct plan at scale."""
    from lieu_spark.functions.weighting import dsir_logweights

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = dsir_logweights(docs, F.pmod(F.col("doc_id"), F.lit(5)) == 0)
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    # formatted explain prints each node twice (tree + detail) — count
    # tree occurrences of the Cross node: only the 1-row totals scalar
    assert plan.count("BroadcastNestedLoopJoin Cross") <= 1


def test_bpe_token_counts_broadcast_vocab(spark):
    """Applying the learned segmentation is one broadcast join + one
    hash agg over the corpus — never a shuffle keyed on the word."""
    from lieu_spark.functions.bpe import bpe_token_counts, train_bpe

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    _, vocab = train_bpe(docs, n_merges=2)
    plan = plan_of(bpe_token_counts(docs, vocab))
    # the word->segmentation attach is the explicit broadcast; the
    # doc-level left join may sort-merge (corpus-sized both sides);
    # the only nested-loops are train_bpe's 1-row merge broadcasts
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_geo_blocking_is_shuffle_free_projection(spark):
    """Coordinate parse + geohash cells is a pure projection: the only
    Exchange in the plan is the final presentation orderBy."""
    from lieu_spark.functions.geo import geohash_cells, parse_latlon

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    p = parse_latlon(F.col("doc_id").cast("string"), F.col("doc_id").cast("string"))
    q = docs.withColumn("__p", p).select(
        "doc_id",
        geohash_cells(F.col("__p.lat"), F.col("__p.lon"), 4).alias("cells"),
    )
    plan = plan_of(q)
    assert "Exchange" not in plan, "parse+encode must not shuffle"


def test_multi_consumer_frames_are_cached_in_plan(spark):
    """End-r4 plan-shape guard: chains whose reduced frame feeds 2+
    differently-pruned consumers must show the persisted frame as an
    InMemoryRelation in the plan — Catalyst exchange reuse does NOT
    unify differently-pruned subtrees (measured on the bigram-LM chain:
    4 corpus scans, 0 ReusedExchange without the persist), so losing
    the persist silently multiplies the corpus tokenize+explode passes
    per consumer."""
    from lieu_spark.functions.analysis import bigram_lm_scores
    from lieu_spark.functions.text import tokenize
    from lieu_spark.functions.weighting import (
        dsir_logweights,
        information_gain,
        tfidf_scores,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    dt = docs.select("doc_id", tokenize(F.col("text")).alias("tokens"))

    from lieu_spark.operators.semdedup import semantic_dedup

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    for name, df in [
        ("bigram_lm", bigram_lm_scores(docs)),
        ("dsir", dsir_logweights(docs, F.pmod(F.col("doc_id"), F.lit(5)) == 0)),
        ("tfidf", tfidf_scores(dt)),
        ("information_gain", information_gain(dt)),
        ("semdedup", semantic_dedup(emb)),
    ]:
        plan = plan_of(df)
        # persist shows as InMemoryRelation; localCheckpoint (the
        # no-cache-leak variant, e.g. semdedup's ranked frame) as
        # ExistingRDD — both mean "materialized once, consumers share"
        assert (
            "InMemoryRelation" in plan
            or "InMemoryTableScan" in plan
            or "ExistingRDD" in plan
        ), (name, plan[:2000])


def test_token_budget_select_plan_no_global_sort(spark):
    """Weighted boundary-bucket selection: NO rangepartitioning of data
    anywhere (a global sort of the corpus is exactly what the recipe
    avoids), no cartesian product, the boundary scalars attach as 1-row
    broadcast cross joins (repo convention for lazy scalars), and the
    aggregate cumulations are hash aggs + tiny single-partition
    windows."""
    from lieu_spark.functions.sampling import token_budget_select

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id",
        (F.col("doc_id") % 7).alias("score"),
        (F.col("doc_id") % 20 + 1).alias("w"),
    )
    plan = plan_of(token_budget_select(docs, "doc_id", "score", "w", 5000))
    assert "rangepartitioning" not in plan.lower(), "no global sort of data"
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan
    # two boundary scalars (class + bucket), each a 1-row broadcast
    assert plan.count("BroadcastNestedLoopJoin Cross") <= 2


def test_temperature_sample_plan_broadcasts_rates(spark):
    """Temperature mixture: rates attach via BroadcastHashJoin on the
    group (never shuffling the corpus on the group key), totals are the
    1-row lazy broadcast scalar, and there is no cartesian product or
    range partitioning."""
    from lieu_spark.functions.sampling import temperature_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plan_of(temperature_sample(docs, "lang", "doc_id", 0.5, 0.4))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" not in plan.lower()
    assert plan.count("BroadcastNestedLoopJoin Cross") <= 1


def test_chunk_documents_plan_is_shuffle_free(spark):
    """Chunking is a staged-tokenize projection + one narrow Generate:
    zero Exchanges of any kind."""
    from lieu_spark.operators.chunking import chunk_documents

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    plan = plan_of(chunk_documents(docs, 32, 8))
    assert "Exchange" not in plan, "chunking must not shuffle"
    assert "Generate" in plan


def test_centroid_predict_is_broadcast_only(spark):
    """Nearest-centroid classification scale shape: with the fitted
    model materialized, scoring the corpus is a single broadcast of the
    1-row model plus codegen higher-order functions — every Exchange in
    the plan is a BroadcastExchange (no shuffle touches the corpus
    side)."""
    from lieu_spark.functions.classify import centroid_fit, centroid_predict

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    v = e.select(
        "vec_id",
        "label",
        F.transform(
            "embedding", lambda x: F.round(x.cast("double") * 1e6).cast("long")
        ).alias("v6"),
    )
    model = centroid_fit(v.filter(F.col("vec_id") % 5 != 0)).localCheckpoint()
    pred = centroid_predict(v.filter(F.col("vec_id") % 5 == 0), model)
    plan = plan_of(pred)
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") == plan.count("BroadcastExchange"), (
        "classification must not shuffle the corpus side"
    )


def test_snapshot_diff_plan_id_join_no_cartesian(spark):
    """Snapshot CDC: one full-outer equi-join on the id; the delta-side
    hash-set membership checks are equi-joins the optimizer may
    broadcast — never a cartesian product."""
    from lieu_spark.operators.diff import _diff_join, snapshot_diff

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    new = d.filter(F.col("doc_id") % 7 != 0)
    # join shape on the pre-checkpoint plan (snapshot_diff materializes
    # the join once, which replaces the visible plan with the RDD scan)
    jplan = plan_of(_diff_join(d, new, "doc_id", "text"))
    assert "FullOuter" in jplan
    plan = plan_of(snapshot_diff(d, new))
    assert "ExistingRDD" in plan  # the join is materialized ONCE
    for p in (jplan, plan):
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p


def test_tier_report_caches_reduced_grain(spark):
    """Tier report: the corpus reduces ONCE to the (sha, norm_key)
    grain and the doc-level tiers re-aggregate the cached frame; the
    only nested-loop is the 1-row raw-total percentage scalar."""
    from lieu_spark.operators.tiers import tier_report

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", F.array(F.col("text")).alias("lines")
    )
    plan = plan_of(tier_report(docs))
    # the (sha, norm_key) grain is localCheckpointed (lazy) — the
    # consumers read the materialized RDD, not the corpus agg again
    assert "ExistingRDD" in plan or "InMemoryRelation" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin Cross") <= 1


def test_refresh_dedupe_plan_shape(spark):
    """Cross-snapshot refresh scale shape: the state prunes anti-join
    the small gone set as BROADCAST anti-joins (the corpus side never
    shuffles for CDC), and nothing in the refreshed pair plan is a
    cartesian product."""
    from lieu_spark.functions import text as T
    from lieu_spark.functions.minhash import with_minhash
    from lieu_spark.operators.exact import exact_star_pairs
    from lieu_spark.operators.refresh import refresh_dedupe

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        F.col("doc_id").alias("conv_id"),
        F.col("text").alias("doc"),
        F.sha2("text", 256).alias("text_sha"),
    )

    def featurize(df):
        out = df.select("conv_id", "doc", "text_sha")
        out = out.withColumn("tokens", T.tokenize(F.col("doc")))
        out = out.withColumn("token_hashes", T.token_hashes(F.col("tokens")))
        out = out.withColumn(
            "shingle_hashes", T.shingle_hash_set(F.col("token_hashes"), CFG.shingle_k)
        )
        return with_minhash(out, CFG)

    feats = featurize(docs)
    bands = band_table(feats.filter(F.size("shingle_hashes") > 0), CFG)
    cand = candidate_pairs(bands, CFG).unionByName(
        exact_star_pairs(feats.select("conv_id", "text_sha"))
    ).dropDuplicates(["id_a", "id_b"])
    verified = verify_pairs(cand, feats, CFG)
    new = docs.filter(F.col("conv_id") % 7 != 0)
    res = refresh_dedupe(
        new, feats, bands, verified, CFG, featurize, checkpoint_state=False
    )
    plan = plan_of(res.verified)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the gone/reuse state prunes ride broadcasts; the ONLY sort-merge
    # anti-join allowed is fresh-vs-kept pair dedup (pair-scale on both
    # sides — a legitimate shuffle of the small pair tables)
    assert plan.count("SortMergeJoin LeftAnti") <= 1
    assert "LeftAnti" in plan and "BroadcastExchange" in plan


def test_soft_dedup_weights_single_exchange(spark):
    """Soft-dedup reweighting is ONE hash exchange on the cluster key
    (csize window + min-id window share the partitioning); weight and
    keep columns are pure Catalyst projections on top."""
    from lieu_spark.functions.sampling import soft_dedup_weights

    df = spark.createDataFrame(
        [(i, f"c{i % 7}") for i in range(100)], "doc_id long, ck string"
    )
    out = soft_dedup_weights(df, "ck", "doc_id")
    plan = plan_of(out, "simple")
    assert plan.count("Exchange") == 1, plan[:1500]


def test_kmv_merge_runs_on_synopses_not_raw_rows(spark):
    """The rollup's input is the O(children*k) synopsis frame; the plan
    must contain hash exchanges only (group-key windows), never a raw
    re-scan via join back to the source or a cartesian."""
    from lieu_spark.functions.sketches import kmv_merge, kmv_synopses

    df = spark.createDataFrame(
        [("g", v % 4, v) for v in range(200)], "grp string, shard int, v int"
    )
    syn = kmv_synopses(df, ["grp", "shard"], "v", k=16)
    merged = kmv_merge(syn, ["grp"], k=16)
    plan = plan_of(merged, "simple")
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    # source scanned once: createDataFrame shows as one scan op
    assert plan.count("Scan ExistingRDD") <= 1, plan[:2000]

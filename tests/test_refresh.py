"""Cross-snapshot dedupe refresh (operators/refresh.py).

The contract under test: for ANY edit mix (remove / change / rename /
add — including removing a sha group's star center and its banded
representative), the refreshed cluster map equals a from-scratch run
over the new snapshot, and only genuinely-new content is featurized.
"""

import pytest
from pyspark.sql import functions as F

from lieu_spark.config import DedupeConfig
from lieu_spark.functions import text as T
from lieu_spark.functions.minhash import with_minhash
from lieu_spark.operators.cluster import clusters_with_singletons, connected_components
from lieu_spark.operators.exact import exact_star_pairs
from lieu_spark.operators.lsh import band_table, candidate_pairs
from lieu_spark.operators.refresh import refresh_dedupe
from lieu_spark.operators.verify import dupe_pairs, verify_pairs

CFG = DedupeConfig()

# texts long enough that a one-token edit keeps shingle Jaccard >= 0.9
A = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(25))
B = " ".join(f"delta{i} eps{i} zeta{i}" for i in range(25))
C = " ".join(f"unique{i} words{i} here{i}" for i in range(25))
A_NEAR = A + " tailtok"
B_NEAR = B + " othertail"
C2 = C.replace("here3", "HERE3x")  # changed doc, still nothing's near-dup


def _convs(spark, rows):
    df = spark.createDataFrame(rows, "conv_id long, doc string")
    return df.withColumn("text_sha", F.sha2(F.col("doc"), 256))


def _featurize(df):
    out = df.select("conv_id", "doc", "text_sha")
    out = out.withColumn("tokens", T.tokenize(F.col("doc")))
    out = out.withColumn("token_hashes", T.token_hashes(F.col("tokens")))
    out = out.withColumn(
        "shingle_hashes", T.shingle_hash_set(F.col("token_hashes"), CFG.shingle_k)
    )
    return with_minhash(out, CFG)


def _scratch(convs):
    """From-scratch state over one snapshot: the parity target and the
    old-state builder (bands over ALL content rows — the stateless
    shape; refresh must also hold for rep-blocked band states, which
    the pipeline parity path covers via promotion)."""
    feats = _featurize(convs)
    content = feats.filter(F.size("shingle_hashes") > 0)
    bands = band_table(content, CFG)
    cand = (
        candidate_pairs(bands, CFG)
        .unionByName(exact_star_pairs(feats.select("conv_id", "text_sha")))
        .dropDuplicates(["id_a", "id_b"])
    )
    verified = verify_pairs(cand, feats, CFG)
    clusters = clusters_with_singletons(
        convs, connected_components(dupe_pairs(verified))
    )
    return feats, bands, verified, clusters


def _cluster_map(df):
    return sorted((r.conv_id, r.cluster_id) for r in df.collect())


SNAP1 = [
    (1, A), (2, A), (3, A),       # exact group, star center = 1
    (4, B), (5, B_NEAR),          # near-dup pair
    (6, C),                       # singleton
]
# snapshot 2: remove the group's star center AND banded rep (1);
# rename 5 -> 50 (same text); change 6; add a near-dup of A (7, must
# cluster with the orphaned survivors {2,3} — band repair) and an exact
# copy of B (8, joins {4, 50} via the shared sha)
SNAP2 = [
    (2, A), (3, A),
    (4, B), (50, B_NEAR),
    (6, C2),
    (7, A_NEAR), (8, B),
]
# snapshot 3: remove 2 (promoted rep of the A-group), add another A
SNAP3 = [
    (3, A),
    (4, B), (50, B_NEAR),
    (6, C2),
    (7, A_NEAR), (8, B), (9, A),
]


def _refresh(spark, old_rows, new_rows, state=None):
    old = _convs(spark, old_rows)
    new = _convs(spark, new_rows)
    if state is None:
        feats, bands, verified, _ = _scratch(old)
    else:
        feats, bands, verified = state
    return refresh_dedupe(new, feats, bands, verified, CFG, _featurize)


def test_refresh_matches_scratch(spark):
    res = _refresh(spark, SNAP1, SNAP2)
    _, _, _, want = _scratch(_convs(spark, SNAP2))
    assert _cluster_map(res.clusters) == _cluster_map(want)
    # the critical repairs actually happened: 7 (new near-dup of A)
    # clusters with the orphaned survivors, 8 with the B group
    got = dict(_cluster_map(res.clusters))
    assert got[7] == got[2] == got[3] == 2
    assert got[8] == got[4] == got[50] == 4
    assert got[6] == 6


def test_refresh_chains(spark):
    r2 = _refresh(spark, SNAP1, SNAP2)
    r3 = refresh_dedupe(
        _convs(spark, SNAP3), r2.features, r2.bands, r2.verified, CFG, _featurize
    )
    _, _, _, want = _scratch(_convs(spark, SNAP3))
    assert _cluster_map(r3.clusters) == _cluster_map(want)
    got = dict(_cluster_map(r3.clusters))
    assert got[9] == got[3] == got[7] == 3


def test_featurize_only_sees_new_content(spark):
    seen = []

    def spy(df):
        seen.extend(r.conv_id for r in df.select("conv_id").collect())
        return _featurize(df)

    old = _convs(spark, SNAP1)
    feats, bands, verified, _ = _scratch(old)
    res = refresh_dedupe(_convs(spark, SNAP2), feats, bands, verified, CFG, spy)
    res.clusters.count()
    # 50 is a rename of 5 and 8 duplicates B — both reuse old features
    # content-addressed; only the changed doc (6) and the brand-new
    # text (7) are ever shingled again
    assert sorted(seen) == [6, 7]


def test_whole_group_removed(spark):
    new_rows = [(4, B), (5, B_NEAR), (6, C)]
    res = _refresh(spark, SNAP1, new_rows)
    _, _, _, want = _scratch(_convs(spark, new_rows))
    assert _cluster_map(res.clusters) == _cluster_map(want)


def test_empty_delta_is_identity(spark):
    res = _refresh(spark, SNAP1, SNAP1)
    _, _, _, want = _scratch(_convs(spark, SNAP1))
    assert _cluster_map(res.clusters) == _cluster_map(want)
    assert res.delta.count() == 0


def test_returned_state_is_complete(spark):
    """features/bands in the result cover exactly the new corpus (the
    state the NEXT refresh prunes from)."""
    res = _refresh(spark, SNAP1, SNAP2)
    ids = {r.conv_id for r in res.features.select("conv_id").collect()}
    assert ids == {r[0] for r in SNAP2}
    band_ids = {r.id for r in res.bands.select("id").distinct().collect()}
    assert band_ids <= ids


def test_refresh_pipeline_parity_with_rep_blocked_state(spark, tmp_path):
    """Transcript-level parity against run_pipeline's REP-BLOCKED band
    state (one banded representative per sha group — the state shape
    where promotion repair is load-bearing): refresh from the stage
    store must equal a from-scratch pipeline run on the edited
    snapshot, through removals, renames, and changed conversations."""
    from lieu_spark import corpus
    from lieu_spark.checkpoint import StageStore
    from lieu_spark.operators.refresh import refresh_pipeline
    from lieu_spark.pipeline import run_pipeline

    t1 = corpus.generate_df(spark, 42, 120)
    store = StageStore(str(tmp_path / "s1"))
    run_pipeline(spark, t1, CFG, store=store, with_spans=False).clusters.count()

    bucket = F.abs(F.xxhash64("conv_id")) % 7
    kept = t1.filter(bucket != 0)
    renamed = kept.filter(bucket == 1).withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("_r"))
    )
    extra_turn = (
        kept.filter(bucket == 2)
        .groupBy("conv_id")
        .agg(F.max("turn_idx").alias("turn_idx"), F.max("ts").alias("ts"))
        .select(
            "conv_id",
            (F.col("turn_idx") + 1).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.lit("one appended follow-up turn").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            "ts",
        )
    )
    t2 = (
        kept.filter(bucket != 1)
        .unionByName(renamed)
        .unionByName(extra_turn.select(*kept.columns))
    )

    res = refresh_pipeline(spark, store, t2, CFG)
    want = run_pipeline(spark, t2, CFG, with_spans=False).clusters
    got_map = _cluster_map(res.clusters.select("conv_id", "cluster_id"))
    want_map = _cluster_map(want.select("conv_id", "cluster_id"))
    assert got_map == want_map
    # the edit actually exercised every path
    changes = {r.change for r in res.delta.select("change").distinct().collect()}
    assert changes == {"gone", "delta"}


def test_refresh_pipeline_pairs_simhash_family(spark, tmp_path, shuffled_copy):
    """A new snapshot adds a word-shuffled copy of a standing
    conversation — a pair only the SimHash family finds. The stored band
    state carries the chunk family, so refresh's band cross join must
    yield run_pipeline's verified row for the pair."""
    from lieu_spark.checkpoint import StageStore
    from lieu_spark.operators.refresh import refresh_pipeline
    from lieu_spark.pipeline import run_pipeline

    original, copy = shuffled_copy
    store = StageStore(str(tmp_path / "s1"))
    run_pipeline(spark, original, CFG, store=store, with_spans=False).clusters.count()
    t2 = original.unionByName(copy)

    cols = ["id_a", "id_b", "jaccard", "is_exact", "status"]
    got = refresh_pipeline(spark, store, t2, CFG).verified.select(*cols)
    want = run_pipeline(spark, t2, CFG, with_spans=False).verified.select(*cols)
    assert got.collect() == want.collect()
    assert len(want.collect()) == 1


def _refresh_incr(spark, old_rows, new_rows):
    """refresh with old_clusters supplied -> incremental CC path."""
    old = _convs(spark, old_rows)
    feats, bands, verified, old_clusters = _scratch(old)
    return refresh_dedupe(
        _convs(spark, new_rows), feats, bands, verified, CFG, _featurize,
        old_clusters=old_clusters.select("conv_id", "cluster_id"),
    )


def test_incremental_cc_matches_scratch(spark):
    res = _refresh_incr(spark, SNAP1, SNAP2)
    _, _, _, want = _scratch(_convs(spark, SNAP2))
    assert _cluster_map(res.clusters) == _cluster_map(want)
    got = dict(_cluster_map(res.clusters))
    assert got[7] == got[2] == got[3] == 2
    assert got[8] == got[4] == got[50] == 4


def test_incremental_cc_chains_and_whole_group_removed(spark):
    r2 = _refresh_incr(spark, SNAP1, SNAP2)
    r3 = refresh_dedupe(
        _convs(spark, SNAP3), r2.features, r2.bands, r2.verified, CFG,
        _featurize, old_clusters=r2.clusters.select("conv_id", "cluster_id"),
    )
    _, _, _, want = _scratch(_convs(spark, SNAP3))
    assert _cluster_map(r3.clusters) == _cluster_map(want)
    # whole-group removal through the incremental path
    new_rows = [(4, B), (5, B_NEAR), (6, C)]
    res = _refresh_incr(spark, SNAP1, new_rows)
    _, _, _, want = _scratch(_convs(spark, new_rows))
    assert _cluster_map(res.clusters) == _cluster_map(want)


def test_incremental_cc_empty_delta_identity(spark):
    res = _refresh_incr(spark, SNAP1, SNAP1)
    _, _, _, want = _scratch(_convs(spark, SNAP1))
    assert _cluster_map(res.clusters) == _cluster_map(want)


def test_incremental_cc_unaffected_clusters_skip_recompute(spark):
    """The point of the feature: an edit far from a cluster must keep
    that cluster OUT of the recomputed subgraph (assignment comes from
    the old map, bit-identical)."""
    old_rows = SNAP1
    new_rows = [
        (1, A), (2, A), (3, A),
        (4, B), (5, B_NEAR),
        (6, C2),            # only the singleton changes
    ]
    old = _convs(spark, old_rows)
    feats, bands, verified, old_clusters = _scratch(old)
    res = refresh_dedupe(
        _convs(spark, new_rows), feats, bands, verified, CFG, _featurize,
        old_clusters=old_clusters.select("conv_id", "cluster_id"),
    )
    _, _, _, want = _scratch(_convs(spark, new_rows))
    assert _cluster_map(res.clusters) == _cluster_map(want)
    got = dict(_cluster_map(res.clusters))
    assert got[1] == got[2] == got[3] == 1
    assert got[4] == got[5] == 4


def test_incremental_cc_subgraph_excludes_unaffected_pairs(spark, monkeypatch):
    """Behavioral guard for the scale claim: when the delta touches no
    dup cluster (only the singleton changes, producing no pairs), the
    incremental path must hand connected_components an EMPTY edge set —
    the A-group and B-group pairs stay out of the recompute entirely."""
    import lieu_spark.operators.refresh as R

    seen_counts = []
    real_cc = R.connected_components

    def spy(pairs):
        seen_counts.append(pairs.count())
        return real_cc(pairs)

    monkeypatch.setattr(R, "connected_components", spy)
    old_rows = SNAP1
    new_rows = [
        (1, A), (2, A), (3, A),
        (4, B), (5, B_NEAR),
        (6, C2),
    ]
    old = _convs(spark, old_rows)
    feats, bands, verified, old_clusters = _scratch(old)
    res = R.refresh_dedupe(
        _convs(spark, new_rows), feats, bands, verified, CFG, _featurize,
        old_clusters=old_clusters.select("conv_id", "cluster_id"),
    )
    got = dict(_cluster_map(res.clusters))
    assert seen_counts == [0]
    assert got[1] == got[2] == got[3] == 1 and got[4] == got[5] == 4


def test_refresh_pipeline_rejects_mismatched_config(spark, tmp_path):
    """A store written under one config must not be refreshed under
    another — silent threshold mixing becomes a hard error."""
    from lieu_spark.checkpoint import StageStore
    from lieu_spark.operators.refresh import refresh_pipeline
    from lieu_spark.pipeline import run_pipeline
    from lieu_spark import corpus

    t1 = corpus.generate_df(spark, 3, 30)
    store = StageStore(str(tmp_path / "store"))
    run_pipeline(spark, t1, CFG, store=store, with_spans=False)
    bad = DedupeConfig(threshold_review=0.42)
    with pytest.raises(ValueError, match="different DedupeConfig"):
        refresh_pipeline(spark, store, t1, bad)
    # the candidate-family toggle is a config field for exactly this
    # gate: a --no-simhash refresh of a with-simhash store is a
    # fingerprint mismatch, not a silent family mix
    off = DedupeConfig(with_simhash_path=False)
    with pytest.raises(ValueError, match="different DedupeConfig"):
        refresh_pipeline(spark, store, t1, off)


def test_refresh_pipeline_rejects_markerless_store(spark, tmp_path):
    """A features stage with no fingerprint marker (partial store copy,
    foreign tool) must be a hard error — a gate that silently skips
    itself on missing metadata is no gate."""
    import os

    from lieu_spark.checkpoint import StageStore
    from lieu_spark.operators.refresh import refresh_pipeline
    from lieu_spark.pipeline import run_pipeline
    from lieu_spark import corpus

    t1 = corpus.generate_df(spark, 3, 30)
    store = StageStore(str(tmp_path / "store"))
    run_pipeline(spark, t1, CFG, store=store, with_spans=False)
    os.remove(store._meta_path("features"))
    with pytest.raises(ValueError, match="no\\s+fingerprint marker"):
        refresh_pipeline(spark, store, t1, CFG)


def test_match_pairs_hot_cap_bounds_fanout(spark):
    """A hot canonical band group pairs each incoming row with ~cap
    members (sub-bucket rule), and capped output is a subset of the
    uncapped join; cold groups are untouched."""
    from lieu_spark.operators.lsh import match_pairs

    hot = [(f"h{i}", 0, 99) for i in range(400)]       # one hot group
    cold = [(f"c{i}", 1, 7) for i in range(5)]         # one cold group
    canon = spark.createDataFrame(hot + cold, "id string, band int, band_hash long")
    inc = spark.createDataFrame(
        [(f"i{k}", b, h) for k in range(3) for b, h in [(0, 99), (1, 7)]],
        "id string, band int, band_hash long",
    )
    full = match_pairs(canon, inc, CFG)
    capped = match_pairs(canon, inc, CFG, hot_cap=50)
    fset = {(r.canonical_id, r.incoming_id) for r in full.collect()}
    cset = {(r.canonical_id, r.incoming_id) for r in capped.collect()}
    assert cset <= fset
    # cold group: all 5x3 pairs survive the cap
    assert {(c, i) for (c, i) in cset if c.startswith("c")} == {
        (f"c{j}", f"i{k}") for j in range(5) for k in range(3)
    }
    # hot group: per-incoming fanout is ~cap (one sub-bucket of 8),
    # never the full 400
    per_inc = {}
    for c, i in cset:
        if c.startswith("h"):
            per_inc[i] = per_inc.get(i, 0) + 1
    assert per_inc and all(n < 120 for n in per_inc.values()), per_inc


def test_match_pairs_broadcast_composes_with_hot_cap(spark):
    """broadcast_incoming=True + hot_cap together (the streaming-ingest
    shape, r4 deferred trap): the canonical side must flow through
    broadcast hash joins only — zero SortMergeJoin / zero wide-side
    shuffle — AND produce exactly the same pairs as the non-broadcast
    capped join (the hint is a physical annotation, never semantics)."""
    from lieu_spark.operators.lsh import match_pairs

    hot = [(f"h{i}", 0, 99) for i in range(400)]
    cold = [(f"c{i}", 1, 7) for i in range(5)]
    canon = spark.createDataFrame(hot + cold, "id string, band int, band_hash long")
    inc = spark.createDataFrame(
        [(f"i{k}", b, h) for k in range(3) for b, h in [(0, 99), (1, 7)]],
        "id string, band int, band_hash long",
    )
    plain = match_pairs(canon, inc, CFG, hot_cap=50)
    bcast = match_pairs(canon, inc, CFG, hot_cap=50, broadcast_incoming=True)
    pset = {(r.canonical_id, r.incoming_id) for r in plain.collect()}
    bset = {(r.canonical_id, r.incoming_id) for r in bcast.collect()}
    assert bset == pset
    plan = bcast._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # every join (sizes prune, both size joins, the outer keys+sub
    # join) broadcasts the small side — the canonical side is never
    # sort-merge- or shuffled-hash-joined (the only hashpartitioning
    # exchange left is match_pairs' dropDuplicates over the BOUNDED
    # pair output)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_refresh_simhash_autodetect(spark):
    """Banding emits the SimHash family only for features that carry a
    simhash column: CFG has the family ON, but the test featurize emits
    no simhash column -> its bands lack the family, and the refresh
    must reproduce the family-off config's result."""
    old = _convs(spark, SNAP1)
    feats, bands, verified, _ = _scratch(old)
    assert "simhash" not in feats.columns
    auto = refresh_dedupe(
        _convs(spark, SNAP2), feats, bands, verified, CFG, _featurize
    )
    off = refresh_dedupe(
        _convs(spark, SNAP2), feats, bands, verified,
        DedupeConfig(with_simhash_path=False), _featurize,
    )
    assert _cluster_map(auto.clusters) == _cluster_map(off.clusters)


def test_refresh_correct_with_broadcast_hints_off(spark, monkeypatch):
    """Mass-removal regime: when the CDC count exceeds the cap the
    broadcast hints switch off — the plan degrades to shuffle joins but
    the refreshed clusters must still match scratch exactly."""
    import lieu_spark.operators.refresh as R

    monkeypatch.setattr(R, "REFRESH_BROADCAST_CAP", 0)
    res = _refresh(spark, SNAP1, SNAP2)
    _, _, _, want = _scratch(_convs(spark, SNAP2))
    assert _cluster_map(res.clusters) == _cluster_map(want)
